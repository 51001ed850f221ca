package graft.plans

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

import graft.catalog.VecDB
import graft.functions.{VecDistance, VecDistanceKind}
import graft.operators.Knn

/** Per-query search-beam hint for the SQL top-k rewrite: an identity
  * passthrough over the distance expression that carries a foldable `ef`.
  * `ORDER BY graft_topk_ef(vec_l2sq(vec, q), 180) LIMIT k` serves exactly
  * like the bare distance sort — same value, same nullability, codegen
  * delegates to the child — but [[GraftSqlTopK.VecTopKRewrite]] reads the
  * `ef` off the sort key, so two concurrent SQL queries can run at
  * different recall points without fighting over the session-global
  * `graft.sql.topk.ef` conf (which remains the fallback; the hint wins).
  * Left unrewritten (unregistered table, guard declines) the expression
  * still evaluates correctly as the plain distance. */
case class TopKEf(child: Expression, efExpr: Expression)
    extends Expression {
  override def children: Seq[Expression] = Seq(child, efExpr)
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = child.foldable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val efIntegral = efExpr.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!efExpr.foldable || !efIntegral)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_topk_ef: the ef argument must be a foldable integer")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), efExpr = newChildren(1))

  override def prettyName: String = "graft_topk_ef"
}

/** Index-backed SQL top-k rewrite (SURVEY §7.3): a `Rule[LogicalPlan]`
  * serving two shapes over REGISTERED vector tables.
  *
  * '''Single-query''' —
  * {{{ SELECT …, vec_l2sq(vec, array(…)) AS d FROM t ORDER BY d LIMIT k }}}
  * the rule runs the engine's KNN search on the driver (k winners — the
  * same driver-eager shape as a DPP subquery), then takes one of two paths:
  *  - '''Local answer''': when a catalog table's search walked its
  *    driver-resident HNSW graphs ([[VecDB.searchTopK]]), the winners come
  *    back as full table rows (vec from the graphs walked, meta from the
  *    part-file cache). The rule evaluates the retained Filter, Project and
  *    Sort over those ≤ k rows on the driver (interpreted, as Spark's
  *    `ConvertToLocalRelation` does), takes k, and replaces the whole
  *    `GlobalLimit` subtree with a local relation of the answer: no table
  *    scan, and `collect()` launches no Spark job. The reference answers
  *    the same query from its in-memory index (`HNSWIndex::search`).
  *  - '''Prune''': everywhere else — a registered DataFrame, a table
  *    served beyond the broadcast gate (routed or pinned HNSW, IVF, SQ/BQ,
  *    PQ flat), or a retained expression that is nondeterministic or not
  *    evaluable interpreted — the winner ids are spliced back as an
  *    `id IN (…)` filter directly above the scanned relation, leaving the
  *    original Project/Sort/Limit on top of the pruned k-row input. For a
  *    natively-long id column the `IN` reaches the parquet scan as a
  *    pushed filter (row-group pruning).
  * Either way output attributes, ordering and schema are untouched: the
  * full-table distance sort is replaced by the engine's bounded top-k (or
  * index) search.
  *
  * '''Batch (per-query-row)''' — the lateral shape every pipeline actually
  * runs (the reference analog: the bench harness's query sweep,
  * `/root/reference/examples/bench.rs:409-417`), expressed in SQL as a
  * rank-over-join:
  * {{{
  * SELECT … FROM (
  *   SELECT q.qid, t.id, vec_l2sq(t.vec, q.qvec) AS d,
  *          row_number() OVER (PARTITION BY q.qid
  *                             ORDER BY vec_l2sq(t.vec, q.qvec), t.id) rn
  *   FROM queries q JOIN t) WHERE rn <= k
  * }}}
  * The rule executes the query side (bounded — see below), runs the
  * engine's BATCH search, and splices `t.id IN (union of all winners)`
  * above the vector-table leaf inside the join. Every query's true top-k
  * ids are in the union, so the retained Window + rank-filter recomputes
  * the per-query answer over nq·k rows instead of nq·N — the cross join
  * collapses from O(nq·N) distance evaluations to O(nq²·k). Row-number
  * only (rank/dense_rank can legitimately return >k rows on ties, which a
  * k-bounded search cannot serve); the optional second sort key must be
  * the table's id (the search's own tie-break).
  *
  * Two registration flavors:
  *  - [[GraftSqlTopK.registerDataFrame]]: any (id, vec, …) DataFrame; the
  *    rewrite serves the EXACT bounded top-k scan
  *    ([[graft.operators.Knn.exactBroadcast]]) — value-identical to the
  *    `ORDER BY … LIMIT` it replaces (ties broken (distance, id)), so it
  *    is safe by default and DuckDB-oracle-able (`q_sql_topk`).
  *  - [[GraftSqlTopK.registerTable]]: a [[graft.catalog.VecDB]] table; the
  *    rewrite dispatches through the catalog's search ([[VecDB.searchTopK]]
  *    for the single shape, [[VecDB.searchBatch]] for the batch) — the
  *    index arms engage per the catalog's dispatch matrix. Search beam: a
  *    [[TopKEf]] hint on the sort key wins, else the session conf
  *    `graft.sql.topk.ef`, else the table's default dispatch.
  *
  * Matching survives the optimizer's view inlining and Project collapse:
  * the registered DataFrame's optimized plan is reduced to (single leaf
  * relation, vec-producing expression, id-producing expression), and a
  * candidate matches when its scanned leaf `sameResult`s the registered
  * leaf and the sort key is this engine's [[graft.functions.VecDistance]]
  * between that vec expression and the query side (attributes remapped by
  * position, so a separately re-read table with fresh exprIds still
  * matches). Registrations are tried in turn and the first whose metric
  * matches the sort key's distance kind serves — registering one table
  * under several metrics cannot mask a serviceable entry.
  *
  * A catalog registration records the table's (created, version, nextId)
  * stamp. A view keeps the file listing it was created with, while the
  * search reads the catalog's current rows, so once an append, delete or
  * recreate moves the stamp the rewrite declines (both shapes) and the
  * query runs unrewritten over the view's own snapshot until the table is
  * registered again.
  *
  * Scope guards (no rewrite, never a wrong result): single ASC sort key
  * whose distance kind matches the registered metric; a NULL /
  * null-element query vector declines; a nullable table vec/id keeps its
  * null rows through an IS NULL escape in the spliced prune (see
  * `pruneCond` — ASC defaults to NULLS FIRST, so null distances
  * legitimately precede the search's winners). A `WHERE` between
  * sort and scan disables the single-query rewrite (top-k of a filtered
  * set ≠ filtered top-k) — EXCEPT a distance upper bound on the sort key
  * itself (`WHERE vec_l2sq(vec, q) <= ub …`, the engine's P3 surface):
  * such rows are a prefix of the distance order, so the global top-k prune
  * stays a superset of the answer and the retained Filter re-applies the
  * bound. `LIMIT k` ≤ `graft.sql.topk.maxK` (default 10k); the batch shape
  * bounds nq·k by the same conf (the spliced id list is
  * driver-materialized either way — a query side larger than maxK/k rows
  * declines). A rewritten child nests Filter above the leaf, which both
  * matchers reject on re-entry, so the fixed-point optimizer batch
  * terminates.
  */
object GraftSqlTopK {

  /** conf key: max LIMIT (single) / max nq·k (batch) the rewrite will
    * serve — the spliced id list is driver-resident. */
  val MaxKConf = "graft.sql.topk.maxK"
  /** conf key: ef for catalog-dispatched (registerTable) searches; a
    * [[TopKEf]] sort-key hint overrides it per query. */
  val EfConf = "graft.sql.topk.ef"

  /** A registration: the matched leaf and its vec/id expressions, the
    * metric, the two searches, and whether the registered plan still reads
    * what the search reads (`current`). */
  private[plans] case class Entry(
      leaf: LogicalPlan,
      vecExpr: Expression,
      idExpr: Expression,
      dist: String,
      search: (SparkSession, Array[Float], Int, Option[Int]) => VecDB.Winners,
      searchBatch: (SparkSession, DataFrame, Int, Option[Int]) => DataFrame,
      current: () => Boolean)

  private val registry = TrieMap.empty[String, Entry]
  // weak set: enabling the rule must not pin a closed SparkSession
  private val enabled = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Add the rewrite rule to `spark.experimental.extraOptimizations` and
    * register the [[TopKEf]] SQL hint (idempotent per session). */
  def enable(spark: SparkSession): Unit = synchronized {
    if (enabled.add(spark)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ VecTopKRewrite
    }
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_topk_ef",
      exprs => {
        if (exprs.length != 2)
          throw new IllegalArgumentException(
            s"graft_topk_ef requires exactly 2 arguments (got ${exprs.length})")
        TopKEf(exprs(0), exprs(1))
      },
      "built-in")
  }

  /** Register a plain (id, vec, …) DataFrame under `name`; rewrites serve
    * the exact bounded top-k scan. Null vec/id rows are dropped from the
    * SEARCH side — the spliced prune retains them via its IS NULL escape
    * (`pruneCond`), so the final sort still orders them per the query's
    * null ordering. Re-registering a name replaces it. */
  def registerDataFrame(name: String, df: DataFrame, dist: String): Unit = {
    def searchable: DataFrame =
      df.select("id", "vec").na.drop(Seq("id", "vec"))
    registry(name) = mkEntry(df, dist,
      (spark, q, k, _) => VecDB.Winners(
        Knn.exactBroadcast(searchable, queryDf(spark, q), k, dist)
          .select("id").collect().map(_.getLong(0)), None, "flat_broadcast"),
      (_, qdf, k, _) =>
        Knn.exactBroadcast(searchable, qdf, k, dist),
      () => true)
  }

  /** Register a catalog table; rewrites dispatch through the catalog's
    * search ([[VecDB.searchTopK]], [[VecDB.searchBatch]]: index arms
    * engage; [[TopKEf]] hint else `graft.sql.topk.ef`). The table's stamp
    * is recorded here: once an append, delete or recreate moves it, the
    * registered plan reads an older file listing than the search, and the
    * rewrite declines until the table is registered again. */
  def registerTable(name: String, db: VecDB, key: String): Unit = {
    def efOf(spark: SparkSession, hint: Option[Int]): Option[Int] =
      hint.orElse(spark.conf.getOption(EfConf).map(_.toInt))
    val stamp = db.tableStamp(key)
    registry(name) = mkEntry(db.table(key), db.getDist(key),
      (spark, q, k, hint) => db.searchTopK(key, q, k, efOf(spark, hint)),
      (spark, qdf, k, hint) =>
        db.searchBatch(key, qdf, k, ef = efOf(spark, hint)),
      () => scala.util.Try(db.tableStamp(key)).toOption.contains(stamp))
  }

  def unregister(name: String): Unit = registry.remove(name)
  def unregisterAll(): Unit = registry.clear()

  /** Reduce a registrable DataFrame to (leaf, vec expr, id expr): the plan
    * must be a plain projection over a single relation so the optimizer's
    * Project collapse cannot take a query out of matching range. */
  private def mkEntry(df: DataFrame, dist: String,
      search: (SparkSession, Array[Float], Int, Option[Int]) => VecDB.Winners,
      searchBatch: (SparkSession, DataFrame, Int, Option[Int]) => DataFrame,
      current: () => Boolean): Entry = {
    def sourceExpr(pl: Seq[NamedExpression], col: String): Expression =
      pl.collectFirst {
        case a: Alias if a.name == col => a.child
        case ar: AttributeReference if ar.name == col => ar
      }.getOrElse(throw new IllegalArgumentException(
        s"registered DataFrame must expose a '$col' column"))
    df.queryExecution.optimizedPlan match {
      case Project(pl, leaf: LeafNode) =>
        Entry(leaf, sourceExpr(pl, "vec"), sourceExpr(pl, "id"), dist,
          search, searchBatch, current)
      case leaf: LeafNode =>
        Entry(leaf, sourceExpr(leaf.output, "vec"),
          sourceExpr(leaf.output, "id"), dist, search, searchBatch, current)
      case other => throw new IllegalArgumentException(
        "registered DataFrame must be a plain projection over a single " +
          s"relation; got ${other.nodeName}")
    }
  }

  private def queryDf(spark: SparkSession, q: Array[Float]): DataFrame = {
    val schema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("query_vec", ArrayType(FloatType, containsNull = false),
        nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(Row(0L, q.toSeq)), schema)
  }

  /** table dist name → [[VecDistanceKind]] accepted in the sort key */
  private def kindFor(dist: String): Option[String] = dist match {
    case "l2sqr" => Some(VecDistanceKind.L2Sq)
    case "cosine" => Some(VecDistanceKind.Cosine)
    case _ => None
  }

  object VecTopKRewrite extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (registry.isEmpty) return plan
      plan.transformDown {
        case gl @ GlobalLimit(IntegerLiteral(k),
            ll @ LocalLimit(_, sort: Sort))
            if k > 0 && sort.global && sort.order.length == 1 &&
              sort.order.head.direction == Ascending =>
          rewrite(gl, ll, sort, k).getOrElse(gl)
        case f @ Filter(_, w: Window) =>
          rewriteBatch(f, w).getOrElse(f)
      }
    }

    /** The registrations over `leaf` whose plan still reads what their
      * search reads. */
    private def entriesOver(leaf: LogicalPlan): Iterable[Entry] =
      registry.values.filter(e => leaf.sameResult(e.leaf) && e.current())

    private def maxK(spark: SparkSession): Int =
      spark.conf.getOption(MaxKConf).map(_.toInt).getOrElse(10000)

    /** Unwrap a [[TopKEf]] hint anywhere in the sort key: (ef hint, and the
      * key with hints erased is NOT needed — VecDistance is found by
      * collect, which traverses through the wrapper). */
    private def efHintIn(e: Expression): Option[Int] = e.collectFirst {
      case TopKEf(_, IntegerLiteral(ef)) if ef > 0 => ef
    }

    private def rewrite(gl: GlobalLimit, ll: LocalLimit, sort: Sort,
        k: Int): Option[LogicalPlan] = {
      val spark = SparkSession.active
      if (k > maxK(spark)) return None
      // a Filter is in scope ONLY when its condition is an upper bound on
      // the sort key itself (`WHERE vec_l2sq(vec, q) <= ub ORDER BY … ` —
      // the engine's P3 distance-bound surface): rows passing such a
      // filter are a PREFIX of the distance order, so the filtered top-k
      // is always ⊆ the global top-k and the spliced id set stays a
      // superset of the true answer — the original Filter, left in place,
      // re-applies the bound. Any other predicate makes filtered-top-k ≠
      // top-k-filtered and declines the rewrite.
      val (projOpt, filterOpt, rel) = sort.child match {
        case p @ Project(_, f @ Filter(_, r: LeafNode)) => (Some(p), Some(f), r)
        case p @ Project(_, r: LeafNode) => (Some(p), None, r)
        case f @ Filter(_, r: LeafNode) => (None, Some(f), r)
        case r: LeafNode => (None, None, r)
        case _ => return None // Join/other below the sort: out of scope
      }
      // resolve the sort key to a distance expression: either an alias
      // defined in the Project, or the expression itself
      val distExpr = sort.order.head.child match {
        case a: AttributeReference =>
          projOpt.flatMap(_.projectList.collectFirst {
            case al @ Alias(ex, _) if al.exprId == a.exprId => ex
          })
        case ex => Some(ex)
      }
      val efHint = distExpr.flatMap(efHintIn)
      // all registered entries over this scan, tried in turn: a
      // metric-mismatched sibling registration must not mask a
      // serviceable one
      entriesOver(rel).view.flatMap { e =>
        // remap the registered vec/id expressions onto this scan's
        // attributes by position (sameResult ⇒ same schema order; exprIds
        // may differ when the table was re-read independently)
        val remap = AttributeMap(e.leaf.output.zip(rel.output))
        def remapped(ex: Expression): Expression = ex.transform {
          case a: AttributeReference => remap.getOrElse(a, a)
        }
        val vecExpr = remapped(e.vecExpr)
        val idExpr = remapped(e.idExpr)
        distExpr.toSeq.flatMap(_.collect {
          case de @ VecDistance(l, r, kind) if kindFor(e.dist).contains(kind) =>
            if (l.semanticEquals(vecExpr) && r.foldable) Some((de, r))
            else if (r.semanticEquals(vecExpr) && l.foldable) Some((de, l))
            else None
        }.flatten.filter { case (de, _) =>
          // with a WHERE present, it must be `dist ≤/< literal` on the
          // same distance expression (prefix-of-sort-order argument above)
          filterOpt.forall(_.condition match {
            case LessThanOrEqual(c, _: Literal) => c.semanticEquals(de)
            case LessThan(c, _: Literal) => c.semanticEquals(de)
            case GreaterThanOrEqual(_: Literal, c) => c.semanticEquals(de)
            case GreaterThan(_: Literal, c) => c.semanticEquals(de)
            case _ => false
          })
        }.flatMap { case (_, qExpr) =>
          // a NULL literal / null-element query vector: the query was
          // legal without the rewrite (null distance sorts first) — fall
          // back rather than throw
          evalQueryVector(qExpr).map { qvec =>
            val won = e.search(spark, qvec, k, efHint)
            won.rows.flatMap(answerLocally(rel, filterOpt, projOpt, sort, k, _))
                .map(LocalRelation(gl.output, _)).getOrElse {
              val pruned = Filter(pruneCond(idExpr, vecExpr, won.ids), rel)
              val bounded = filterOpt match {
                case Some(f) => f.withNewChildren(Seq(pruned))
                case None => pruned
              }
              val newChild = projOpt match {
                case Some(p) => p.withNewChildren(Seq(bounded))
                case None => bounded
              }
              gl.withNewChildren(Seq(ll.withNewChildren(
                Seq(sort.withNewChildren(Seq(newChild))))))
            }
          }
        })
      }.headOption
    }

    /** The single-query answer evaluated on the driver over the winners'
      * table rows (in `rel`'s column order): the retained Filter and
      * Project with interpreted predicate and projection, as Spark's
      * `ConvertToLocalRelation` does over local rows, then the Sort with an
      * interpreted ordering, stable so equal keys keep the search's
      * (distance, id) order, then the first k. None, for the prune path,
      * when a retained expression is nondeterministic or not evaluable
      * interpreted, or evaluation throws. */
    private def answerLocally(rel: LeafNode, filterOpt: Option[Filter],
        projOpt: Option[Project], sort: Sort, k: Int,
        rows: Array[Row]): Option[Seq[InternalRow]] = {
      val exprs = filterOpt.map(_.condition).toSeq ++
        projOpt.toSeq.flatMap(_.projectList) ++ sort.order.map(_.child)
      if (exprs.exists(x => !x.deterministic ||
          ConvertToLocalRelation.hasUnevaluableExpr(x))) return None
      try {
        val toRow = CatalystTypeConverters.createToCatalystConverter(
          StructType(rel.output.map(a => StructField(a.name, a.dataType, a.nullable))))
        var in = rows.map(r => toRow(r).asInstanceOf[InternalRow])
        filterOpt.foreach { f =>
          val p = Predicate.createInterpreted(
            BindReferences.bindReference(f.condition, rel.output))
          p.initialize(0)
          in = in.filter(p.eval)
        }
        val out = projOpt.fold(in) { p =>
          val proj = new InterpretedMutableProjection(p.projectList, rel.output)
          proj.initialize(0)
          in.map(r => proj(r).copy())
        }
        Some(out.sorted(new InterpretedOrdering(sort.order, sort.child.output))
          .take(k).toSeq)
      } catch { case NonFatal(_) => None }
    }

    // ----------------------------------------------------- batch shape

    /** `WHERE row_number() OVER (PARTITION BY qid ORDER BY dist[, id]) <= k`
      * over an unconditioned Inner/Cross join of a query-side plan and a
      * registered vector table. See the object scaladoc for the shape and
      * the superset argument. */
    private def rewriteBatch(f: Filter, w: Window): Option[LogicalPlan] = {
      val spark = SparkSession.active
      // rank filter: rn <= k / rn < k+1 over this window's single
      // row_number output
      val (rnAttr, k) = f.condition match {
        case LessThanOrEqual(a: AttributeReference, IntegerLiteral(kk)) => (a, kk)
        case LessThan(a: AttributeReference, IntegerLiteral(kk)) => (a, kk - 1)
        case GreaterThanOrEqual(IntegerLiteral(kk), a: AttributeReference) => (a, kk)
        case GreaterThan(IntegerLiteral(kk), a: AttributeReference) => (a, kk - 1)
        case _ => return None
      }
      if (k <= 0 || w.windowExpressions.length != 1) return None
      w.windowExpressions.head match {
        // row_number ONLY: rank/dense_rank may return >k rows on ties,
        // which a k-bounded search cannot serve
        case al @ Alias(WindowExpression(_: RowNumber, _), _)
            if al.exprId == rnAttr.exprId => ()
        case _ => return None
      }
      if (w.partitionSpec.length != 1) return None
      if (w.orderSpec.isEmpty || w.orderSpec.length > 2 ||
          w.orderSpec.head.direction != Ascending) return None

      // between the Window and the Join: only Project / WindowGroupLimit
      // (what the optimizer inserts for this shape) — anything else is out
      // of scope. Exactly one Join, inner/cross, no condition.
      var joinOpt: Option[Join] = None
      def pathOk(p: LogicalPlan): Boolean = p match {
        case j: Join => joinOpt = Some(j); true
        case pr: Project => pathOk(pr.child)
        case wgl: WindowGroupLimit => pathOk(wgl.child)
        case _ => false
      }
      if (!pathOk(w.child)) return None
      val join = joinOpt.get
      join.joinType match {
        case Inner | Cross => ()
        case _ => return None
      }
      if (join.condition.nonEmpty) return None

      // aliases defined BETWEEN the window and the join (the Project
      // computing `d`/`_w1`): resolve window partition/order keys through
      // them — and ONLY them. Join-side projections are resolved later,
      // per side: digging through the QUERY side's aliases here would
      // rewrite its references to attributes below its own output and
      // break the which-side-does-this-key-belong-to check.
      def pathProjList(p: LogicalPlan): Seq[NamedExpression] = p match {
        case _: Join => Seq.empty
        case pr: Project => pr.projectList ++ pathProjList(pr.child)
        case wgl: WindowGroupLimit => pathProjList(wgl.child)
        case _ => Seq.empty
      }
      val pathAliases = pathProjList(w.child)
        .collect { case a: Alias => a.exprId -> a.child }.toMap
      val orderKey = chase(w.orderSpec.head.child, pathAliases)
      val partKey = chase(w.partitionSpec.head, pathAliases)
      val tieKey = if (w.orderSpec.length == 2)
        Some(chase(w.orderSpec(1).child, pathAliases)) else None
      val efHint = efHintIn(orderKey)

      def leafOf(p: LogicalPlan): Option[LeafNode] = p match {
        case l: LeafNode => Some(l)
        case Project(_, l: LeafNode) => Some(l)
        case _ => None
      }
      // try each join side as the vector table; the other side is the
      // query side (any executable plan)
      Seq((join.left, join.right), (join.right, join.left)).view.flatMap {
        case (vecSide, qSide) =>
          leafOf(vecSide).toSeq.flatMap { vecLeaf =>
            entriesOver(vecLeaf).flatMap { e =>
              tryBatch(spark, f, w, vecSide, vecLeaf, qSide, e, orderKey,
                partKey, tieKey, k, efHint)
            }
          }
      }.headOption
    }

    /** Substitute alias definitions into `e`, chasing chains (bounded). */
    private def chase(e: Expression,
        aliasMap: Map[ExprId, Expression]): Expression = {
      var cur = e
      var i = 0
      var changed = true
      while (changed && i < 8) {
        val r = cur.transformUp {
          case ar: AttributeReference if aliasMap.contains(ar.exprId) =>
            aliasMap(ar.exprId)
        }
        changed = !r.fastEquals(cur)
        cur = r
        i += 1
      }
      cur
    }

    private def tryBatch(spark: SparkSession, f: Filter, w: Window,
        vecSide: LogicalPlan, vecLeaf: LeafNode, qSide: LogicalPlan, e: Entry,
        orderKey0: Expression, partKey: Expression,
        tieKey0: Option[Expression], k: Int,
        efHint: Option[Int]): Option[LogicalPlan] = {
      val remap = AttributeMap(e.leaf.output.zip(vecLeaf.output))
      def remapped(ex: Expression): Expression = ex.transform {
        case a: AttributeReference => remap.getOrElse(a, a)
      }
      val vecExpr = remapped(e.vecExpr)
      val idExpr = remapped(e.idExpr)
      // this side's own projection aliases (id/vec renames over the leaf):
      // the path-resolved keys still reference them
      val vecAliases = vecSide match {
        case Project(pl, _) =>
          pl.collect { case a: Alias => a.exprId -> a.child }.toMap
        case _ => Map.empty[ExprId, Expression]
      }
      val orderKey = chase(orderKey0, vecAliases)
      // partition key must be an integral drawn from the query side only.
      // Nullability is checked on the collected ROWS below, not the static
      // type — parquet scans type every column nullable, and a decline
      // here would switch the rewrite off for every parquet query table.
      val partIntegral = partKey.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      if (!partIntegral || partKey.references.isEmpty ||
          !partKey.references.subsetOf(qSide.outputSet)) return None
      // the optional tie-break must be the table's own id ASC — the order
      // the search itself breaks ties in
      if (w.orderSpec.length == 2) {
        if (w.orderSpec(1).direction != Ascending ||
            !tieKey0.exists(t => chase(t, vecAliases).semanticEquals(idExpr)))
          return None
      }
      // the sort key must be the registered distance between the table's
      // vec and a non-nullable query-side vector expression
      val qv = orderKey.collect {
        case VecDistance(l, r, kind) if kindFor(e.dist).contains(kind) =>
          if (l.semanticEquals(vecExpr) &&
              r.references.nonEmpty &&
              r.references.subsetOf(qSide.outputSet)) Some(r)
          else if (r.semanticEquals(vecExpr) &&
              l.references.nonEmpty &&
              l.references.subsetOf(qSide.outputSet)) Some(l)
          else None
      }.flatten
      if (qv.length != 1) return None
      val qvecExpr0 = qv.head
      val qvecExpr = qvecExpr0.dataType match {
        case ArrayType(FloatType, _) => qvecExpr0
        case ArrayType(DoubleType, cn) =>
          Cast(qvecExpr0, ArrayType(FloatType, containsNull = cn))
        case _ => return None
      }

      // execute the query side (bounded: nq·k ≤ maxK — the id union is
      // driver-resident like the single shape's winner list)
      val lim = maxK(spark)
      val maxNq = math.max(1, lim / k)
      val qplan = Project(Seq(
        Alias(Cast(partKey, LongType), "query_id")(),
        Alias(qvecExpr, "query_vec")()), qSide)
      val taken = try {
        ColumnShim.ofRows(spark, qplan).limit(maxNq + 1).collect()
      } catch { case NonFatal(_) => return None }
      if (taken.length > maxNq || taken.isEmpty) return None
      // an actually-null query id / vector / element would need the
      // mixed-null window semantics the search cannot serve — decline on
      // DATA, not on the (always-nullable for parquet) static type
      if (taken.exists(r => r.isNullAt(0) || r.isNullAt(1) ||
          r.getSeq[Any](1).contains(null))) return None
      val schema = StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("query_vec", ArrayType(FloatType, containsNull = false),
          nullable = false)))
      val qdf = spark.createDataFrame(
        java.util.Arrays.asList(taken: _*), schema)
      // the winners are driver-sized (≤ nq·k): dedupe without a Spark job
      val ids = e.searchBatch(spark, qdf, k, efHint)
        .select("id").collect().map(_.getLong(0)).distinct
      if (ids.isEmpty) return None
      // splice the union prune above the vector leaf (reference identity:
      // a self-join registering both sides must touch only this side)
      var done = false
      val newChild = w.child.transformUp {
        case l: LeafNode if !done && (l eq vecLeaf) =>
          done = true
          Filter(pruneCond(idExpr, vecExpr, ids), l)
      }
      if (!done) None
      else Some(f.withNewChildren(Seq(w.withNewChildren(Seq(newChild)))))
    }

    /** The spliced prune predicate. `idExpr IN (winners)`, plus an IS NULL
      * escape per nullable input: Spark's ASC default is NULLS FIRST, so a
      * null-vec row's null distance legitimately sorts AHEAD of every
      * search winner — pruning it away would silently change results on
      * tables that actually contain nulls (nullable-TYPED columns are the
      * norm: every parquet scan is). Retaining `vec IS NULL` (⇔ null
      * distance — the query vector is known non-null) and `id IS NULL`
      * rows keeps the pruned set a superset of anything the original
      * Sort/Limit (or rank filter) could return, under either null
      * ordering, while still cutting the non-null scan to the winner set.
      */
    private def pruneCond(idExpr: Expression, vecExpr: Expression,
        ids: Array[Long]): Expression = {
      var c: Expression = idIn(idExpr, ids)
      if (vecExpr.nullable) c = Or(c, IsNull(vecExpr))
      if (idExpr.nullable) c = Or(c, IsNull(idExpr))
      c
    }

    /** `idExpr IN (ids…)`, unwrapping a widening int→long cast so the
      * predicate lands on the bare column and reaches the parquet scan
      * (the ids came from the table, so they fit the narrow type). */
    private def idIn(idExpr: Expression, ids: Array[Long]): Expression =
      idExpr match {
        case Cast(a: AttributeReference, LongType, _, _)
            if a.dataType == IntegerType =>
          In(a, ids.toIndexedSeq.map(i => Literal(i.toInt)))
        case ex =>
          In(ex, ids.toIndexedSeq.map(Literal(_)))
      }

    /** Fold the query-vector expression; None (→ no rewrite) on a null
      * value, null elements, non-array types, or an eval throw — all cases
      * where the unrewritten query executes fine and the rewrite must not
      * turn it into a planning failure. */
    private def evalQueryVector(q: Expression): Option[Array[Float]] = {
      val v = try q.eval(InternalRow.empty) catch { case NonFatal(_) => null }
      v match {
        case null => None
        case arr: org.apache.spark.sql.catalyst.util.ArrayData =>
          var i = 0
          var ok = true
          while (ok && i < arr.numElements()) {
            if (arr.isNullAt(i)) ok = false
            i += 1
          }
          if (!ok) None
          else q.dataType match {
            case ArrayType(FloatType, _) => Some(arr.toFloatArray())
            case ArrayType(DoubleType, _) =>
              Some(arr.toDoubleArray().map(_.toFloat))
            case _ => None
          }
        case _ => None
      }
    }
  }
}
