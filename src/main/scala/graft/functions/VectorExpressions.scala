package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** Distance kinds supported by the engine.
  *
  * Mirrors the reference's `DistanceAlgorithm` enum (L2Sqr, Cosine — see
  * `/root/reference/src/distance/mod.rs:17-28`) plus the dot-product /
  * norm primitives it is built from (`/root/reference/src/distance/mod.rs:46-85`).
  */
object VecDistanceKind {
  val Dot = "dot"
  val L2Sq = "l2sq"
  val Cosine = "cosine"
  val all: Seq[String] = Seq(Dot, L2Sq, Cosine)
}

/** Codegen'd binary vector distance over two vector columns, accumulating
  * in double. Stays inside whole-stage codegen (a tight scalar loop, no
  * intermediate arrays — unlike `aggregate(zip_with(...))`).
  *
  * Accepted operand types (mix freely):
  *  - `array<float>` / `array<double>` — the engine's standard column;
  *  - `binary` — a FIXED-WIDTH little-endian f32 image of the vector
  *    (length = 4 × dim), the r20 rerank-base layout: parquet decodes one
  *    byte blob per row (a single copy) where `array<float>` pays
  *    per-element assembly, the measured bound of the float-heavy rerank
  *    rows (r20 decode timing). Reads go through Platform.getFloat —
  *    alignment-free and little-endian on every supported JVM target.
  *
  * Semantics replicated from the reference:
  *  - dot: Σ aᵢ·bᵢ (`/root/reference/src/distance/mod.rs:71-77`)
  *  - l2sq: Σ (aᵢ−bᵢ)² (`/root/reference/src/distance/mod.rs:51`)
  *  - cosine: 1 − dot/max(‖a‖·‖b‖, 1e-10), range [0,2] — note the 1e-10
  *    clamp (`/root/reference/src/distance/mod.rs:60-69`)
  *
  * Dimension mismatch raises, matching the reference's dim checks
  * (`/root/reference/src/database/mod.rs:425-431`).
  */
case class VecDistance(left: Expression, right: Expression, kind: String)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case BinaryType => true
      case _ => false
    }
    if (!VecDistanceKind.all.contains(kind))
      TypeCheckResult.TypeCheckFailure(s"unknown distance kind '$kind'")
    else if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_$kind requires array<float>/array<double>/binary inputs, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private def isBinary(e: Expression): Boolean = e.dataType == BinaryType

  /** Interpreted accessor: element i of either operand encoding. */
  private def elem(v: Any, bin: Boolean, flt: Boolean, i: Int): Double =
    if (bin)
      org.apache.spark.unsafe.Platform.getFloat(
        v.asInstanceOf[Array[Byte]],
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + (i.toLong << 2))
        .toDouble
    else if (flt) v.asInstanceOf[ArrayData].getFloat(i).toDouble
    else v.asInstanceOf[ArrayData].getDouble(i)

  private def dims(v: Any, bin: Boolean): Int =
    if (bin) {
      val len = v.asInstanceOf[Array[Byte]].length
      if ((len & 3) != 0) throw new IllegalArgumentException(
        s"vec_$kind: binary vector length $len is not a multiple of 4")
      len >>> 2
    } else v.asInstanceOf[ArrayData].numElements()

  override def nullSafeEval(l: Any, r: Any): Any = {
    val lb = isBinary(left); val rb = isBinary(right)
    val lf = isFloat(left); val rf = isFloat(right)
    val n = dims(l, lb)
    if (dims(r, rb) != n)
      throw new IllegalArgumentException(
        s"vec_$kind: dimension mismatch (${n} vs ${dims(r, rb)})")
    var i = 0
    kind match {
      case VecDistanceKind.Dot =>
        var acc = 0.0
        while (i < n) {
          acc += elem(l, lb, lf, i) * elem(r, rb, rf, i); i += 1
        }
        acc
      case VecDistanceKind.L2Sq =>
        var acc = 0.0
        while (i < n) {
          val d = elem(l, lb, lf, i) - elem(r, rb, rf, i); acc += d * d; i += 1
        }
        acc
      case VecDistanceKind.Cosine =>
        var dot = 0.0; var na = 0.0; var nb = 0.0
        while (i < n) {
          val x = elem(l, lb, lf, i); val y = elem(r, rb, rf, i)
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        1.0 - dot / math.max(math.sqrt(na) * math.sqrt(nb), 1e-10)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val platform = "org.apache.spark.unsafe.Platform"
    def lenOf(v: String, e: Expression, n: String): String =
      if (isBinary(e))
        s"""int $n = $v.length >>> 2;
           |if (($v.length & 3) != 0) {
           |  throw new IllegalArgumentException(
           |    "vec_$kind: binary vector length " + $v.length + " is not a multiple of 4");
           |}""".stripMargin
      else s"int $n = $v.numElements();"
    def getOf(v: String, e: Expression, i: String): String =
      if (isBinary(e))
        s"(double) $platform.getFloat($v, $platform.BYTE_ARRAY_OFFSET + (((long) $i) << 2))"
      else if (isFloat(e)) s"(double) $v.getFloat($i)"
      else s"$v.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val n2 = ctx.freshName("n2")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val body = kind match {
        case VecDistanceKind.Dot =>
          val acc = ctx.freshName("acc")
          s"""double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $x = ${getOf(a, left, i)};
             |  double $y = ${getOf(b, right, i)};
             |  $acc += $x * $y;
             |}
             |${ev.value} = $acc;""".stripMargin
        case VecDistanceKind.L2Sq =>
          val acc = ctx.freshName("acc")
          val d = ctx.freshName("d")
          s"""double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $x = ${getOf(a, left, i)};
             |  double $y = ${getOf(b, right, i)};
             |  double $d = $x - $y;
             |  $acc += $d * $d;
             |}
             |${ev.value} = $acc;""".stripMargin
        case VecDistanceKind.Cosine =>
          val dot = ctx.freshName("dot")
          val na = ctx.freshName("na")
          val nb = ctx.freshName("nb")
          s"""double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $x = ${getOf(a, left, i)};
             |  double $y = ${getOf(b, right, i)};
             |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
             |}
             |${ev.value} = 1.0 - $dot / Math.max(Math.sqrt($na) * Math.sqrt($nb), 1e-10);""".stripMargin
      }
      s"""${lenOf(a, left, n)}
         |${lenOf(b, right, n2)}
         |if ($n2 != $n) {
         |  throw new IllegalArgumentException(
         |    "vec_$kind: dimension mismatch (" + $n + " vs " + $n2 + ")");
         |}
         |$body""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = s"vec_$kind"
}

/** `array<float>` → fixed-width little-endian f32 `binary` (4 × dim
  * bytes) — the r20 rerank-base layout's write-side pack. Build-time only
  * (one pass per sidecar write), so an interpreted eval is fine; the READ
  * side never unpacks — [[VecDistance]] scores the bytes directly. */
case class VecToF32LE(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"vec_to_f32le requires array<float>, got ${dt.catalogString}")
  }
  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Byte](n << 2)
    var i = 0
    while (i < n) {
      org.apache.spark.unsafe.Platform.putFloat(out,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + (i.toLong << 2),
        a.getFloat(i))
      i += 1
    }
    out
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "vec_to_f32le"
}

/** Inverse of [[VecToF32LE]]: fixed-width f32 `binary` → `array<float>`
  * (full-extract / interop paths; serving never needs it). */
case class F32LEToVec(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"f32le_to_vec requires binary, got ${dt.catalogString}")
  }
  override protected def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    if ((b.length & 3) != 0) throw new IllegalArgumentException(
      s"f32le_to_vec: binary length ${b.length} is not a multiple of 4")
    val n = b.length >>> 2
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      out(i) = org.apache.spark.unsafe.Platform.getFloat(b,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + (i.toLong << 2))
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "f32le_to_vec"
}

/** Column-level vector functions — the engine's F1–F4 scalar surface
  * (SURVEY §2.8; reference `/root/reference/src/distance/mod.rs`).
  */
object VectorFunctions {
  private def e(c: Column): Expression = ColumnShim.expression(c)
  private def col(expr: Expression): Column = ColumnShim.column(expr)

  /** F1 — dot product Σ aᵢbᵢ. */
  def vecDot(a: Column, b: Column): Column = col(VecDistance(e(a), e(b), VecDistanceKind.Dot))

  /** F3 — squared L2 distance Σ (aᵢ−bᵢ)². */
  def vecL2Sq(a: Column, b: Column): Column = col(VecDistance(e(a), e(b), VecDistanceKind.L2Sq))

  /** F4 — cosine distance 1 − dot/max(‖a‖‖b‖, 1e-10). */
  def vecCosine(a: Column, b: Column): Column = col(VecDistance(e(a), e(b), VecDistanceKind.Cosine))

  /** F2 — L2 norm √(a·a) (`/root/reference/src/distance/mod.rs:46-48`). */
  def vecNorm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(vecDot(a, a))

  /** `array<float>` → fixed-width little-endian f32 binary (the r20
    * rerank-base layout; [[distance]] scores the bytes directly). */
  def vecToBinary(a: Column): Column = col(VecToF32LE(e(a)))

  /** Fixed-width f32 binary → `array<float>` (extract/interop). */
  def binaryToVec(a: Column): Column = col(F32LEToVec(e(a)))

  /** F5 — dispatch by algorithm name, mirroring the reference's
    * `DistanceAlgorithm::d` (`/root/reference/src/distance/mod.rs:96-129`
    * string forms `/root/reference/src/pyo3/mod.rs:15-31`).
    */
  def distance(a: Column, b: Column, dist: String): Column = dist match {
    case "l2sqr"  => vecL2Sq(a, b)
    case "cosine" => vecCosine(a, b)
    case other    => throw new IllegalArgumentException(s"unknown distance '$other'")
  }

  /** Register SQL names (vec_dot / vec_l2sq / vec_cosine) in a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    Seq(VecDistanceKind.Dot, VecDistanceKind.L2Sq, VecDistanceKind.Cosine).foreach { k =>
      reg.createOrReplaceTempFunction(
        s"vec_$k",
        exprs => {
          if (exprs.length != 2)
            throw new IllegalArgumentException(
              s"vec_$k requires exactly 2 arguments (got ${exprs.length})")
          VecDistance(exprs(0), exprs(1), k)
        },
        // Spark 4 validates the source tag against a fixed list —
        // "builtin" (no hyphen) throws at resolution time
        "built-in")
    }
    // binary-quantization surface: pack + Hamming are model-free, so they
    // are directly SQL-expressible (SQ/PQ need a trained model and stay on
    // the DataFrame/catalog API)
    reg.createOrReplaceTempFunction(
      "bq_pack",
      exprs => {
        if (exprs.length != 1)
          throw new IllegalArgumentException(
            s"bq_pack requires exactly 1 argument (got ${exprs.length})")
        BitPackSign(exprs(0))
      },
      "built-in")
    reg.createOrReplaceTempFunction(
      "bq_hamming",
      exprs => {
        if (exprs.length != 2)
          throw new IllegalArgumentException(
            s"bq_hamming requires exactly 2 arguments (got ${exprs.length})")
        HammingDistance(exprs(0), exprs(1))
      },
      "built-in")
  }
}
