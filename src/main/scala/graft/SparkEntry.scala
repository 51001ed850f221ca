package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Bm25, Bq, CoarseMerge, Corpus, Decontaminate, Dedup, Hnsw, Ivf, Knn, Multimodal, Pq, Redact, Search, Sq, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY §2 that is SQL-expressible appears both in
  * `queries` (Spark implementation) and `oracleSql` (DuckDB equivalent on the
  * same parquet tables); non-SQL-expressible operators get a `queries` entry
  * (rows-only check) and a ScalaTest oracle instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_knn_l2")(spark, "/root/testdata/sf0.001")

  // Shared building blocks ---------------------------------------------------

  private def base(s: SparkSession, dir: String): DataFrame =
    Tables.vectors(s, dir).select(col("id"), col("vec"))

  private def queryVectors(s: SparkSession, dir: String, n: Int = 8): DataFrame =
    base(s, dir).filter(col("id") < n)
      .select(col("id").as("query_id"), col("vec").as("query_vec"))

  /** Derived-bound grade for the approximate selection arms (the
    * q_pq_search pattern): per-query hit count, recall@5 ≥ 3/5 vs the
    * exact twin, and per-rank DOMINATION — the pool is a corpus subset and
    * the rerank computes true distances, so the approx hit at every rank
    * is ≥ the exact hit at that rank, always. `approx` must carry
    * (query_id, id, distance); `exact` is the exact-KNN twin in the same
    * shape. */
  private def approxGrade(approx: DataFrame, exact: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = exact.select(col("query_id"), col("id").as("e_id"),
      col("distance").as("e_dist"))
    val byRank = Window.partitionBy("query_id").orderBy(col("distance"), col("id"))
    val eByRank = Window.partitionBy("query_id").orderBy(col("e_dist"), col("e_id"))
    val ranked = approx.withColumn("rn", row_number().over(byRank))
      .join(e.withColumn("rn", row_number().over(eByRank)),
        Seq("query_id", "rn"))
    val common = approx.join(
        e.select(col("query_id"), col("e_id").as("id")), Seq("query_id", "id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_common"))
    ranked.groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("n_hits"),
        min(col("distance") >= col("e_dist") - lit(1e-9)).as("dominated"))
      .join(common, Seq("query_id"), "left")
      .select(col("query_id"), col("n_hits"),
        (coalesce(col("n_common"), lit(0L)) >= lit(3L)).as("recall_ok"),
        col("dominated"))
      .orderBy("query_id")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T3/J1/T1: exact batch KNN, L2Sqr (flagship; FlatIndex::knn)
    "q_knn_l2" -> ((s, dir) => {
      Knn.exact(base(s, dir), queryVectors(s, dir), k = 5, dist = "l2sqr")
        .select(col("query_id"), col("id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // T3/J1 (serving shape): broadcast-queries mapPartitions exact KNN —
    // same logical result as q_knn_l2, row-machinery-free scan
    "q_knn_bcast" -> ((s, dir) => {
      Knn.exactBroadcast(base(s, dir), queryVectors(s, dir), k = 5)
        .select(col("query_id"), col("id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // F4: exact batch KNN, cosine with the reference's 1e-10 clamp
    "q_knn_cosine" -> ((s, dir) => {
      Knn.exact(base(s, dir), queryVectors(s, dir), k = 5, dist = "cosine")
        .select(col("query_id"), col("id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // P3: distance upper-bound post-filter on KNN results
    "q_knn_upper_bound" -> ((s, dir) => {
      Knn.exact(base(s, dir), queryVectors(s, dir), k = 10, dist = "l2sqr",
          upperBound = 1.5)
        .select(col("query_id"), col("id"), (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // P1+J2+T3: the flagship `search` — conjunctive metadata pattern filter
    // before scoring, top-k, metadata attached to every hit
    // (/root/reference/src/database/metadata_vec_table.rs:194-212)
    "q_search_meta_filter" -> ((s, dir) => {
      Search.flat(Tables.vectorsMeta(s, dir), queryVectors(s, dir), k = 5,
          dist = "l2sqr", pattern = Map("parity" -> "even"))
        .select(searchCols: _*)
        .orderBy("query_id", "distance", "id")
    }),
    // J2+P3: unfiltered search with metadata attach + upper bound, cosine
    "q_search_meta" -> ((s, dir) => {
      Search.flat(Tables.vectorsMeta(s, dir), queryVectors(s, dir), k = 3,
          dist = "cosine", upperBound = 0.7)
        .select(searchCols: _*)
        .orderBy("query_id", "distance", "id")
    }),
    // F11+A3: nearest-centroid assignment + cluster histogram over a fixed,
    // oracle-derivable centroid set (the first 16 vectors); the seeded
    // k-means IVF build is oracled Flat-vs-IVF in IvfSpec instead
    "q_centroid_histogram" -> ((s, dir) => {
      val b = base(s, dir)
      val centroids = b.filter(col("id") < 16).orderBy("id")
        .select("vec").collect()
        .map(_.getSeq[Float](0).toArray)
      // the query owns its centroid broadcast: the histogram is collected
      // here, the broadcast released, and the rows returned as a local
      // relation
      val cents = s.sparkContext.broadcast(centroids)
      try {
        val hist = Ivf.histogram(b.withColumn("cluster",
            Ivf.nearestCentroid(col("vec"), cents, "l2sqr")))
          .select(col("cluster").cast("long").as("cluster"), col("cnt"))
          .orderBy("cluster")
        s.createDataFrame(java.util.Arrays.asList(hist.collect(): _*), hist.schema)
      } finally cents.unpersist(blocking = false)
    }),
    // LLM-pipeline: exact dedup — word-set fingerprint groups over documents
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(Tables.docs(s, dir))
        .select(col("doc_id"), col("fingerprint"), col("group_size"),
          col("canonical_id"), col("is_duplicate"))
        .orderBy("doc_id")
    }),
    // LLM-pipeline: exact n-gram Jaccard similarity self-join (inverted
    // shingle index — no all-pairs, zero false negatives)
    "q_dedup_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardJoin(Tables.docs(s, dir), n = 3, threshold = 0.5)
        .select(col("a_id"), col("b_id"),
          (round(col("jaccard"), 6) + lit(0.0)).as("jaccard"))
        .orderBy("a_id", "b_id")
    }),
    // LLM-pipeline: embedding near-dup pairs — L2 threshold self-join with
    // sound centroid-ball blocking (result independent of the blocking)
    "q_dedup_semantic" -> ((s, dir) => {
      Dedup.semanticPairs(Tables.vectors(s, dir).select("id", "vec"),
          threshold = 1.2, numBlocks = 8)
        .select(col("a_id"), col("b_id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("a_id", "b_id")
    }),
    // LLM-pipeline: MinHash-LSH near-dup join (banded signatures, exact
    // Jaccard verification). The emitted pair set is seed-deterministic
    // but not SQL-recomputable (xxhash64 signature internals), so this
    // grades with the q_pq_search derived-bound pattern: the rows are the
    // independently-recomputable EXACT n-gram pair universe (values and
    // all), plus pinned health booleans — recall ≥ 0.9 of that universe
    // (DedupSpec's bound) and soundness (lsh ⊆ exact; every candidate is
    // exact-Jaccard-verified, so ANY extra pair is a bug, not noise).
    "q_dedup_minhash" -> ((s, dir) => {
      val docs = Tables.docs(s, dir)
      val exact = Dedup.ngramJaccardJoin(docs, n = 3, threshold = 0.5)
      val lsh = Dedup.minhashLshJoin(docs, n = 3, numHashes = 32,
          bands = 8, threshold = 0.5)
        .select(col("a_id"), col("b_id"))
      val recallOk = exact
        .join(lsh.withColumn("__f", lit(1)), Seq("a_id", "b_id"), "left")
        .agg(coalesce(
          sum(coalesce(col("__f"), lit(0))) >= count(lit(1)) * 0.9,
          lit(true)).as("recall_ok"))
      val subsetOk = lsh.join(exact, Seq("a_id", "b_id"), "left_anti")
        .agg((count(lit(1)) === 0).as("subset_ok"))
      exact.select(col("a_id"), col("b_id"),
          (round(col("jaccard"), 6) + lit(0.0)).as("jaccard"))
        .crossJoin(broadcast(recallOk)).crossJoin(broadcast(subsetOk))
        .orderBy("a_id", "b_id")
    }),
    // LLM-pipeline: connected components over the exact n-gram near-dup
    // pairs (pointer-jumping min-label propagation) — a chain a~b~c is one
    // duplicate group and the canonical survivor is the min id. Oracled by
    // a DuckDB recursive CTE computing the transitive closure of the same
    // pair set.
    "q_dedup_components" -> ((s, dir) => {
      val docs = Tables.docs(s, dir)
      Dedup.duplicateComponents(docs,
          Dedup.ngramJaccardJoin(docs, n = 3, threshold = 0.5))
        .orderBy("doc_id")
    }),
    // LLM-pipeline: SimHash near-dup pairs (64-bit sketch, pigeonhole
    // banding, Hamming filter). SimHash approximates token-multiset
    // ANGLE, not shingle Jaccard, so its pair set is neither a subset nor
    // a superset of the n-gram universe; the derived-bound grade pins
    // what the sketch DOES promise — recall ≥ 0.7 of the exact n-gram
    // near-dups (r19: maxHamming+1 = 5 pigeonhole bands make h ≤ 4
    // capture STRUCTURAL — the emitted set is exactly all Hamming ≤ 4
    // pairs, corpus-drift-proof, vs r18's two rotated tables at measured
    // recall 0.82-0.88), that the
    // emitted set is genuinely angle-close under the sketch's own metric
    // (token-multiset cosine: 10th percentile ≥ 0.7 and mean ≥ 0.8 —
    // measured p10 0.76-0.80, mean 0.84-0.94 across the three SFs, vs
    // ~0.63 for a random pair; quantile floors because a MIN over
    // thousands of emitted pairs flips on one marginal admit), and a
    // MINIMUM EMITTED-PAIR floor (≥ half the exact universe; measured
    // 1.3-6.6×) so an all-empty degenerate output FAILS instead of
    // passing both other booleans vacuously. Cosine check is an inverted
    // token join, never all-pairs.
    "q_dedup_simhash" -> ((s, dir) => {
      val docs = Tables.docs(s, dir)
      val exact = Dedup.ngramJaccardJoin(docs, n = 3, threshold = 0.5)
        .select(col("a_id"), col("b_id"))
      val sim = Dedup.simhashPairs(docs)
        .select(col("a_id"), col("b_id"))
      val recallOk = exact
        .join(sim.withColumn("__f", lit(1)), Seq("a_id", "b_id"), "left")
        .agg(coalesce(
          sum(coalesce(col("__f"), lit(0))) >= count(lit(1)) * 0.7,
          lit(true)).as("recall_ok"))
      val emittedOk = sim.agg(count(lit(1)).as("__n"))
        .crossJoin(broadcast(exact.agg((count(lit(1)) / 2).as("__floor"))))
        .select((col("__n") >= col("__floor")).as("emitted_ok"))
      val tok = docs.select(col("doc_id").cast("long").as("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).cast("double").as("c"))
      val nrm = tok.groupBy("doc_id").agg(sqrt(sum(col("c") * col("c"))).as("nrm"))
      val dots = sim
        .join(tok.as("ta"), col("a_id") === col("ta.doc_id"))
        .join(tok.as("tb"),
          col("b_id") === col("tb.doc_id") && col("ta.w") === col("tb.w"))
        .groupBy("a_id", "b_id").agg(sum(col("ta.c") * col("tb.c")).as("dot"))
      val cosines = sim.join(dots, Seq("a_id", "b_id"), "left")
        .join(nrm.as("na"), col("a_id") === col("na.doc_id"))
        .join(nrm.as("nb"), col("b_id") === col("nb.doc_id"))
        .select((coalesce(col("dot"), lit(0.0)) /
          (col("na.nrm") * col("nb.nrm"))).as("cos"))
      val similarOk = cosines.agg(coalesce(
        expr("percentile(cos, 0.1)") >= 0.7 && avg(col("cos")) >= 0.8,
        lit(true)).as("similar_ok"))
      docs.select(col("doc_id"))
        .crossJoin(broadcast(recallOk)).crossJoin(broadcast(similarOk))
        .crossJoin(broadcast(emittedOk))
        .orderBy("doc_id")
    }),
    // LLM-pipeline: per-document token/length statistics
    "q_text_stats" -> ((s, dir) => {
      TextAnalysis.stats(Tables.docs(s, dir))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          (round(col("avg_token_len"), 6) + lit(0.0)).as("avg_token_len"),
          col("n_regex_tokens"))
        .orderBy("doc_id")
    }),
    // LLM-pipeline: heuristic language ID (function-word lexicon argmax)
    "q_lang_id" -> ((s, dir) => {
      TextAnalysis.langId(Tables.docs(s, dir))
        .select(col("doc_id"), col("de_hits"), col("en_hits"), col("es_hits"),
          col("fr_hits"), col("zh_hits"), col("predicted_lang"), col("top_hits"))
        .orderBy("doc_id")
    }),
    // LLM-pipeline: heuristic quality score (length/diversity/stopword mix)
    "q_quality_score" -> ((s, dir) => {
      TextAnalysis.qualityScore(Tables.docs(s, dir))
        .select(col("doc_id"), col("n_tokens"),
          (round(col("distinct_ratio"), 6) + lit(0.0)).as("distinct_ratio"),
          (round(col("stopword_ratio"), 6) + lit(0.0)).as("stopword_ratio"),
          (round(col("length_score"), 6) + lit(0.0)).as("length_score"),
          (round(col("quality"), 6) + lit(0.0)).as("quality"))
        .orderBy("doc_id")
    }),
    // LLM-pipeline: Gopher-style repetition signals (single-pass native
    // n-gram count kernel — zero shuffle; TextAnalysis.repetitionSignals)
    "q_repetition_signals" -> ((s, dir) => {
      TextAnalysis.repetitionSignals(Tables.docs(s, dir))
        .select(col("doc_id"),
          (round(col("dup_token_frac"), 6) + lit(0.0)).as("dup_token_frac"),
          (round(col("top2gram_frac"), 6) + lit(0.0)).as("top2gram_frac"),
          (round(col("dup3gram_frac"), 6) + lit(0.0)).as("dup3gram_frac"))
        .orderBy("doc_id")
    }),
    // LLM-pipeline: overlapping token-window chunking (map-only, no shuffle)
    "q_chunking" -> ((s, dir) => {
      Corpus.chunk(Tables.docs(s, dir), window = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")
    }),
    // LLM-pipeline: deterministic md5-threshold train/val/test assignment
    "q_hash_split" -> ((s, dir) => {
      Corpus.hashSplit(Tables.docs(s, dir),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "r14")
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),
    // LLM-pipeline: benchmark decontamination — training docs sharing word
    // 8-grams with the pseudo-benchmark (every 20th doc); hashed-gram
    // broadcast join, oracle counts literal-string grams
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.docs(s, dir)
      Decontaminate.contaminationPairs(
        docs, docs.filter(col("doc_id") % 20 === 0), n = 8)
        .orderBy("doc_id", "bench_id")
    }),
    // LLM-pipeline: PII redaction — deterministic PII planted from doc_id,
    // scrubbed by the RE2-compatible pattern set; counts taken pre-scrub
    "q_pii_redact" -> ((s, dir) => {
      val dirty = Tables.docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com via +1 (555) 010-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" ssn 123-45-6789 host 10."),
          (col("doc_id") % 256).cast("string"), lit(".0."),
          (col("doc_id") % 100).cast("string")).as("text"))
      Redact.scrub(dirty)
        .select(col("doc_id"), col("text").as("scrubbed"), col("n_email"),
          col("n_phone"), col("n_ssn"), col("n_ipv4"))
        .orderBy("doc_id")
    }),
    // §2.9 streaming dedup: per-fingerprint state fold over a replayed
    // micro-batched corpus; final state is order-free (min/sum folds) so
    // the batch GROUP BY oracle grades it exactly
    "q_stream_dedup" -> ((s, dir) => {
      val docs = Tables.docs(s, dir).select(col("doc_id"), col("text"))
      val tmp = scratchDir("stream_dedup")
      val srcDir = tmp.resolve("src").toString
      docs.repartition(4).write.parquet(srcDir)
      val stream = s.readStream.schema(s.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val updates = graft.streaming.StreamDedup.dedupState(stream)
        .toDF("fingerprint", "canonical_id", "n_seen")
      val sinkName = s"stream_dedup_q_${System.nanoTime}"
      val q = updates.writeStream.format("memory").queryName(sinkName)
        .outputMode("update")
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      // last emission per fingerprint == final state; min/max make the
      // reduction explicit (all updates for a fingerprint are monotone)
      s.table(sinkName)
        .groupBy("fingerprint")
        .agg(min("canonical_id").as("canonical_id"),
          max("n_seen").as("n_docs"))
        .orderBy("canonical_id")
    }),
    // LLM-pipeline: Okapi BM25 keyword top-k over the documents corpus
    // (inverted-index join; fixed-point order-free score sum — Bm25 scaladoc)
    "q_bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (0L, "key agg row scan"), (1L, "batch window join"),
        (2L, "slow fast table value"), (3L, "customer query line"))
        .toDF("query_id", "text")
      Bm25.searchDocs(Tables.docs(s, dir), queries, k = 10)
        .select(col("query_id"), col("doc_id"),
          (round(col("score"), 6) + lit(0.0)).as("score"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // LLM-pipeline: hybrid lexical+semantic retrieval — BM25 arm fused with
    // the exact-cosine KNN arm by reciprocal-rank fusion; queries are the
    // first five documents (text) with their own embeddings (vector)
    "q_hybrid_rrf" -> ((s, dir) => {
      val docs = Tables.docs(s, dir)
      val vecs = Tables.vectors(s, dir)
      val queries = docs.filter(col("doc_id") < 5)
        .join(vecs, col("doc_id") === col("id"))
        .select(col("doc_id").as("query_id"), col("text"),
          col("vec").as("query_vec"))
      Bm25.hybridSearch(docs, vecs, queries, k = 10, armK = 20)
        .select(col("query_id"), col("id"),
          (round(col("rrf"), 6) + lit(0.0)).as("rrf"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // A4: per-query recall between two exact KNN rankings (cosine vs L2)
    "q_recall" -> ((s, dir) => {
      recallDf(s, dir)
        .select(col("query_id"),
          (round(col("recall"), 6) + lit(0.0)).as("recall"))
        .orderBy("query_id")
    }),
    // A5: average-recorder aggregate over the recall column
    "q_recall_avg" -> ((s, dir) => {
      recallDf(s, dir)
        .agg((round(avg(col("recall")), 6) + lit(0.0)).as("avg_recall"))
    }),
    // §2.11+P2: full catalog round-trip — create table, distributed
    // addDataFrame ingest (no driver materialization — the 100 TB shape),
    // delete-by-pattern, emit the survivors. Runs through the real
    // graft.catalog.VecDB (parquet versions + brief.json) in a scratch dir
    // under target/. The source is sorted by id, so zipWithIndex assigns
    // ids in vec_id order (vec_ids are contiguous from 0 ⇒ id == vec_id,
    // same as the driver-side batchAdd this replaced).
    "q_delete_pattern_survivors" -> ((s, dir) => {
      val db = catalogIngest(s, dir, "vecdb_q")
      db.delete("emb", Map("parity" -> "odd"))
      db.table("emb")
        .select(col("id"), col("meta")("label").as("label"),
          col("meta")("parity").as("parity"))
        .orderBy("id")
    }),
    // B5/B6+T4/T5: partitioned-subgraph HNSW search — build the subgraphs,
    // then one pinned walk of the built index with no cache key (the
    // one-shot shape). With ef ≥ partition size the beam search is
    // exhaustive per subgraph, so the result equals exact KNN and the plain
    // top-k SQL oracle applies; HnswSpec adds the ported HNSW-==-Flat
    // asserts (L2 + cosine) and default-ef recall.
    "q_hnsw_search" -> ((s, dir) => {
      Hnsw.searchPinned(Hnsw.buildIndex(base(s, dir).repartition(4)),
          queryVectors(s, dir), k = 5, ef = Some(400))
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // B4+F8-F10+T7: PQ train/encode/ADC search with exact re-rank at modest
    // ef. The hit set depends on the seeded k-means quantizer (not
    // SQL-expressible), so the graded columns are DERIVED-BOUND checks the
    // oracle CAN express as constants: per query, (a) exactly k hits came
    // back, (b) recall vs the exact-KNN twin meets the bound (ef=64 over
    // m=8 measures ≥ 4/5 per query at every shipped SF; the bound is 3/5
    // — a per-SF recall sweep set the margin), and
    // (c) ranked distances dominate the exact ranking — a theorem for any
    // exact-re-ranked subset (j-th smallest of a subset ≥ j-th smallest of
    // the full set), so `false` would prove the re-rank broken.
    "q_pq_search" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val b = base(s, dir)
      val q = queryVectors(s, dir)
      val model = Pq.train(b, m = 8, nBits = 4)
      val approx = Pq.searchFlat(Pq.encode(b, model), model, q, k = 5, ef = 64)
        .select(col("query_id"), col("id"), col("distance")).cache()
      val exact = Knn.exact(b, q, k = 5, dist = "l2sqr")
        .select(col("query_id"), col("id").as("e_id"),
          col("distance").as("e_dist"))
      val byRank = Window.partitionBy("query_id").orderBy(col("distance"), col("id"))
      val eByRank = Window.partitionBy("query_id").orderBy(col("e_dist"), col("e_id"))
      val ranked = approx.withColumn("rn", row_number().over(byRank))
        .join(exact.withColumn("rn", row_number().over(eByRank)),
          Seq("query_id", "rn"))
      val common = approx.join(
          exact.select(col("query_id"), col("e_id").as("id")), Seq("query_id", "id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_common"))
      ranked.groupBy("query_id")
        .agg(count(lit(1)).cast("long").as("n_hits"),
          min(col("distance") >= col("e_dist") - lit(1e-9)).as("dominated"))
        .join(common, Seq("query_id"), "left")
        .select(col("query_id"), col("n_hits"),
          (coalesce(col("n_common"), lit(0L)) >= lit(3L)).as("recall_ok"),
          col("dominated"))
        .orderBy("query_id")
    }),
    // T7 exhaustive: the same PQ ADC scan with ef ≥ table size — the
    // re-rank set covers every row, so the exact re-rank makes the result
    // exact KNN and the plain top-k SQL oracle applies regardless of the
    // seeded quantizer (the modest-ef approximation above stays rows-only;
    // PqSpec carries its recall/error-bound oracles).
    "q_pq_exact" -> ((s, dir) => {
      val b = base(s, dir)
      val n = b.count().toInt
      val model = Pq.train(b, m = 8, nBits = 4)
      Pq.searchFlat(Pq.encode(b, model), model, queryVectors(s, dir),
          k = 5, ef = 2 * n)
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // §2.9 streaming ANN serving: the query batch arrives as a stream
    // (file source, one file per micro-batch), each batch served with the
    // exact broadcast scan and landed as per-epoch parquet; the unioned
    // result equals the one-shot batch KNN, so the plain top-k oracle
    // applies
    "q_stream_search" -> ((s, dir) => {
      val b = base(s, dir)
      val tmp = scratchDir("stream_search")
      val qDir = tmp.resolve("queries").toString
      queryVectors(s, dir).repartition(4).write.parquet(qDir)
      val stream = s.readStream
        .schema(s.read.parquet(qDir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qDir)
      val q = graft.streaming.StreamSearch.startExact(b, stream, k = 5,
        tmp.resolve("out").toString, tmp.resolve("ckpt").toString)
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(tmp.resolve("out").toString)
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // BQ coarse pass: sign-bit packed Hamming top-k (codegen XOR/popcount
    // over array<bigint>) — hamming == per-dim sign disagreement, which the
    // oracle recomputes unpacked, so the packed layout is hash-verified
    "q_bq_hamming" -> ((s, dir) => {
      Bq.hammingTopK(base(s, dir), queryVectors(s, dir), k = 5)
        .orderBy("query_id", "hamming", "id")
    }),
    // BQ two-stage serving: Hamming top-200 coarse candidates, exact L2
    // re-rank. Derived-check oracle (same pattern as q_pq_search): exact
    // re-rank distances dominate the true KNN per rank, hit count is k,
    // and recall@5 against exact KNN clears the floor (the 64-dim
    // near-uniform testdata is the hardest regime for a sign sketch:
    // candidates=200 measures n_common=5/5 for every query at the graded
    // sf0.01 and ≥3/5 at sf0.1 — DuckDB-verified on the fixed fixtures).
    // T12 approximate big-batch selection (r19, verdict #2): the BQ
    // two-stage with APPROX coarse selection — each scan partition keeps
    // only top-⌈candidates/P⌉ per query and the union is the rerank pool
    // (no selection shuffle; the big-batch serving mode, auto-dispatched
    // past CoarseMerge.approxNqThreshold queries). Derived-bound grade,
    // the q_pq_search pattern: recall ≥ 3/5 vs exact KNN per query, and
    // DOMINATION — the pool is a corpus subset and the rerank computes
    // true distances, so the approx hit at every rank is ≥ the exact hit
    // at that rank, always. The base hash-repartitions to 8 so the
    // per-partition cap genuinely binds on the small gate fixture
    // (deterministic: hash on id, not round-robin).
    "q_bq_approx" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val b = base(s, dir).repartition(8, col("id"))
      val q = queryVectors(s, dir)
      // Bq.searchRerank's steps, through the call that returns its choice
      val ids = b.select(col("id").cast("long").as("id"), col("vec"))
      val model = Bq.train(ids)
      val (found, choice) = CoarseMerge.searchRerank(Bq.BqCodec(Some(model)),
        Bq.encodeCentered(ids, model).select(col("id"), col("bq")), b, q,
        k = 5, candidates = 200, dist = "l2sqr", vecCol = "vec",
        coarseSelect = "approx")
      val approx = found
        .select(col("query_id"), col("id"), col("distance")).cache()
      require(choice.path == "approx",
        s"q_bq_approx: expected the approx coarse path, got '${choice.path}'")
      val exact = Knn.exact(b, q, k = 5, dist = "l2sqr")
        .select(col("query_id"), col("id").as("e_id"),
          col("distance").as("e_dist"))
      val byRank = Window.partitionBy("query_id").orderBy(col("distance"), col("id"))
      val eByRank = Window.partitionBy("query_id").orderBy(col("e_dist"), col("e_id"))
      val ranked = approx.withColumn("rn", row_number().over(byRank))
        .join(exact.withColumn("rn", row_number().over(eByRank)),
          Seq("query_id", "rn"))
      val common = approx.join(
          exact.select(col("query_id"), col("e_id").as("id")), Seq("query_id", "id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_common"))
      ranked.groupBy("query_id")
        .agg(count(lit(1)).cast("long").as("n_hits"),
          min(col("distance") >= col("e_dist") - lit(1e-9)).as("dominated"))
        .join(common, Seq("query_id"), "left")
        .select(col("query_id"), col("n_hits"),
          (coalesce(col("n_common"), lit(0L)) >= lit(3L)).as("recall_ok"),
          col("dominated"))
        .orderBy("query_id")
    }),
    // T13 approximate big-batch selection — the SQ twin of q_bq_approx
    // (same derived-bound grade over the decode-once byte-code kernel's
    // approx path).
    "q_sq_approx" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val b = base(s, dir).repartition(8, col("id"))
      val q = queryVectors(s, dir)
      // Sq.searchRerank's steps, through the call that returns its choice
      val model = Sq.train(b)
      val (found, choice) = CoarseMerge.searchRerank(Sq.SqCodec(model, "l2sqr"),
        Sq.encode(b.select(col("id").cast("long").as("id"), col("vec")), model)
          .select(col("id"), col("sq")), b, q,
        k = 5, candidates = 200, dist = "l2sqr", vecCol = "vec",
        coarseSelect = "approx")
      val approx = found
        .select(col("query_id"), col("id"), col("distance")).cache()
      require(choice.path == "approx",
        s"q_sq_approx: expected the approx coarse path, got '${choice.path}'")
      val exact = Knn.exact(b, q, k = 5, dist = "l2sqr")
        .select(col("query_id"), col("id").as("e_id"),
          col("distance").as("e_dist"))
      val byRank = Window.partitionBy("query_id").orderBy(col("distance"), col("id"))
      val eByRank = Window.partitionBy("query_id").orderBy(col("e_dist"), col("e_id"))
      val ranked = approx.withColumn("rn", row_number().over(byRank))
        .join(exact.withColumn("rn", row_number().over(eByRank)),
          Seq("query_id", "rn"))
      val common = approx.join(
          exact.select(col("query_id"), col("e_id").as("id")), Seq("query_id", "id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_common"))
      ranked.groupBy("query_id")
        .agg(count(lit(1)).cast("long").as("n_hits"),
          min(col("distance") >= col("e_dist") - lit(1e-9)).as("dominated"))
        .join(common, Seq("query_id"), "left")
        .select(col("query_id"), col("n_hits"),
          (coalesce(col("n_common"), lit(0L)) >= lit(3L)).as("recall_ok"),
          col("dominated"))
        .orderBy("query_id")
    }),
    // T12/T9 approximate selection over the ROUTED kernel (r20, verdict
    // #4): IVF-routed BQ with APPROX coarse selection — inside the probed
    // scan each partition keeps only top-⌈candidates/P⌉ per query and the
    // union streams straight into the ONE exact rerank (no selection
    // shuffle). Exhaustive probes (np = kc) make pool membership the only
    // approximation; the derived-bound grade pins hit count, the recall
    // floor and per-rank domination, and the approx kernel path is pinned
    // by the choice the search returns. The packed layout hash-repartitions
    // to 8 so the per-partition cap genuinely binds.
    "q_bq_approx_routed" -> ((s, dir) => {
      val b = base(s, dir)
      val q = queryVectors(s, dir)
      val (ivfModel, assigned) = Ivf.build(b, k = 8)
      val model = Bq.train(b)
      val packed = Bq.encodeCentered(assigned, model)
        .select(col("id"), col("bq"), col("cluster"))
        .repartition(8, col("id"))
      val (found, choice) = CoarseMerge.searchIvf(Bq.BqCodec(Some(model)),
        packed, b, ivfModel, q, 5, 200, Some(8), "l2sqr", "vec", None, None,
        None, "approx", None)
      val approx = found
        .select(col("query_id"), col("id"), col("distance")).cache()
      require(choice.path == "approx", s"q_bq_approx_routed: expected the " +
        s"approx coarse path, got '${choice.path}'")
      approxGrade(approx, Knn.exact(b, q, k = 5, dist = "l2sqr"))
    }),
    // T13/T6 — the SQ twin of q_bq_approx_routed (approx selection inside
    // the probed decode-once byte-code kernel).
    "q_sq_approx_routed" -> ((s, dir) => {
      val b = base(s, dir)
      val q = queryVectors(s, dir)
      val (ivfModel, assigned) = Ivf.build(b, k = 8)
      val sqModel = Sq.train(b)
      val packed = Sq.encode(assigned, sqModel)
        .select(col("id"), col("sq"), col("cluster"))
        .repartition(8, col("id"))
      val (found, choice) = CoarseMerge.searchIvf(Sq.SqCodec(sqModel, "l2sqr"),
        packed, b, ivfModel, q, 5, 200, Some(8), "l2sqr", "vec", None, None,
        None, "approx", None)
      val approx = found
        .select(col("query_id"), col("id"), col("distance")).cache()
      require(choice.path == "approx", s"q_sq_approx_routed: expected the " +
        s"approx coarse path, got '${choice.path}'")
      approxGrade(approx, Knn.exact(b, q, k = 5, dist = "l2sqr"))
    }),
    // §2.11 dispatch + T12 approx as a CATALOG citizen (r20, verdict #5):
    // the auto rule (nq ≥ CoarseMerge.approxNqThreshold AND candidates <
    // live corpus) must route a big-enough batch through searchBatch's
    // bq_rerank_serve arm INTO the approx path — and must NOT when the
    // budget is exhaustive. Both directions pinned in-query: the approx
    // call requires (arm, coarse path) == (bq_rerank_serve, approx);
    // the exhaustive twin at ef = 2n requires a path other than approx. The
    // threshold is lowered to the fixture's batch size for the duration of
    // the two dispatch calls (volatile knob, restored in finally — plan
    // construction resolves the mode eagerly, so later execution is
    // unaffected).
    "q_bq_approx_catalog" -> ((s, dir) => {
      val db = catalogIngest(s, dir, "vecdb_qbqapprox")
      val n = db.getLen("emb").toInt
      db.buildBqIndex("emb")
      val q = queryVectors(s, dir)
      val saved = graft.operators.CoarseMerge.approxNqThreshold
      val approx =
        try {
          graft.operators.CoarseMerge.approxNqThreshold = 8
          val d = db.dispatch("emb", q, k = 5, ef = Some(200))
          val out = d.frame
            .select(col("query_id"), col("id"), col("distance")).cache()
          require(d.arm == "bq_rerank_serve",
            s"q_bq_approx_catalog: expected the BQ serving arm, " +
              s"dispatched '${d.arm}'")
          require(d.coarse.exists(_.path == "approx"),
            s"q_bq_approx_catalog: expected the auto rule to pick approx " +
              s"at nq=8 ≥ threshold, got ${d.coarse}")
          // the negative direction: an exhaustive budget (candidates ≥
          // live corpus) must keep exact selection even past the nq
          // threshold — the exact-KNN contract of ef = 2n callers
          val exhaustive = db.dispatch("emb", q, k = 5, ef = Some(2 * n))
          exhaustive.frame.count()
          require(exhaustive.coarse.exists(_.path != "approx"),
            "q_bq_approx_catalog: exhaustive ef=2n batch was auto-routed " +
              "to approx selection — the exact-KNN contract is broken")
          out
        } finally graft.operators.CoarseMerge.approxNqThreshold = saved
      approxGrade(approx,
        Knn.exact(base(s, dir), q, k = 5, dist = "l2sqr"))
    }),
    "q_bq_rerank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val b = base(s, dir)
      val q = queryVectors(s, dir)
      val approx = Bq.searchRerank(b, q, k = 5, candidates = 200)
        .select(col("query_id"), col("id"), col("distance")).cache()
      val exact = Knn.exact(b, q, k = 5, dist = "l2sqr")
        .select(col("query_id"), col("id").as("e_id"),
          col("distance").as("e_dist"))
      val byRank = Window.partitionBy("query_id").orderBy(col("distance"), col("id"))
      val eByRank = Window.partitionBy("query_id").orderBy(col("e_dist"), col("e_id"))
      val ranked = approx.withColumn("rn", row_number().over(byRank))
        .join(exact.withColumn("rn", row_number().over(eByRank)),
          Seq("query_id", "rn"))
      val common = approx.join(
          exact.select(col("query_id"), col("e_id").as("id")), Seq("query_id", "id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_common"))
      ranked.groupBy("query_id")
        .agg(count(lit(1)).cast("long").as("n_hits"),
          min(col("distance") >= col("e_dist") - lit(1e-9)).as("dominated"))
        .join(common, Seq("query_id"), "left")
        .select(col("query_id"), col("n_hits"),
          (coalesce(col("n_common"), lit(0L)) >= lit(3L)).as("recall_ok"),
          col("dominated"))
        .orderBy("query_id")
    }),
    // SQ8 coarse pass: per-dim affine quantization (exact double min/max →
    // scale=(max−min)/255), codegen'd asymmetric decode-and-score. The
    // model is deterministic from the data (no seeds, no sampling), so the
    // oracle recomputes the SAME codes in SQL from per-dim min/max and the
    // quantized-domain distances hash-match — a quantizer bug on the Spark
    // side cannot slip past this.
    "q_sq_coarse" -> ((s, dir) => {
      val b = base(s, dir)
      val model = Sq.train(b)
      Sq.coarseTopK(Sq.encode(b, model).select(col("id"), col("sq")),
          queryVectors(s, dir), model, k = 5)
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // SQ8 exhaustive: candidates ≥ table size keeps every row through the
    // coarse pass, so the exact re-rank returns exact KNN and the plain
    // top-k SQL oracle applies (q_pq_exact's pattern).
    "q_sq_exact" -> ((s, dir) => {
      val b = base(s, dir)
      val n = b.count().toInt
      Sq.searchRerank(b, queryVectors(s, dir), k = 5, candidates = 2 * n)
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // BQ through the registered SQL surface: bq_pack / bq_hamming called
    // from spark.sql, per-query top-k via a window — the same sign-
    // disagreement DuckDB oracle as q_bq_hamming grades the SQL-function
    // path end to end (registration, resolution, codegen under SQL).
    "q_bq_sql" -> ((s, dir) => {
      graft.functions.VectorFunctions.register(s)
      base(s, dir).createOrReplaceTempView("bq_sql_base")
      queryVectors(s, dir).createOrReplaceTempView("bq_sql_q")
      s.sql(
        """WITH sc AS (
          |  SELECT q.query_id, b.id,
          |         bq_hamming(bq_pack(b.vec), bq_pack(q.query_vec)) AS hamming
          |  FROM bq_sql_q q CROSS JOIN bq_sql_base b)
          |SELECT query_id, id, hamming
          |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |                                   ORDER BY hamming, id) AS rn FROM sc)
          |WHERE rn <= 5
          |ORDER BY query_id, hamming, id""".stripMargin)
    }),
    // SQ8 two-stage serving at modest candidates: coarse top-50 on codes,
    // exact L2 re-rank. Derived-check oracle (q_bq_rerank's pattern): hit
    // count is k, recall@5 vs the exact twin clears the floor (SQ8's ≤
    // scale/2 per-dim error makes candidates=50 measure 5/5 on the shipped
    // fixtures; the graded bound is 3/5), and exact re-rank distances
    // dominate the true KNN per rank (a theorem for any re-ranked subset).
    "q_sq_rerank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val b = base(s, dir)
      val q = queryVectors(s, dir)
      val approx = Sq.searchRerank(b, q, k = 5, candidates = 50)
        .select(col("query_id"), col("id"), col("distance")).cache()
      val exact = Knn.exact(b, q, k = 5, dist = "l2sqr")
        .select(col("query_id"), col("id").as("e_id"),
          col("distance").as("e_dist"))
      val byRank = Window.partitionBy("query_id").orderBy(col("distance"), col("id"))
      val eByRank = Window.partitionBy("query_id").orderBy(col("e_dist"), col("e_id"))
      val ranked = approx.withColumn("rn", row_number().over(byRank))
        .join(exact.withColumn("rn", row_number().over(eByRank)),
          Seq("query_id", "rn"))
      val common = approx.join(
          exact.select(col("query_id"), col("e_id").as("id")), Seq("query_id", "id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_common"))
      ranked.groupBy("query_id")
        .agg(count(lit(1)).cast("long").as("n_hits"),
          min(col("distance") >= col("e_dist") - lit(1e-9)).as("dominated"))
        .join(common, Seq("query_id"), "left")
        .select(col("query_id"), col("n_hits"),
          (coalesce(col("n_common"), lit(0L)) >= lit(3L)).as("recall_ok"),
          col("dominated"))
        .orderBy("query_id")
    }),
    // IVF-routed SQ8 (FAISS IVFSQ composition): probe-pruned byte scan +
    // exact re-rank. Exhaustive settings (nProbes = kClusters, candidates ≥
    // n) make it exact KNN → plain top-k oracle; SqSpec holds the pruned-
    // probe recall floor.
    "q_sq_ivf" -> ((s, dir) => {
      val b = base(s, dir)
      val n = b.count().toInt
      val (ivfModel, assigned) = Ivf.build(b, k = 16)
      val sqModel = Sq.train(b)
      val packed = Sq.encode(assigned, sqModel)
        .select(col("id"), col("sq"), col("cluster"))
      Sq.searchIvf(packed, b, ivfModel, sqModel, queryVectors(s, dir),
          k = 5, candidates = 2 * n, nProbes = Some(16))
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // LLM-pipeline: multimodal binary-column feature extraction (decode is
    // a deterministic stub; length+digest verified end-to-end by oracle)
    "q_multimodal_features" -> ((s, dir) => {
      Multimodal.extractFeatures(Multimodal.withPayload(Tables.docs(s, dir)))
        .toDF()
        .select(col("doc_id"), col("byte_len"), col("digest"))
        .orderBy("doc_id")
    }),
    // F13+P5: u8 quantization round-trip — saturating f32→u8 cast (shifted/
    // scaled so the byte range is exercised), cast projection back to float,
    // exact KNN over the quantized vectors. Double math on both sides so the
    // truncation boundary is bit-identical with the oracle.
    "q_knn_u8" -> ((s, dir) => {
      val q8 = base(s, dir).select(col("id"),
        graft.sources.Ingest.vecCastFloat(graft.sources.Ingest.vecCastU8(
          transform(col("vec"), x => (x.cast("double") + lit(0.5)) * 255)))
          .as("vec"))
      Knn.exact(q8, q8.filter(col("id") < 8)
          .select(col("id").as("query_id"), col("vec").as("query_vec")), k = 5)
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // S5+B6+T4/T5: HNSW over the exported sidecar (build once, export
    // adjacency, rebuild the graphs on the driver from it, walk them
    // there). ef ≥ partition size ⇒ exhaustive per subgraph ⇒ equals exact
    // KNN, so the plain top-k oracle applies.
    "q_hnsw_indexed" -> ((s, dir) => {
      Hnsw.searchBroadcast(Hnsw.buildIndex(base(s, dir).repartition(4)),
          queryVectors(s, dir), k = 5, ef = Some(400))
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // §2.11 dispatch + T4/T5 + knn_pq: the full catalog serving path with
    // BOTH sidecars — create/batch_add/build_hnsw/build_pq, then search
    // through VecDB.searchBatch with (ef, pq) set, which dispatches to the
    // HNSW+PQ combined traversal (ADC-scored walk + exact re-rank,
    // hnsw_index.rs:672-697). ef ≥ table size ⇒ the beam is exhaustive ⇒
    // equals exact KNN ⇒ the plain top-k SQL oracle applies; HnswSpec
    // carries the combined-traversal==Flat assert at modest ef.
    "q_hnsw_pq_search" -> ((s, dir) => {
      val db = catalogIngest(s, dir, "vecdb_qpq")
      val n = db.getLen("emb").toInt
      db.buildHnswIndex("emb")
      db.buildPqTable("emb", trainProportion = Some(0.5), m = Some(8))
      db.searchBatch("emb", queryVectors(s, dir), k = 5, ef = Some(2 * n))
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // §2.11 dispatch + S5: the catalog serving path with an HNSW sidecar
    // only — (Some ef, no pq) dispatches through hnswSearch/searchBroadcast
    // with metadata attach. Exhaustive ef ⇒ equals exact ⇒ SQL oracle.
    "q_vecdb_search" -> ((s, dir) => {
      val db = catalogIngest(s, dir, "vecdb_qs")
      val n = db.getLen("emb").toInt
      db.buildHnswIndex("emb")
      db.searchBatch("emb", queryVectors(s, dir), k = 5, ef = Some(2 * n))
        .select(searchCols: _*)
        .orderBy("query_id", "distance", "id")
    }),
    // §2.11 dispatch + T6: the catalog serving path through the IVF arm —
    // create/addDataFrame/build_ivf, then searchBatch with ef = the cluster
    // count, which the dispatch maps to n_probes (ivf_index.rs:137-143);
    // probing every cluster ⇒ exact ⇒ the plain top-k SQL oracle applies.
    // Exercises Ivf.searchPartitionedDf's cluster-pruned partitioned layout.
    "q_ivf_catalog" -> ((s, dir) => {
      val db = catalogIngest(s, dir, "vecdb_qivf")
      db.buildIvfIndex("emb", k = 8)
      db.searchBatch("emb", queryVectors(s, dir), k = 5, ef = Some(8))
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // T6+B3: IVF probe search — with n_probes covering every centroid the
    // probe union is the whole table, so the result equals exact KNN and
    // the plain top-k SQL oracle applies regardless of the seeded k-means
    // assignment; IvfSpec carries the partial-probe IVF==Flat recall oracle.
    "q_ivf_probe" -> ((s, dir) => {
      val b = base(s, dir)
      val (model, assigned) = Ivf.build(b, k = 8)
      Ivf.search(assigned, model, queryVectors(s, dir), k = 5,
          nProbes = Some(8))
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // §2.11 dispatch + T9: the catalog serving path through the ROUTED
    // HNSW arm — create/addDataFrame/buildIvfHnswIndex, then searchBatch
    // with the broadcast gate forced shut so the dispatch takes the
    // pinned routed walk (the 100 TB arm). defaultNProbes = kClusters ⇒
    // full probes, exhaustive ef ⇒ equals exact ⇒ plain top-k SQL oracle.
    "q_ivf_hnsw_catalog" -> ((s, dir) => {
      val db = catalogIngest(s, dir, "vecdb_qrouted")
      val n = db.getLen("emb").toInt
      db.buildIvfHnswIndex("emb", kClusters = 8, defaultNProbes = 8,
        trainProportion = Some(0.5))
      // force the dispatch past the broadcast gate for THIS catalog only
      // (instance-level override — no global state)
      db.broadcastGateBytes = Some(1L)
      db.searchBatch("emb", queryVectors(s, dir), k = 5, ef = Some(2 * n))
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // §2.11 dispatch + T13 as a CATALOG citizen: create/addDataFrame/
    // buildSqIndex, then searchBatch — the dispatch serves the SQ
    // coarse+rerank arm (sq_rerank_serve; pinned by the require below and
    // by CatalogSpec). ef maps to the coarse candidate budget: ef = 2n
    // keeps every row through the coarse pass, the exact re-rank returns
    // exact KNN, and the plain top-k SQL oracle applies.
    "q_sq_catalog" -> ((s, dir) => {
      val db = catalogIngest(s, dir, "vecdb_qsq")
      val n = db.getLen("emb").toInt
      db.buildSqIndex("emb")
      val d = db.dispatch("emb", queryVectors(s, dir), k = 5, ef = Some(2 * n))
      val out = d.frame
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
      require(d.arm == "sq_rerank_serve",
        s"expected the SQ serving arm, dispatched '${d.arm}'")
      out
    }),
    // §2.11 dispatch + T13 routed: buildIvfIndex THEN buildSqIndex writes
    // the codes cluster-partitioned under the IVF routing and the dispatch
    // serves IVFSQ (partition-pruned byte scan + exact re-rank). Full
    // default probes (defaultNProbes = kClusters) + ef = 2n candidates ⇒
    // every row survives both prunes ⇒ exact ⇒ plain top-k SQL oracle;
    // SqSpec carries the pruned-probe recall floor + partition-filter
    // plan assert.
    "q_sq_ivf_catalog" -> ((s, dir) => {
      val db = catalogIngest(s, dir, "vecdb_qsqivf")
      val n = db.getLen("emb").toInt
      db.buildIvfIndex("emb", k = 8, defaultNProbes = 8)
      db.buildSqIndex("emb")
      val d = db.dispatch("emb", queryVectors(s, dir), k = 5, ef = Some(2 * n))
      val out = d.frame
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
      require(d.arm == "sq_ivf",
        s"expected the IVFSQ serving arm, dispatched '${d.arm}'")
      out
    }),
    // §2.11 dispatch + T12 as a CATALOG citizen: buildBqIndex (centered
    // thresholds) + searchBatch through the bq_rerank_serve arm. ef = 2n
    // keeps every row through the Hamming coarse pass ⇒ exact ⇒ plain
    // top-k SQL oracle; BqSpec carries the centered-recall oracles.
    "q_bq_catalog" -> ((s, dir) => {
      val db = catalogIngest(s, dir, "vecdb_qbq")
      val n = db.getLen("emb").toInt
      db.buildBqIndex("emb")
      val d = db.dispatch("emb", queryVectors(s, dir), k = 5, ef = Some(2 * n))
      val out = d.frame
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
      require(d.arm == "bq_rerank_serve",
        s"expected the BQ serving arm, dispatched '${d.arm}'")
      out
    }),
    // §2.11 dispatch + T12 routed (r16): buildIvfIndex THEN buildBqIndex
    // writes the packed words cluster-partitioned under the IVF routing and
    // the dispatch serves IVF-BQ (partition-pruned Hamming coarse pass +
    // partition-pruned exact re-rank — the sq_ivf composition at 1/32 the
    // coarse bytes). Full default probes (defaultNProbes = kClusters) +
    // ef = 2n candidates ⇒ every row survives both prunes ⇒ exact ⇒ plain
    // top-k SQL oracle; BqSpec carries the pruned-probe equality + the
    // partition-filter plan assert on BOTH scans.
    "q_bq_ivf_catalog" -> ((s, dir) => {
      val db = catalogIngest(s, dir, "vecdb_qbqivf")
      val n = db.getLen("emb").toInt
      db.buildIvfIndex("emb", k = 8, defaultNProbes = 8)
      db.buildBqIndex("emb")
      val d = db.dispatch("emb", queryVectors(s, dir), k = 5, ef = Some(2 * n))
      val out = d.frame
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
      require(d.arm == "bq_ivf",
        s"expected the IVF-BQ serving arm, dispatched '${d.arm}'")
      out
    }),
    // §2.11 dispatch + T7 residual variant: the catalog serving path with
    // a RESIDUAL-trained PQ sidecar (FAISS IVFPQ — IvfHnsw.trainResidualPq)
    // over a routed index. The dispatch must pin such tables to the routed
    // walk (cluster-blind arms can't score per-cluster shifted codes).
    // Full probes + exhaustive ef ⇒ ADC walk + exact re-rank covers the
    // table ⇒ equals exact KNN ⇒ plain top-k SQL oracle.
    "q_pq_residual" -> ((s, dir) => {
      val db = catalogIngest(s, dir, "vecdb_qresid")
      val n = db.getLen("emb").toInt
      db.buildIvfHnswIndex("emb", kClusters = 8, defaultNProbes = 8,
        trainProportion = Some(0.5))
      db.buildPqTable("emb", trainProportion = Some(0.5), m = Some(8),
        residual = true)
      db.searchBatch("emb", queryVectors(s, dir), k = 5, ef = Some(2 * n))
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // IVF-routed HNSW (IvfHnsw): coarse k-means routing + one HNSW graph
    // per cluster, searched through the pinned serving core (the
    // beyond-one-machine ANN shape). Probing every cluster with exhaustive
    // ef ⇒ the union of per-cluster walks covers the table ⇒ equals exact
    // KNN ⇒ the plain top-k SQL oracle applies; IvfHnswSpec carries the
    // partial-probe routing oracles.
    "q_ivf_hnsw_routed" -> ((s, dir) => {
      val b = base(s, dir)
      val n = b.count().toInt
      val (model, idx) = graft.operators.IvfHnsw.buildIndex(b, kClusters = 8)
      graft.operators.IvfHnsw.searchPinned(idx, model, queryVectors(s, dir),
          k = 5, ef = Some(2 * n), nProbes = Some(8))
        .select(col("query_id"), col("id"),
          (round(col("distance"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // S1+S2: raw packed-binary round-trip — export the table to one packed
    // little-endian file, re-read it distributed, emit stable ids + first/
    // last components (f32 LE round-trip is bit-exact).
    "q_ingest_roundtrip" -> ((s, dir) => {
      val b = base(s, dir)
      val dim = b.head().getAs[Seq[Float]]("vec").length
      val tmp = scratchDir("ingest_q")
      val f = tmp.resolve("emb.bin").toString
      graft.sources.Ingest.writeRawBin(b, f)
      graft.sources.Ingest.readRawBin(s, f, dim)
        .select(col("id"),
          (round(element_at(col("vec"), 1).cast("double"), 6) + lit(0.0)).as("c_first"),
          (round(element_at(col("vec"), dim).cast("double"), 6) + lit(0.0)).as("c_last"))
        .orderBy("id")
    }),
    // §2.9 extension: continuous ingest through Structured Streaming — the
    // embeddings table re-written as a 4-file parquet directory, streamed
    // one file per micro-batch through [[graft.streaming.StreamIngest]]
    // into a scratch catalog table (reserved-id distributed appends,
    // epoch-skip replay protection), then extracted back out. Original ids
    // ride the meta map, so the extract is oracled cell-for-cell against
    // the source table. StreamIngestSpec carries the restart/replay cases.
    // §2.9 extension: event-time windowed streaming aggregation — the
    // documents table streamed through MemoryStream micro-batches with
    // ts = doc_id minutes, windowed 10 min by StreamAnalytics
    // .windowedLangStats (watermark + window + agg), complete-mode memory
    // sink snapshot. Window starts emitted as epoch seconds so the oracle
    // is pure integer arithmetic: (doc_id/10)*600.
    "q_stream_window_stats" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = Tables.docs(s, dir)
        .select(col("doc_id").cast("long"), col("lang"), col("text"))
        .as[(Long, String, String)].collect()
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String)]
      val st = ms.toDF().toDF("doc_id", "lang", "text")
        .withColumn("ts", timestamp_seconds(col("doc_id") * 60))
      val agg = graft.streaming.StreamAnalytics.windowedLangStats(st)
      val q = agg.writeStream.format("memory")
        .queryName("q_stream_window_stats_sink").outputMode("complete").start()
      try {
        val (h1, h2) = rows.splitAt(rows.length / 2)
        ms.addData(h1.toSeq); q.processAllAvailable()
        ms.addData(h2.toSeq); q.processAllAvailable()
      } finally q.stop()
      s.table("q_stream_window_stats_sink")
        .select(col("window_start").cast("long").as("win_start"), col("lang"),
          col("n_docs"),
          (round(col("avg_tokens"), 6) + lit(0.0)).as("avg_tokens"))
        .orderBy("win_start", "lang")
    }),
    // Document fingerprinting: MOSS winnowing over Rabin–Karp k-gram
    // hashes (TextAnalysis.winnowFingerprints) — the oracle refolds the
    // identical base-257 mod-1e9+7 arithmetic with DuckDB list_reduce
    "q_doc_fingerprint" -> ((s, dir) => {
      graft.operators.TextAnalysis
        .winnowFingerprints(Tables.docs(s, dir), k = 8, w = 4)
        .orderBy("doc_id", "fp")
    }),
    // F6: the `calc_dist` SQL surface — the registered vec_dot/vec_l2sq/
    // vec_cosine functions (`/root/reference/src/distance/mod.rs:40-56`'s
    // string-dispatched calc_dist) evaluated from plain Spark SQL, oracled
    // against DuckDB list arithmetic (incl. the 1e-10 cosine clamp)
    "q_calc_dist" -> ((s, dir) => {
      graft.functions.VectorFunctions.register(s)
      base(s, dir).createOrReplaceTempView("calc_dist_emb")
      s.sql(
        """SELECT q.id AS query_id, b.id AS id,
          |  round(vec_dot(q.vec, b.vec), 6) + 0.0 AS dot,
          |  round(vec_l2sq(q.vec, b.vec), 6) + 0.0 AS l2sq,
          |  round(vec_cosine(q.vec, b.vec), 6) + 0.0 AS cos_d
          |FROM calc_dist_emb q CROSS JOIN calc_dist_emb b
          |WHERE q.id < 4""".stripMargin)
        .orderBy("query_id", "id")
    }),
    // SURVEY §7.3: index-backed SQL top-k rewrite — `ORDER BY
    // vec_l2sq(vec, lit) LIMIT k` over a registered table goes through
    // [[graft.plans.GraftSqlTopK]]'s Rule[LogicalPlan]: the engine's
    // bounded KNN search runs at plan time and the winners splice back as
    // an `id IN` prune; the require() pins that the rewrite actually
    // fired, and the oracle is DuckDB's own ORDER BY … LIMIT
    "q_sql_topk" -> ((s, dir) => {
      graft.functions.VectorFunctions.register(s)
      graft.plans.GraftSqlTopK.enable(s)
      val emb = Tables.vectors(s, dir)
      graft.plans.GraftSqlTopK.registerDataFrame("sql_topk_emb", emb, "l2sqr")
      emb.createOrReplaceTempView("sql_topk_emb")
      val qv = emb.filter(col("id") === 0)
        .head.getAs[scala.collection.Seq[Float]]("vec")
      val lits = qv.map(f => f.toString + "D").mkString("array(", ", ", ")")
      val top = s.sql("SELECT id, vec_l2sq(vec, CAST(" + lits +
        " AS array<float>)) AS d FROM sql_topk_emb ORDER BY d LIMIT 50")
      val fired = top.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.exists(_.exists {
        case org.apache.spark.sql.catalyst.expressions.In(_, vs) =>
          vs.length == 50
        case si: org.apache.spark.sql.catalyst.expressions.InSet =>
          si.hset.size == 50
        case _ => false
      })
      require(fired, "q_sql_topk: the SQL top-k rewrite did not fire")
      top.select(col("id"), (round(col("d"), 6) + lit(0.0)).as("distance"))
        .orderBy("distance", "id")
    }),
    // §7.3 + §2.11: the rewrite's catalog arm end to end — ingest into a
    // VecDB, build the HNSW sidecar, registerSql, and run the SQL top-k:
    // the rule dispatches through the catalog search (its arm pinned to
    // "hnsw"), full beam ⇒ exact ⇒ the same DuckDB ORDER BY LIMIT oracle
    "q_sql_topk_indexed" -> ((s, dir) => {
      val db = ingest(new ArmLog(s, scratchDir("vecdb_qsql").toString), s, dir)
      val n = db.getLen("emb").toInt
      db.buildHnswIndex("emb")
      db.registerSql("emb", Some("sql_topk_cat_emb"))
      val qv = Tables.vectors(s, dir).filter(col("id") === 0)
        .head.getAs[scala.collection.Seq[Float]]("vec")
      val lits = qv.map(f => f.toString + "D").mkString("array(", ", ", ")")
      s.conf.set(graft.plans.GraftSqlTopK.EfConf, (2 * n).toString)
      try {
        val top = s.sql("SELECT id, vec_l2sq(vec, CAST(" + lits +
          " AS array<float>)) AS d FROM sql_topk_cat_emb ORDER BY d LIMIT 50")
        // the HNSW graphs are driver-resident at this size, so the rewrite
        // answers from the search's winners: the optimized plan is a local
        // relation of the 50 rows, with no relation scan left
        val fired = top.queryExecution.optimizedPlan.collectLeaves() match {
          case Seq(org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
              _, data, _, _)) => data.length == 50
          case _ => false
        }
        require(fired,
          "q_sql_topk_indexed: the catalog rewrite was not answered locally")
        require(db.servedOnly("hnsw"),
          s"q_sql_topk_indexed: expected the hnsw arm, got ${db.arms}")
        top.select(col("id"), (round(col("d"), 6) + lit(0.0)).as("distance"))
          .orderBy("distance", "id")
      } finally s.conf.unset(graft.plans.GraftSqlTopK.EfConf)
    }),
    // §7.3 + T13 (r16): the SQL top-k rewrite over a QUANTIZED-indexed
    // catalog table — the rule dispatches through searchBatch, which serves
    // the SQ coarse+rerank arm (its arm pinned). EfConf = 2n maps to
    // an exhaustive coarse candidate budget ⇒ exact ⇒ the same DuckDB
    // ORDER BY LIMIT oracle as the HNSW-indexed variant.
    "q_sql_topk_sq" -> ((s, dir) => {
      val db = ingest(new ArmLog(s, scratchDir("vecdb_qsqlsq").toString), s, dir)
      val n = db.getLen("emb").toInt
      db.buildSqIndex("emb")
      db.registerSql("emb", Some("sql_topk_sq_emb"))
      val qv = Tables.vectors(s, dir).filter(col("id") === 0)
        .head.getAs[scala.collection.Seq[Float]]("vec")
      val lits = qv.map(f => f.toString + "D").mkString("array(", ", ", ")")
      s.conf.set(graft.plans.GraftSqlTopK.EfConf, (2 * n).toString)
      try {
        val top = s.sql("SELECT id, vec_l2sq(vec, CAST(" + lits +
          " AS array<float>)) AS d FROM sql_topk_sq_emb ORDER BY d LIMIT 50")
        val fired = top.queryExecution.optimizedPlan.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition
        }.exists(_.exists {
          case org.apache.spark.sql.catalyst.expressions.In(_, vs) =>
            vs.length == 50
          case si: org.apache.spark.sql.catalyst.expressions.InSet =>
            si.hset.size == 50
          case _ => false
        })
        require(fired, "q_sql_topk_sq: the catalog rewrite did not fire")
        require(db.servedOnly("sq_rerank_serve"),
          s"q_sql_topk_sq: expected the SQ serving arm, got ${db.arms}")
        top.select(col("id"), (round(col("d"), 6) + lit(0.0)).as("distance"))
          .orderBy("distance", "id")
      } finally s.conf.unset(graft.plans.GraftSqlTopK.EfConf)
    }),
    // §7.3 + T12 (r19): the SQL top-k rewrite through the BQ catalog arm —
    // the last dispatch arm without a graded SQL path. Same shape as
    // q_sql_topk_sq: EfConf = 2n is an exhaustive coarse candidate budget
    // (every row reranked) ⇒ exact ⇒ the plain ORDER BY LIMIT oracle; the
    // arm the search returns pins that the 1-bit Hamming coarse + exact
    // rerank arm actually served it.
    "q_sql_topk_bq" -> ((s, dir) => {
      val db = ingest(new ArmLog(s, scratchDir("vecdb_qsqlbq").toString), s, dir)
      val n = db.getLen("emb").toInt
      db.buildBqIndex("emb")
      db.registerSql("emb", Some("sql_topk_bq_emb"))
      val qv = Tables.vectors(s, dir).filter(col("id") === 0)
        .head.getAs[scala.collection.Seq[Float]]("vec")
      val lits = qv.map(f => f.toString + "D").mkString("array(", ", ", ")")
      s.conf.set(graft.plans.GraftSqlTopK.EfConf, (2 * n).toString)
      try {
        val top = s.sql("SELECT id, vec_l2sq(vec, CAST(" + lits +
          " AS array<float>)) AS d FROM sql_topk_bq_emb ORDER BY d LIMIT 50")
        val fired = top.queryExecution.optimizedPlan.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition
        }.exists(_.exists {
          case org.apache.spark.sql.catalyst.expressions.In(_, vs) =>
            vs.length == 50
          case si: org.apache.spark.sql.catalyst.expressions.InSet =>
            si.hset.size == 50
          case _ => false
        })
        require(fired, "q_sql_topk_bq: the catalog rewrite did not fire")
        require(db.servedOnly("bq_rerank_serve"),
          s"q_sql_topk_bq: expected the BQ serving arm, got ${db.arms}")
        top.select(col("id"), (round(col("d"), 6) + lit(0.0)).as("distance"))
          .orderBy("distance", "id")
      } finally s.conf.unset(graft.plans.GraftSqlTopK.EfConf)
    }),
    // §7.3 batch arm (r13 verdict item 3): per-query-row top-k as SQL —
    // `row_number() OVER (PARTITION BY qid ORDER BY dist, id) <= k` over a
    // query-table × vector-table cross join. The rule runs the engine's
    // BATCH search at plan time and splices the winner-id union above the
    // vector scan: nq·N distance evals collapse to nq·(nq·k). Oracled
    // against DuckDB's own window function over the same parquet.
    "q_sql_topk_batch" -> ((s, dir) => {
      graft.functions.VectorFunctions.register(s)
      graft.plans.GraftSqlTopK.enable(s)
      val emb = Tables.vectors(s, dir)
      graft.plans.GraftSqlTopK.registerDataFrame("sql_topk_bt_emb", emb, "l2sqr")
      emb.createOrReplaceTempView("sql_topk_bt_emb")
      emb.filter(col("id") < 16)
        .select(col("id").as("qid"), col("vec").as("qvec"))
        .createOrReplaceTempView("sql_topk_bt_q")
      val top = s.sql(
        """SELECT qid, id, d FROM (
          |  SELECT q.qid AS qid, t.id AS id, vec_l2sq(t.vec, q.qvec) AS d,
          |         row_number() OVER (PARTITION BY q.qid
          |           ORDER BY vec_l2sq(t.vec, q.qvec), t.id) AS rn
          |  FROM sql_topk_bt_q q CROSS JOIN sql_topk_bt_emb t
          |) WHERE rn <= 10""".stripMargin)
      // fired in the batch shape: the window stays, with the spliced id
      // prune beneath it
      val fired = top.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.exists(_.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.exists(_.exists {
        case org.apache.spark.sql.catalyst.expressions.In(_, vs) =>
          vs.length >= 10
        case si: org.apache.spark.sql.catalyst.expressions.InSet =>
          si.hset.size >= 10
        case _ => false
      }))
      require(fired, "q_sql_topk_batch: the batch rewrite did not fire")
      top.select(col("qid").as("query_id"), col("id"),
        (round(col("d"), 6) + lit(0.0)).as("distance"))
        .orderBy("query_id", "distance", "id")
    }),
    // §7.3 + P3: the rewrite's distance-upper-bound arm — `WHERE
    // vec_l2sq(vec, q) <= ub ORDER BY d LIMIT k` (bound rows are a prefix
    // of the distance order, so the top-k prune + retained Filter is
    // exact). ub = the exact 8th-nearest distance, computed on each
    // engine's own scored set (rank-consistent: the distance orderings
    // hash-match), so exactly 8 of the LIMIT 15 survive on both sides.
    "q_sql_topk_bounded" -> ((s, dir) => {
      graft.functions.VectorFunctions.register(s)
      graft.plans.GraftSqlTopK.enable(s)
      val emb = Tables.vectors(s, dir)
      graft.plans.GraftSqlTopK.registerDataFrame("sql_topk_b_emb", emb, "l2sqr")
      emb.createOrReplaceTempView("sql_topk_b_emb")
      val qv = emb.filter(col("id") === 0)
        .head.getAs[scala.collection.Seq[Float]]("vec")
      val qcol = array(qv.toSeq.map(v => lit(v)): _*).cast("array<float>")
      val d8 = emb
        .select(graft.functions.VectorFunctions.vecL2Sq(col("vec"), qcol).as("d"))
        .orderBy("d").limit(8).agg(max(col("d"))).head.getDouble(0)
      val lits = qv.map(f => f.toString + "D").mkString("array(", ", ", ")")
      val distSql = "vec_l2sq(vec, CAST(" + lits + " AS array<float>))"
      val top = s.sql(s"SELECT id, $distSql AS d FROM sql_topk_b_emb " +
        s"WHERE $distSql <= ${d8}D ORDER BY d LIMIT 15")
      val fired = top.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.exists(_.exists {
        case org.apache.spark.sql.catalyst.expressions.In(_, vs) =>
          vs.length == 15
        case si: org.apache.spark.sql.catalyst.expressions.InSet =>
          si.hset.size == 15
        case _ => false
      })
      require(fired, "q_sql_topk_bounded: the bounded rewrite did not fire")
      top.select(col("id"), (round(col("d"), 6) + lit(0.0)).as("distance"))
        .orderBy("distance", "id")
    }),
    // P4: dim-slice projection — the front-loaded div_ceil group split
    // (`pq_table.rs:38-53`) applied as slice()+aggregate per group; the
    // oracle recomputes the same split with independent SQL arithmetic
    "q_dim_slice" -> ((s, dir) => {
      val b = base(s, dir)
      val dim = b.head().getAs[Seq[Float]]("vec").length
      val groups = graft.functions.PqKernel.pqGroups(dim, 4)
      val cols = groups.zipWithIndex.map { case ((st, len), gi) =>
        (round(aggregate(slice(col("vec"), st + 1, len), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double")), 6) + lit(0.0))
          .as(s"g$gi")
      }
      b.select(col("id") +: cols.toSeq: _*).orderBy("id")
    }),
    // S4: fvecs converter round-trip — the table serialized to one fvecs
    // file (LE u32 dim + dim LE f32 per record), read back through
    // Ingest.readFvecs (offset-ordered ids), same cell oracle as the raw
    // binary round-trip
    "q_fvecs_roundtrip" -> ((s, dir) => {
      val b = base(s, dir)
      val dim = b.head().getAs[Seq[Float]]("vec").length
      val tmp = scratchDir("fvecs_q")
      val f = tmp.resolve("emb.fvecs").toString
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(f)))
      try b.orderBy("id").select("vec").collect().foreach { r =>
        out.writeInt(java.lang.Integer.reverseBytes(dim))
        r.getSeq[Float](0).foreach(x => out.writeInt(java.lang.Integer.reverseBytes(
          java.lang.Float.floatToRawIntBits(x))))
      } finally out.close()
      graft.sources.Ingest.readFvecs(s, f)
        .select(col("id"),
          (round(element_at(col("vec"), 1).cast("double"), 6) + lit(0.0)).as("c_first"),
          (round(element_at(col("vec"), dim).cast("double"), 6) + lit(0.0)).as("c_last"))
        .orderBy("id")
    }),
    "q_stream_ingest" -> ((s, dir) => {
      val src = Tables.vectors(s, dir)
      val dim = src.head().getAs[Seq[Float]]("vec").length
      val tmp = scratchDir("stream_q")
      val srcDir = tmp.resolve("src").toString
      src.repartition(4).write.parquet(srcDir)
      val db = new graft.catalog.VecDB(s, tmp.resolve("db").toString)
      db.createTableIfNotExists("t", dim, "l2sqr")
      val stream = s.readStream
        .schema(s.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .select(col("vec"),
          map(lit("orig"), col("id").cast("string")).as("meta"))
      val q = graft.streaming.StreamIngest.start(db, "t", stream,
        tmp.resolve("ckpt").toString)
      try q.processAllAvailable() finally q.stop()
      db.extractData("t")
        .select(element_at(col("meta"), "orig").cast("long").as("id"),
          (round(element_at(col("vec"), 1).cast("double"), 6) + lit(0.0)).as("c_first"),
          (round(element_at(col("vec"), dim).cast("double"), 6) + lit(0.0)).as("c_last"))
        .orderBy("id")
    }),
  )

  /** Scratch directory for queries that materialize files (round-trips,
    * scratch catalogs): absolute system-temp base — a cwd-relative
    * `target/` breaks when the harness runs from another directory — and a
    * shutdown-hook recursive delete, so repeated Verify runs don't
    * accumulate temp dirs. (Deletion can't happen inside the query itself:
    * the returned DataFrame reads these files lazily, after we return.) */
  private def scratchDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(s"graft_$prefix")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(p.toFile)
    }
    p
  }

  /** Shared catalog-query fixture: scratch-dir VecDB + distributed
    * [[graft.catalog.VecDB.addDataFrame]] ingest of the metadata-bearing
    * vector table (sorted by id ⇒ assigned ids equal vec_id — see
    * q_delete_pattern_survivors). No driver-side collect anywhere. */
  private def catalogIngest(s: SparkSession, dir: String, prefix: String)
    : graft.catalog.VecDB =
    ingest(new graft.catalog.VecDB(s, scratchDir(prefix).toString), s, dir)

  /** A catalog that keeps the serving arm of each single-query search the
    * SQL top-k rewrite runs through it, so a query can check which arm
    * answered it. */
  private final class ArmLog(s: SparkSession, root: String)
      extends graft.catalog.VecDB(s, root) {
    val arms = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override private[graft] def searchTopK(key: String, query: Array[Float],
        k: Int, ef: Option[Int]): graft.catalog.VecDB.Winners = {
      val won = super.searchTopK(key, query, k, ef)
      arms.add(won.arm)
      won
    }
    def servedOnly(arm: String): Boolean =
      !arms.isEmpty && arms.stream().allMatch(_ == arm)
  }

  /** Table "emb" of `db` holding the fixture's vectors and meta. */
  private def ingest[D <: graft.catalog.VecDB](db: D, s: SparkSession,
      dir: String): D = {
    val src = Tables.vectorsMeta(s, dir).orderBy("id")
    val dim = src.select(size(col("vec"))).head().getInt(0)
    db.createTableIfNotExists("emb", dim, "l2sqr")
    db.addDataFrame("emb", src)
    db
  }

  /** B7+A4: ground-truth ids via `Knn.exactIds` for two distance algorithms,
    * recall = |l2 ∩ cosine| / k (`/root/reference/src/index_algorithm/candidate_pair.rs:127-140`). */
  private def recallDf(s: SparkSession, dir: String): DataFrame = {
    val b = base(s, dir)
    val q = queryVectors(s, dir)
    val l2 = Knn.exactIds(b, q, k = 10, dist = "l2sqr")
    val cos = Knn.exactIds(b, q, k = 10, dist = "cosine")
      .withColumnRenamed("knn_ids", "cos_ids")
    l2.join(cos, "query_id")
      .select(col("query_id"),
        (size(array_intersect(col("knn_ids"), col("cos_ids"))) / lit(10.0)).as("recall"))
  }

  /** Search output shape shared by the metadata-search queries: the meta map
    * is emitted as separate (label, parity) columns so the DuckDB oracle can
    * rebuild and hash it deterministically. */
  private def searchCols: Seq[Column] = Seq(
    col("query_id"), col("id"),
    (round(col("distance"), 6) + lit(0.0)).as("distance"),
    col("meta")("label").as("label"), col("meta")("parity").as("parity"))

  // DuckDB oracle ------------------------------------------------------------

  /** DuckDB scored-scan CTE shared by the KNN oracles: all (query, base)
    * pairs with double-precision distance, queries = vec_id < 8. */
  private def scoredCte(distExpr: String): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |scored AS (
       |  SELECT q.query_id, b.vec_id AS id, $distExpr AS d
       |  FROM q CROSS JOIN embeddings b
       |)""".stripMargin

  private val l2Expr =
    "list_sum(list_transform(range(1, len(b.embedding) + 1), " +
      "i -> (CAST(q.qv[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)) ^ 2))"

  private val cosExpr =
    "1.0 - list_sum(list_transform(range(1, len(b.embedding) + 1), " +
      "i -> CAST(q.qv[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / " +
      "greatest(sqrt(list_sum(list_transform(range(1, len(q.qv) + 1), i -> CAST(q.qv[i] AS DOUBLE) ^ 2))) * " +
      "sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1), i -> CAST(b.embedding[i] AS DOUBLE) ^ 2))), 1e-10)"

  /** Shared BM25 CTE chain (DuckDB): expects a prior CTE with the query
    * batch as `q(query_id, qtext, ...)` and yields
    * `bscores(query_id, doc_id, score)`. Replicates
    * [[graft.operators.Bm25]] step for step — integer-exact corpus stats
    * and the ×10⁹ fixed-point order-free contribution sum — so scores are
    * bit-identical to the Spark side under any summation order. */
  private val bm25Ctes: String =
    s"""tok AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
       |tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
       |btf AS (SELECT doc_id, token, count(*) AS tf FROM tok2 GROUP BY 1, 2),
       |bdl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY 1),
       |bstats AS (
       |  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
       |         (SELECT count(*) FROM tok2)::DOUBLE / (SELECT count(*) FROM documents)::DOUBLE AS avgdl),
       |bdf AS (SELECT token, count(*) AS df FROM btf GROUP BY 1),
       |qt0 AS (SELECT query_id, unnest(string_split(lower(qtext), ' ')) AS token FROM q),
       |qt AS (SELECT DISTINCT query_id, token FROM qt0 WHERE token <> ''),
       |bscores AS (
       |  SELECT qt.query_id, btf.doc_id,
       |         sum(CAST(round(
       |           ln(1.0 + (s.n - bdf.df::DOUBLE + 0.5) / (bdf.df::DOUBLE + 0.5))
       |           * btf.tf::DOUBLE * (1.2 + 1.0)
       |           / (btf.tf::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * bdl.dl::DOUBLE / s.avgdl))
       |           * 1000000000.0) AS BIGINT))::DOUBLE / 1000000000.0 AS score
       |  FROM qt
       |  JOIN btf ON qt.token = btf.token
       |  JOIN bdl ON btf.doc_id = bdl.doc_id
       |  JOIN bdf ON btf.token = bdf.token
       |  CROSS JOIN bstats s
       |  GROUP BY 1, 2)""".stripMargin

  private def topKSql(distExpr: String, k: Int, where: String = "TRUE"): String =
    s"""${scoredCte(distExpr)}
       |SELECT query_id, id, round(d, 6) + 0.0 AS distance
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, id) AS rn
       |      FROM scored WHERE $where)
       |WHERE rn <= $k
       |ORDER BY query_id, distance, id""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** Scored CTE over the metadata-bearing table: meta rebuilt exactly as
    * `Tables.vectorsMeta` does (label string + id parity). */
  private def metaScoredCte(distExpr: String, baseWhere: String): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |b0 AS (
       |  SELECT vec_id, embedding, CAST(label AS VARCHAR) AS label,
       |         CASE WHEN vec_id % 2 = 0 THEN 'even' ELSE 'odd' END AS parity
       |  FROM embeddings
       |),
       |scored AS (
       |  SELECT q.query_id, b.vec_id AS id, b.label, b.parity, $distExpr AS d
       |  FROM q CROSS JOIN b0 b
       |  WHERE $baseWhere
       |)""".stripMargin

  private def searchSql(distExpr: String, k: Int, baseWhere: String = "TRUE",
      having: String = "TRUE"): String =
    s"""${metaScoredCte(distExpr, baseWhere)}
       |SELECT query_id, id, round(d, 6) + 0.0 AS distance, label, parity
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, id) AS rn
       |      FROM scored WHERE $having)
       |WHERE rn <= $k
       |ORDER BY query_id, distance, id""".stripMargin

  /** DuckDB list literal of a language lexicon (kept in lockstep with
    * TextAnalysis.lexicons so both sides score identically). */
  private def lexList(lang: String): String =
    TextAnalysis.lexicons.toMap.apply(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  /** Shared recall CTE: top-10 id lists per query for L2 and cosine. */
  private def recallCte: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |l2s AS (SELECT q.query_id, b.vec_id AS id, $l2Expr AS d FROM q CROSS JOIN embeddings b),
       |cs AS (SELECT q.query_id, b.vec_id AS id, $cosExpr AS d FROM q CROSS JOIN embeddings b),
       |l2top AS (SELECT query_id, list(id) AS ids FROM (
       |  SELECT query_id, id, row_number() OVER (PARTITION BY query_id ORDER BY d, id) AS rn FROM l2s)
       |  WHERE rn <= 10 GROUP BY query_id),
       |ctop AS (SELECT query_id, list(id) AS ids FROM (
       |  SELECT query_id, id, row_number() OVER (PARTITION BY query_id ORDER BY d, id) AS rn FROM cs)
       |  WHERE rn <= 10 GROUP BY query_id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // the SQL rewrite must reproduce DuckDB's own ORDER BY … LIMIT
    // (single query vector = embeddings row 0; top-50 selection on the
    // unrounded distance, rounded only in the output projection)
    "q_sql_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |scored AS (SELECT b.vec_id AS id, $l2Expr AS d
         |           FROM q CROSS JOIN embeddings b),
         |top AS (SELECT id, d FROM scored ORDER BY d, id LIMIT 50)
         |SELECT id, round(d, 6) + 0.0 AS distance FROM top
         |ORDER BY distance, id""".stripMargin,
    // catalog arm: same selection as q_sql_topk (full-beam HNSW ⇒ exact)
    "q_sql_topk_indexed" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |scored AS (SELECT b.vec_id AS id, $l2Expr AS d
         |           FROM q CROSS JOIN embeddings b),
         |top AS (SELECT id, d FROM scored ORDER BY d, id LIMIT 50)
         |SELECT id, round(d, 6) + 0.0 AS distance FROM top
         |ORDER BY distance, id""".stripMargin,
    // quantized catalog arm: exhaustive coarse budget (ef = 2n) ⇒ exact,
    // same selection as q_sql_topk
    "q_sql_topk_sq" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |scored AS (SELECT b.vec_id AS id, $l2Expr AS d
         |           FROM q CROSS JOIN embeddings b),
         |top AS (SELECT id, d FROM scored ORDER BY d, id LIMIT 50)
         |SELECT id, round(d, 6) + 0.0 AS distance FROM top
         |ORDER BY distance, id""".stripMargin,
    // BQ catalog arm: exhaustive coarse budget (ef = 2n) ⇒ exact, same
    // selection as q_sql_topk
    "q_sql_topk_bq" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |scored AS (SELECT b.vec_id AS id, $l2Expr AS d
         |           FROM q CROSS JOIN embeddings b),
         |top AS (SELECT id, d FROM scored ORDER BY d, id LIMIT 50)
         |SELECT id, round(d, 6) + 0.0 AS distance FROM top
         |ORDER BY distance, id""".stripMargin,
    // batch arm: DuckDB's own rank-over-join window over the same parquet
    "q_sql_topk_batch" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |           WHERE vec_id < 16),
         |sc AS (SELECT q.qid AS qid, b.vec_id AS id, $l2Expr AS d
         |       FROM q CROSS JOIN embeddings b),
         |rk AS (SELECT qid, id, d,
         |       row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rn
         |       FROM sc)
         |SELECT qid AS query_id, id, round(d, 6) + 0.0 AS distance
         |FROM rk WHERE rn <= 10 ORDER BY query_id, distance, id""".stripMargin,
    // bounded arm: ub = each engine's own 8th-nearest distance (rank-
    // consistent selection; no boundary-ulp coupling between engines)
    "q_sql_topk_bounded" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |scored AS (SELECT b.vec_id AS id, $l2Expr AS d
         |           FROM q CROSS JOIN embeddings b),
         |d8 AS (SELECT d FROM scored ORDER BY d LIMIT 1 OFFSET 7),
         |top AS (SELECT id, d FROM scored
         |        WHERE d <= (SELECT d FROM d8) ORDER BY d, id LIMIT 15)
         |SELECT id, round(d, 6) + 0.0 AS distance FROM top
         |ORDER BY distance, id""".stripMargin,
    "q_knn_l2" -> topKSql(l2Expr, 5),
    "q_knn_bcast" -> topKSql(l2Expr, 5),
    "q_knn_cosine" -> topKSql(cosExpr, 5),
    "q_knn_upper_bound" -> topKSql(l2Expr, 10, where = "d <= 1.5"),
    "q_hnsw_search" -> topKSql(l2Expr, 5),
    "q_hnsw_indexed" -> topKSql(l2Expr, 5),
    "q_hnsw_pq_search" -> topKSql(l2Expr, 5),
    "q_pq_exact" -> topKSql(l2Expr, 5),
    // derived-bound oracle: the Spark side computes k-hit-count / recall /
    // rank-domination checks against its own exact twin and emits them as
    // constants-when-healthy; the oracle pins those constants per query
    "q_pq_search" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_hits,
        |       TRUE AS recall_ok, TRUE AS dominated
        |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
    // streaming serving unions to exactly the batch KNN result
    "q_stream_search" -> topKSql(l2Expr, 5),
    // BQ coarse pass: hamming == per-dimension sign-disagreement count,
    // recomputed UNPACKED here — a packing/popcount bug on the Spark side
    // cannot hash-match this
    "q_bq_hamming" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |sc AS (SELECT q.query_id, b.vec_id AS id,
        |       CAST(list_sum(list_transform(range(1, len(b.embedding) + 1),
        |         i -> CASE WHEN (q.qv[i] >= 0) != (b.embedding[i] >= 0)
        |              THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
        |       FROM q CROSS JOIN embeddings b)
        |SELECT query_id, id, hamming
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY hamming, id) AS rn FROM sc)
        |WHERE rn <= 5 ORDER BY query_id, hamming, id""".stripMargin,
    // the SQL-function path grades against the same unpacked recomputation
    "q_bq_sql" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |sc AS (SELECT q.query_id, b.vec_id AS id,
        |       CAST(list_sum(list_transform(range(1, len(b.embedding) + 1),
        |         i -> CASE WHEN (q.qv[i] >= 0) != (b.embedding[i] >= 0)
        |              THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
        |       FROM q CROSS JOIN embeddings b)
        |SELECT query_id, id, hamming
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY hamming, id) AS rn FROM sc)
        |WHERE rn <= 5 ORDER BY query_id, hamming, id""".stripMargin,
    // derived-bound oracle, same pattern as q_pq_search: the Spark side
    // emits constants-when-healthy (hit count, recall floor, per-rank
    // domination vs its own exact twin); the oracle pins them
    "q_bq_rerank" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_hits,
        |       TRUE AS recall_ok, TRUE AS dominated
        |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
    // approximate big-batch selection arms (derived-bound, the q_pq_search
    // pattern: SQL-recomputable query universe + pinned health booleans)
    "q_bq_approx" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_hits,
        |       TRUE AS recall_ok, TRUE AS dominated
        |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
    "q_sq_approx" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_hits,
        |       TRUE AS recall_ok, TRUE AS dominated
        |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
    // routed approx arms (r20) + the catalog auto-dispatch grade — same
    // derived-bound pattern: SQL-recomputable query universe + pinned
    // health booleans (hit count, recall floor, per-rank domination)
    "q_bq_approx_routed" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_hits,
        |       TRUE AS recall_ok, TRUE AS dominated
        |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
    "q_sq_approx_routed" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_hits,
        |       TRUE AS recall_ok, TRUE AS dominated
        |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
    "q_bq_approx_catalog" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_hits,
        |       TRUE AS recall_ok, TRUE AS dominated
        |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
    // SQ8 coarse pass: the oracle re-derives the ENTIRE quantizer in SQL —
    // per-dim min/max over the table (two zipped unnests align value with
    // dimension index), scale=(max−min)/255, the same double-arithmetic
    // floor(x+0.5) clamp the Spark encode uses (bit-identical codes), then
    // asymmetric decode-and-score. A train/encode/score bug cannot
    // hash-match this.
    "q_sq_coarse" ->
      """WITH dims AS (
        |  SELECT i, min(v) AS mn, max(v) AS mx FROM (
        |    SELECT unnest(range(1, len(embedding) + 1)) AS i,
        |           unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
        |    FROM embeddings)
        |  GROUP BY i),
        |sc AS (SELECT i, mn,
        |         CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 0.0 END AS s
        |       FROM dims),
        |dec AS (
        |  SELECT e.vec_id, sc.i,
        |         sc.mn + sc.s * (CASE WHEN sc.s > 0
        |           THEN least(255.0, greatest(0.0,
        |             floor((CAST(e.embedding[sc.i] AS DOUBLE) - sc.mn) / sc.s + 0.5)))
        |           ELSE 0.0 END) AS dv
        |  FROM embeddings e CROSS JOIN sc),
        |scored AS (
        |  SELECT q.query_id, d.vec_id AS id,
        |         sum((CAST(q.qv[d.i] AS DOUBLE) - d.dv) ^ 2) AS dist
        |  FROM (SELECT vec_id AS query_id, embedding AS qv
        |        FROM embeddings WHERE vec_id < 8) q
        |  CROSS JOIN dec d
        |  GROUP BY q.query_id, d.vec_id)
        |SELECT query_id, id, round(dist, 6) + 0.0 AS distance
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY dist, id) AS rn FROM scored)
        |WHERE rn <= 5 ORDER BY query_id, distance, id""".stripMargin,
    // exhaustive coarse pass + exact re-rank == exact KNN (see the query)
    "q_sq_exact" -> topKSql(l2Expr, 5),
    // exhaustive probes + candidates ⇒ IVFSQ is exact KNN (see the query)
    "q_sq_ivf" -> topKSql(l2Expr, 5),
    // derived-bound oracle, same pattern as q_pq_search / q_bq_rerank
    "q_sq_rerank" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_hits,
        |       TRUE AS recall_ok, TRUE AS dominated
        |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
    // exhaustive candidate budgets make the catalog quantized arms exact
    // KNN (see the queries; the dispatch arm itself is pinned in-query)
    "q_sq_catalog" -> topKSql(l2Expr, 5),
    "q_sq_ivf_catalog" -> topKSql(l2Expr, 5),
    "q_bq_catalog" -> topKSql(l2Expr, 5),
    // IVF-routed BQ at full probes + exhaustive candidates == exact KNN
    "q_bq_ivf_catalog" -> topKSql(l2Expr, 5),
    "q_ivf_probe" -> topKSql(l2Expr, 5),
    "q_ivf_catalog" -> topKSql(l2Expr, 5),
    "q_ivf_hnsw_routed" -> topKSql(l2Expr, 5),
    "q_ivf_hnsw_catalog" -> topKSql(l2Expr, 5),
    "q_pq_residual" -> topKSql(l2Expr, 5),
    "q_vecdb_search" -> searchSql(l2Expr, 5),
    "q_knn_u8" ->
      """WITH u AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(trunc(least(255.0, greatest(0.0, (CAST(x AS DOUBLE) + 0.5) * 255))) AS DOUBLE)) AS e
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, e AS qv FROM u WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.query_id, b.vec_id AS id,
        |         list_sum(list_transform(range(1, len(b.e) + 1),
        |           i -> (q.qv[i] - b.e[i]) ^ 2)) AS d
        |  FROM q CROSS JOIN u b)
        |SELECT query_id, id, round(d, 6) + 0.0 AS distance
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, id) AS rn
        |      FROM scored)
        |WHERE rn <= 5
        |ORDER BY query_id, distance, id""".stripMargin,
    "q_ingest_roundtrip" ->
      """SELECT vec_id AS id,
        |       round(CAST(embedding[1] AS DOUBLE), 6) + 0.0 AS c_first,
        |       round(CAST(embedding[len(embedding)] AS DOUBLE), 6) + 0.0 AS c_last
        |FROM embeddings ORDER BY id""".stripMargin,
    // windowed streaming agg: ts = doc_id minutes, 10-minute tumbling
    // windows ⇒ window start epoch = (doc_id // 10) · 600
    "q_stream_window_stats" ->
      """SELECT (doc_id // 10) * 600 AS win_start, lang,
        |       count(*) AS n_docs,
        |       round(avg(len(string_split(text, ' '))), 6) + 0.0 AS avg_tokens
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY win_start, lang""".stripMargin,
    // same winnowing arithmetic: k=8, w=4, base 257, mod 1e9+7; DuckDB's
    // list_reduce folds from the first element == our 0-seeded fold
    // (0·b + c0 = c0); list_slice/list_min give the per-window minimum
    "q_doc_fingerprint" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
        |           WHERE length(text) >= 8 + 4 - 1),
        |h AS (SELECT doc_id,
        |  list_transform(range(1, n - 8 + 2),
        |    i -> list_reduce(
        |      list_transform(range(0, 8), j -> CAST(ascii(substr(text, CAST(i + j AS INT), 1)) AS BIGINT)),
        |      (acc, c) -> (acc * 257 + c) % 1000000007)) AS hs,
        |  n - 8 + 1 AS ng
        |  FROM d)
        |SELECT doc_id, fp FROM (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, ng - 4 + 2),
        |      p -> list_min(list_slice(hs, CAST(p AS INT), CAST(p + 3 AS INT)))))) AS fp
        |  FROM h)
        |ORDER BY doc_id, fp""".stripMargin,
    "q_calc_dist" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 4)
         |SELECT q.query_id, b.vec_id AS id,
         |  round(list_sum(list_transform(range(1, len(b.embedding) + 1),
         |    i -> CAST(q.qv[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), 6) + 0.0 AS dot,
         |  round($l2Expr, 6) + 0.0 AS l2sq,
         |  round($cosExpr, 6) + 0.0 AS cos_d
         |FROM q CROSS JOIN embeddings b
         |ORDER BY query_id, id""".stripMargin,
    // same front-loaded div_ceil split as PqKernel.pqGroups, derived with
    // independent arithmetic: l_g = ceil(remaining / groups_left)
    "q_dim_slice" ->
      """WITH d AS (SELECT vec_id, embedding, len(embedding) AS n FROM embeddings),
        |c0 AS (SELECT *, CAST(ceil(n / 4.0) AS INT) AS l0 FROM d),
        |c1 AS (SELECT *, CAST(ceil((n - l0) / 3.0) AS INT) AS l1 FROM c0),
        |c2 AS (SELECT *, CAST(ceil((n - l0 - l1) / 2.0) AS INT) AS l2 FROM c1)
        |SELECT vec_id AS id,
        |  round(list_sum(list_transform(list_slice(embedding, 1, l0),
        |    x -> CAST(x AS DOUBLE) ^ 2)), 6) + 0.0 AS g0,
        |  round(list_sum(list_transform(list_slice(embedding, l0 + 1, l0 + l1),
        |    x -> CAST(x AS DOUBLE) ^ 2)), 6) + 0.0 AS g1,
        |  round(list_sum(list_transform(list_slice(embedding, l0 + l1 + 1, l0 + l1 + l2),
        |    x -> CAST(x AS DOUBLE) ^ 2)), 6) + 0.0 AS g2,
        |  round(list_sum(list_transform(list_slice(embedding, l0 + l1 + l2 + 1, n),
        |    x -> CAST(x AS DOUBLE) ^ 2)), 6) + 0.0 AS g3
        |FROM c2 ORDER BY id""".stripMargin,
    "q_fvecs_roundtrip" ->
      """SELECT vec_id AS id,
        |       round(CAST(embedding[1] AS DOUBLE), 6) + 0.0 AS c_first,
        |       round(CAST(embedding[len(embedding)] AS DOUBLE), 6) + 0.0 AS c_last
        |FROM embeddings ORDER BY id""".stripMargin,
    // streamed micro-batch ingest lands every source row exactly once, so
    // the extract equals the source table cell-for-cell
    "q_stream_ingest" ->
      """SELECT vec_id AS id,
        |       round(CAST(embedding[1] AS DOUBLE), 6) + 0.0 AS c_first,
        |       round(CAST(embedding[len(embedding)] AS DOUBLE), 6) + 0.0 AS c_last
        |FROM embeddings ORDER BY id""".stripMargin,
    "q_delete_pattern_survivors" ->
      """SELECT vec_id AS id, CAST(label AS VARCHAR) AS label, 'even' AS parity
        |FROM embeddings WHERE vec_id % 2 = 0 ORDER BY id""".stripMargin,
    "q_search_meta_filter" -> searchSql(l2Expr, 5, baseWhere = "b.parity = 'even'"),
    "q_search_meta" -> searchSql(cosExpr, 3, having = "d <= 0.7"),
    "q_text_stats" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w, text FROM documents)
        |SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_distinct,
        |       round(list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w), 6) + 0.0 AS avg_token_len,
        |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_regex_tokens
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |h AS (SELECT doc_id,
         |  len(list_filter(w, x -> list_contains(${lexList("de")}, x))) AS de_hits,
         |  len(list_filter(w, x -> list_contains(${lexList("en")}, x))) AS en_hits,
         |  len(list_filter(w, x -> list_contains(${lexList("es")}, x))) AS es_hits,
         |  len(list_filter(w, x -> list_contains(${lexList("fr")}, x))) AS fr_hits,
         |  len(list_filter(w, x -> list_contains(${lexList("zh")}, x))) AS zh_hits
         |  FROM t),
         |g AS (SELECT *, greatest(de_hits, en_hits, es_hits, fr_hits, zh_hits) AS top_hits FROM h)
         |SELECT doc_id, de_hits, en_hits, es_hits, fr_hits, zh_hits,
         |       CASE WHEN top_hits = 0 THEN 'und'
         |            WHEN de_hits = top_hits THEN 'de'
         |            WHEN en_hits = top_hits THEN 'en'
         |            WHEN es_hits = top_hits THEN 'es'
         |            WHEN fr_hits = top_hits THEN 'fr'
         |            ELSE 'zh' END AS predicted_lang,
         |       top_hits
         |FROM g ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |b AS (SELECT doc_id, len(w) AS n_tokens,
         |        len(list_distinct(w))::DOUBLE / len(w) AS distinct_ratio,
         |        len(list_filter(w, x -> list_contains(${lexList("en")}, x)))::DOUBLE / len(w) AS stopword_ratio
         |      FROM t),
         |c AS (SELECT *, least(1.0, n_tokens / 100.0) AS length_score FROM b)
         |SELECT doc_id, n_tokens,
         |       round(distinct_ratio, 6) + 0.0 AS distinct_ratio,
         |       round(stopword_ratio, 6) + 0.0 AS stopword_ratio,
         |       round(length_score, 6) + 0.0 AS length_score,
         |       round(0.4 * length_score + 0.3 * distinct_ratio +
         |             0.3 * least(stopword_ratio * 5.0, 1.0), 6) + 0.0 AS quality
         |FROM c ORDER BY doc_id""".stripMargin,
    "q_pii_redact" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |         '@example.com via +1 (555) 010-' ||
        |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |         ' ssn 123-45-6789 host 10.' || CAST(doc_id % 256 AS VARCHAR) ||
        |         '.0.' || CAST(doc_id % 100 AS VARCHAR) AS text
        |  FROM documents)
        |SELECT doc_id,
        |       regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |         '\+\d{1,2} \(\d{3}\) \d{3}-\d{4}', '[PHONE]', 'g'),
        |         '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
        |         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g') AS scrubbed,
        |       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |       len(regexp_extract_all(text, '\+\d{1,2} \(\d{3}\) \d{3}-\d{4}')) AS n_phone,
        |       len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
        |       len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4
        |FROM dirty ORDER BY doc_id""".stripMargin,
    "q_stream_dedup" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        |  FROM documents)
        |SELECT fingerprint, min(doc_id) AS canonical_id, count(*) AS n_docs
        |FROM f GROUP BY 1 ORDER BY canonical_id""".stripMargin,
    "q_repetition_signals" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g2 AS (SELECT doc_id, array_to_string(t[i+1:i+2], ' ') AS g
        |       FROM (SELECT doc_id, t, unnest(range(0, len(t) - 1)) AS i FROM tk)),
        |c2 AS (SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE AS top2
        |       FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
        |g3 AS (SELECT doc_id, array_to_string(t[i+1:i+3], ' ') AS g
        |       FROM (SELECT doc_id, t, unnest(range(0, len(t) - 2)) AS i FROM tk)),
        |c3 AS (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::DOUBLE / sum(c)::DOUBLE AS dup3
        |       FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1),
        |d AS (SELECT doc_id, 1.0 - len(list_distinct(t))::DOUBLE / len(t)::DOUBLE AS dtf FROM tk)
        |SELECT d.doc_id, round(d.dtf, 6) + 0.0 AS dup_token_frac,
        |       round(coalesce(c2.top2, 0.0), 6) + 0.0 AS top2gram_frac,
        |       round(coalesce(c3.dup3, 0.0), 6) + 0.0 AS dup3gram_frac
        |FROM d LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_chunking" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |           WHERE len(string_split(text, ' ')) > 0),
        |s AS (SELECT doc_id, tk, unnest(range(0, len(tk), 24)) AS st FROM t)
        |SELECT doc_id, CAST(st // 24 AS INT) AS chunk_id,
        |       array_to_string(tk[st+1:st+32], ' ') AS chunk_text,
        |       least(32, len(tk) - st) AS n_tokens
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    "q_hash_split" ->
      """SELECT doc_id,
        |       CASE WHEN h < 'cccd' THEN 'train'
        |            WHEN h < 'e666' THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |             substr(md5('r14:' || CAST(doc_id AS VARCHAR)), 1, 4) AS h
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_decontaminate" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |dg AS (SELECT DISTINCT doc_id, array_to_string(t[i+1:i+8], ' ') AS g
        |       FROM (SELECT doc_id, t, unnest(range(0, len(t) - 7)) AS i FROM tk)),
        |bg AS (SELECT doc_id AS bench_id, g FROM dg WHERE doc_id % 20 = 0)
        |SELECT d.doc_id, b.bench_id, count(*) AS n_shared
        |FROM dg d JOIN bg b ON d.g = b.g
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_bm25_topk" ->
      s"""WITH q(query_id, qtext) AS (VALUES
         |  (0, 'key agg row scan'), (1, 'batch window join'),
         |  (2, 'slow fast table value'), (3, 'customer query line')),
         |$bm25Ctes
         |SELECT query_id, doc_id, round(score, 6) + 0.0 AS score, rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |      FROM bscores)
         |WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    "q_hybrid_rrf" ->
      s"""WITH q AS (
         |  SELECT d.doc_id AS query_id, d.text AS qtext, e.embedding AS qv
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
         |  WHERE d.doc_id < 5),
         |$bm25Ctes,
         |brank AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |    FROM bscores)
         |  WHERE rank <= 20),
         |vscored AS (SELECT q.query_id, b.vec_id AS id, $cosExpr AS d
         |            FROM q CROSS JOIN embeddings b),
         |vrank AS (
         |  SELECT query_id, id, rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, id) AS rank
         |    FROM vscored)
         |  WHERE rank <= 20),
         |fused AS (
         |  SELECT coalesce(b.query_id, v.query_id) AS query_id,
         |         coalesce(b.doc_id, v.id) AS id,
         |         coalesce(1.0 / (60 + b.rank), 0.0) +
         |         coalesce(1.0 / (60 + v.rank), 0.0) AS rrf
         |  FROM brank b FULL OUTER JOIN vrank v
         |    ON b.query_id = v.query_id AND b.doc_id = v.id)
         |SELECT query_id, id, round(rrf, 6) + 0.0 AS rrf, rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, id) AS rank
         |      FROM fused)
         |WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    "q_recall" ->
      s"""$recallCte
         |SELECT l2top.query_id, round(len(list_intersect(l2top.ids, ctop.ids)) / 10.0, 6) + 0.0 AS recall
         |FROM l2top JOIN ctop ON l2top.query_id = ctop.query_id
         |ORDER BY 1""".stripMargin,
    "q_recall_avg" ->
      s"""$recallCte
         |SELECT round(avg(r), 6) + 0.0 AS avg_recall FROM (
         |  SELECT len(list_intersect(l2top.ids, ctop.ids)) / 10.0 AS r
         |  FROM l2top JOIN ctop ON l2top.query_id = ctop.query_id)""".stripMargin,
    "q_multimodal_features" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len, md5(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        |  FROM documents)
        |SELECT doc_id, fingerprint,
        |       count(*) OVER (PARTITION BY fingerprint) AS group_size,
        |       min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
        |       doc_id <> min(doc_id) OVER (PARTITION BY fingerprint) AS is_duplicate
        |FROM f ORDER BY doc_id""".stripMargin,
    "q_dedup_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(w) - 1),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |      FROM t WHERE len(w) >= 3),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |        len(list_intersect(a.sh, b.sh))::DOUBLE /
        |          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
        |      FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id, round(j, 6) + 0.0 AS jaccard FROM p
        |WHERE j >= 0.5 ORDER BY a_id, b_id""".stripMargin,
    // derived-bound oracle (q_pq_search pattern): the rows are the exact
    // n-gram pair universe — recomputed here, values and all — and the
    // probabilistic op's health booleans are pinned constants (recall ≥
    // 0.9 of this universe; emitted ⊆ universe by exact verification)
    "q_dedup_minhash" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(w) - 1),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |      FROM t WHERE len(w) >= 3),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |        len(list_intersect(a.sh, b.sh))::DOUBLE /
        |          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
        |      FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id, round(j, 6) + 0.0 AS jaccard,
        |       TRUE AS recall_ok, TRUE AS subset_ok
        |FROM p WHERE j >= 0.5 ORDER BY a_id, b_id""".stripMargin,
    // derived-bound oracle: one row per document, health booleans pinned
    // (recall ≥ 0.7 vs the exact n-gram universe; emitted pairs
    // angle-close under the sketch's own token-multiset-cosine metric —
    // p10/mean quantile floors; minimum emitted-pair count — the
    // anti-degenerate floor)
    "q_dedup_simhash" ->
      """SELECT doc_id, TRUE AS recall_ok, TRUE AS similar_ok,
        |       TRUE AS emitted_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    // transitive closure of the ngram pair set via recursive CTE; the
    // component id is the minimum reachable doc id (matching the Spark
    // side's min-label convergence), size and canonical derived from it
    "q_dedup_components" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(w) - 1),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |      FROM t WHERE len(w) >= 3),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |      FROM s a JOIN s b ON a.doc_id < b.doc_id
        |      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |e AS (SELECT a_id AS u, b_id AS v FROM p
        |      UNION ALL SELECT b_id, a_id FROM p),
        |reach(u, v) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
        |comp AS (
        |  SELECT d.doc_id,
        |         least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS component_id
        |  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
        |  GROUP BY d.doc_id)
        |SELECT doc_id, component_id,
        |       count(*) OVER (PARTITION BY component_id) AS component_size,
        |       doc_id = component_id AS is_canonical
        |FROM comp ORDER BY doc_id""".stripMargin,
    "q_dedup_semantic" ->
      """WITH p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         list_sum(list_transform(range(1, len(a.embedding) + 1),
        |           i -> (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)) ^ 2)) AS d
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT a_id, b_id, round(d, 6) + 0.0 AS distance FROM p
        |WHERE d <= 1.2 ORDER BY a_id, b_id""".stripMargin,
    "q_centroid_histogram" ->
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
         |d AS (
         |  SELECT b.vec_id, c.cid,
         |         list_sum(list_transform(range(1, len(b.embedding) + 1),
         |           i -> (CAST(b.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) ^ 2)) AS d
         |  FROM embeddings b CROSS JOIN c
         |),
         |a AS (SELECT vec_id, cid,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d)
         |SELECT cid AS cluster, count(*) AS cnt FROM a WHERE rn = 1
         |GROUP BY cluster ORDER BY cluster""".stripMargin,
  )
}
