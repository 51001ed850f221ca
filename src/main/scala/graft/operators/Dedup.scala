package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import graft.functions.{CentroidsWithinRadius, VectorFunctions}

/** Deduplication operators for LLM training-data pipelines — the scale
  * workloads the reference's KNN-and-metadata engine naturally extends to
  * (north star in BASELINE.json). None of these exist in the reference; each
  * is designed shuffle-frugal:
  *
  *  - exact dedup: one shuffle on a 16-byte fingerprint;
  *  - n-gram Jaccard join: inverted-index join on shingles — only docs
  *    sharing a shingle are ever paired (no all-pairs), exact (zero false
  *    negatives);
  *  - MinHash-LSH: banded signatures → candidates only for band collisions,
  *    then exact-Jaccard verification (zero false positives survive);
  *  - SimHash: 64-bit sketches, block-banded candidate join, Hamming filter;
  *  - semantic (embedding) dedup: L2-threshold self-join with sound
  *    centroid-ball blocking ([[graft.functions.CentroidsWithinRadius]]) —
  *    never all-pairs, never misses a pair under the threshold.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Document fingerprint: md5 of the sorted distinct whitespace tokens (a
    * bag-of-words signature — catches reordered/duplicated-word copies that
    * byte-identical hashing misses; swap in `md5(text)` for strict identity). */
  def wordSetFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(text, " ")))).cast("binary"))

  /** Exact (hash-groupBy) dedup: every doc annotated with its fingerprint
    * group — group size, canonical (minimum) id, duplicate flag. One shuffle
    * on the fingerprint; at 100 TB this is the cheapest possible dedup pass. */
  def exactGroups(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy("fingerprint")
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        wordSetFingerprint(col(textCol)).as("fingerprint"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("canonical_id", min("doc_id").over(w))
      .withColumn("is_duplicate", col("doc_id") =!= col("canonical_id"))
  }

  // ------------------------------------------------- n-gram Jaccard join

  /** Distinct word n-gram shingles of a text column (empty when the doc has
    * fewer than n tokens). */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        s => concat_ws(" ", slice(toks, s, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct 64-bit hashes of the word n-grams of `tokenHashes` (a column
    * of per-token xxhash64 values): each window of n consecutive token
    * hashes is re-mixed through the n-ary xxhash64. Set-equivalent to
    * `shingles(text, n)` up to 64-bit collisions (probability
    * ~shingles²·2⁻⁶⁴ per document — immaterial next to the banding's own
    * false-negative rate) while never materializing a shingle STRING.
    *
    * This declarative form is the spec oracle for the single-pass native
    * [[graft.functions.NgramHashes]] that [[minhashLshJoin]] actually runs
    * (bit-identical output; DedupSpec locks it) — the HigherOrderFunction
    * plumbing here costs 2-3× (measured 5.1 s vs 1.4 s at 100k×60 words),
    * so prefer `TextFunctions.ngramHashes` in pipelines. */
  def hashedShingles(tokenHashes: Column, n: Int): Column =
    when(size(tokenHashes) >= n,
      array_distinct(transform(
        sequence(lit(0), size(tokenHashes) - n),
        s => xxhash64((0 until n).map(j =>
          element_at(tokenHashes, s + j + 1)): _*))))
      .otherwise(array().cast("array<bigint>"))

  /** Exact n-gram Jaccard similarity self-join via an inverted shingle
    * index: explode doc→shingle, equi-join on the shingle, count common
    * shingles per pair, compute |A∩B| / (|A|+|B|−|A∩B|), keep ≥ threshold.
    *
    * Exact — a pair with Jaccard ≥ t > 0 shares ≥ 1 shingle, so it appears
    * in the join; pairs sharing nothing are never materialized. Shuffle is
    * on an 8-byte hashed-shingle key (see the note below — Jaccard values
    * are identical up to ~2⁻⁶⁴ collisions); AQE's skew handling splits hot
    * shingles.
    *
    * @return (a_id, b_id, jaccard) with a_id < b_id
    */
  def ngramJaccardJoin(
      docs: DataFrame,
      n: Int = 3,
      threshold: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // materialized: the shingle set feeds the inverted index once and the
    // size lookups twice more — recomputing the shingle build per consumer
    // dominates the join otherwise (LRU-evictable; call
    // spark.catalog.clearCache() to drop eagerly). Shingles are 64-bit
    // hashes ([[graft.functions.NgramHashes]]): |A∩B| and |A∪B| are
    // unchanged up to ~2⁻⁶⁴ collisions, the count-based Jaccard below is
    // therefore identical, and the inverted-index shuffle moves 8-byte
    // keys instead of n-gram strings — the difference between a shuffle
    // that fits and one that doesn't at corpus scale.
    val sh = docs
      .select(col(idCol).cast("long").as("doc_id"),
        graft.functions.TextFunctions.ngramHashes(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sh.count()
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("nsh"))
    val inv = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val common = inv.as("a")
      .join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("a_id"), col("nsh").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("nsh").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        (col("common").cast("double") /
          (col("na") + col("nb") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ----------------------------------------------------------- MinHash-LSH

  private val MersennePrime = (1L << 31) - 1

  /** MinHash signature of a shingle array: numHashes universal hashes
    * h_j(x) = (a_j·x + b_j) mod p over a 64-bit base hash of each shingle,
    * min-reduced per hash function. Coefficients are seeded, so signatures
    * are reproducible across runs/executors. */
  def minhashSignature(sh: Column, numHashes: Int, seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    val coeffs = Array.fill(numHashes)(
      (1 + rnd.nextLong(MersennePrime - 1), rnd.nextLong(MersennePrime)))
    // materialize the base hashes once per row (no CSE across the numHashes
    // branches otherwise — base hashing would run numHashes× per shingle)
    val baseHash = transform(sh, s => pmod(xxhash64(s), lit(MersennePrime)))
    val sig = (bh: Column) => array(coeffs.map { case (a, b) =>
      array_min(transform(bh, x => pmod(x * lit(a) + lit(b), lit(MersennePrime))))
    }: _*)
    sig(baseHash)
  }

  /** Signature computation via the single-pass native expression (all
    * `numHashes` mins in one scan of the base hashes — value-identical to
    * the per-slot columnar form). Internal to [[minhashLshJoin]]. */
  private def withSignature(sh: DataFrame, numHashes: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val coeffs = Array.fill(numHashes)(
      (1 + rnd.nextLong(MersennePrime - 1), rnd.nextLong(MersennePrime)))
    // `sh` holds 64-bit hashed shingles ([[hashedShingles]]) — already
    // xxhash64-mixed, so the universal-hash base is just `mod p`
    sh.withColumn("sig", graft.functions.TextFunctions.minhashSignature(
      transform(col("sh"), s => pmod(s, lit(MersennePrime))),
      coeffs.map(_._1), coeffs.map(_._2), MersennePrime))
  }

  /** MinHash-LSH near-duplicate join: signature → `bands` band keys → pairs
    * for any band collision → exact-Jaccard verification ≥ threshold.
    * Approximate only in recall; verified output has zero false positives.
    * Shuffles on 8-byte band keys instead of shingle strings — the scale
    * path when the shingle inverted index is too hot.
    *
    * RECALL IS PROBABILISTIC BEYOND THE BANDING STAGE: with the default
    * `prefilterSigmas`, band-collision candidates are prefiltered by
    * signature-estimated Jaccard ≥ threshold − prefilterSigmas·σ
    * (σ = ½/√numHashes, the minhash estimator's worst-case std-dev) before
    * the exact shingle verification, so a pair that would pass exact
    * verification can additionally be dropped on a > `prefilterSigmas`-σ
    * signature fluke (the σ bound assumes independent min-hashes). Set
    * `prefilterSigmas = Double.PositiveInfinity` to disable the prefilter
    * and restore the every-banded-candidate-is-exactly-verified contract at
    * the cost of shipping shingle arrays for every band collision.
    *
    * @param prefilterSigmas slack (in σ units) of the signature prefilter;
    *                        +∞ disables it
    * @return (a_id, b_id, jaccard) with a_id < b_id; jaccard is computed
    *         over distinct 64-bit hashed shingles ([[hashedShingles]]) —
    *         equal to the string-shingle Jaccard up to ~2⁻⁶⁴ collisions
    */
  def minhashLshJoin(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      seed: Long = 42L,
      idCol: String = "doc_id",
      textCol: String = "text",
      prefilterSigmas: Double = 3.0): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    val r = numHashes / bands
    // materialized: the signature pipeline feeds band keys + both sides of
    // the candidate join + both verify lookups — five consumers otherwise
    // recompute shingling and numHashes universal hashes per row each.
    // The whole pipeline runs on 64-bit HASHED shingles (the single-pass
    // native [[graft.functions.NgramHashes]]; [[hashedShingles]] is its
    // declarative twin and spec oracle): signatures, persist footprint,
    // and the verify join all move longs, never n-gram strings.
    val sh = withSignature(
      docs.select(col(idCol).cast("long").as("doc_id"),
          graft.functions.TextFunctions.ngramHashes(col(textCol), n).as("sh"))
        .filter(size(col("sh")) > 0),
      numHashes, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sh.count()
    val banded = sh.select(col("doc_id"),
      posexplode(array((0 until bands).map(i =>
        hash(slice(col("sig"), i * r + 1, r))): _*)).as(Seq("band", "bk")))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    // signature-estimated Jaccard prefilter: band collisions produce
    // candidate sets dominated by false positives (at a 50% planted-dup
    // rate, ~an order of magnitude more FPs than true pairs). Estimating J
    // from the already-computed signatures (numHashes longs — primitive
    // slot compares) before shipping the hashed-shingle arrays cuts the
    // exact-verify join's input to ~the true pairs. See the scaladoc: this
    // makes verification recall probabilistic (bounded by prefilterSigmas·σ
    // at σ = ½/√numHashes, J=1/2 worst case); +∞ disables it.
    val prefiltered =
      if (prefilterSigmas.isPosInfinity) cand
      else {
        val sigs = sh.select(col("doc_id"), col("sig"))
        val slack = prefilterSigmas * 0.5 / math.sqrt(numHashes.toDouble)
        cand
          .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("siga")), "a_id")
          .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sigb")), "b_id")
          .filter(
            aggregate(zip_with(col("siga"), col("sigb"),
                (x, y) => when(x === y, 1).otherwise(0)),
              lit(0), (acc, v) => acc + v).cast("double") / numHashes
              >= threshold - slack)
          .select(col("a_id"), col("b_id"))
      }
    // exact verification (over hashed shingle sets): join back onto the
    // surviving pairs
    val sets = sh.select(col("doc_id"), col("sh"))
    prefiltered
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sha")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // --------------------------------------------------------------- SimHash

  /** 64-bit SimHash of the token multiset: per-bit vote of each token's
    * 64-bit hash (bit b set iff a strict majority of token hashes set it;
    * ties → 0). Single-pass native expression — the equivalent 64-×-`filter`
    * column formulation rescans the token array once per bit. */
  def simhash(text: Column): Column =
    graft.functions.TextFunctions.simhash64(
      transform(split(text, " "), t => xxhash64(t)))

  /** SimHash near-duplicate join: the 64-bit sketch splits into
    * `maxHamming + 1` contiguous bands (widths as even as 64 allows —
    * e.g. 13,13,13,13,12 at the default maxHamming=4), candidates are
    * pairs agreeing on ≥ 1 band, then exact Hamming ≤ maxHamming filter
    * via bit_count(xor).
    *
    * Candidate guarantee is STRUCTURAL (pigeonhole): ≤ maxHamming flipped
    * bits can touch at most maxHamming of the maxHamming+1 bands, so every
    * pair within the Hamming cutoff shares an untouched band — the emitted
    * set is exactly ALL pairs at Hamming ≤ maxHamming, independent of
    * corpus drift. (The r18 shape — two rotated 4×16 tables — only
    * guaranteed h ≤ 3 and measured 0.82-0.88 recall at h=4 on the sf
    * fixtures; h=4 pairs whose flipped bits straddled both tables' cuts
    * were silently missed. maxHamming is REQUIRED ≤ 15 — see
    * [[simhashCandidates]] — since 16 bands of 4 bits are the narrowest
    * structural split and larger cutoffs degenerate toward all-pairs.)
    * Calibration context (banding sweep): every exact 3-gram
    * near-dup pair on the sf corpora sits at Hamming ≤ 5; maxHamming=3
    * capped recall at 0.60; h≤5 reaches 1.00 but admits visibly looser
    * pairs (min cosine 0.68) — so 4 is the default and 5 the recall-first
    * dial.
    *
    * @return (a_id, b_id, hamming) with a_id < b_id
    */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    simhashCandidates(docs, maxHamming, idCol, textCol)
      .filter(col("hamming") <= maxHamming)

  /** The banding stage of [[simhashPairs]] WITHOUT the final Hamming
    * filter: every distinct pair agreeing on ≥ 1 of the `maxHamming + 1`
    * pigeonhole bands, with its exact Hamming attached.
    *
    * `maxHamming` is capped at 15: 16 bands of 64 bits are the narrowest
    * split (4 bits each) where the pigeonhole argument is still the one
    * documented here, and values in 16..63 would silently keep pairs
    * BEYOND the h ≤ 15 structural coverage while the band join degenerates
    * toward all-pairs — neither structural nor calibrated, so they are
    * rejected rather than served loosely (ADVICE r19). */
  private[graft] def simhashCandidates(
      docs: DataFrame,
      maxHamming: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in 0..15 (got $maxHamming): the pigeonhole " +
        "banding is structural only up to 15 — larger cutoffs would keep " +
        "pairs beyond the guarantee while the candidate join degenerates " +
        "toward all-pairs")
    val sk = docs.select(col(idCol).cast("long").as("doc_id"),
      simhash(col(textCol)).as("sk"))
    val nBands = maxHamming + 1
    // even split of 64 bits: (64 mod nBands) bands get the extra bit
    val widths = Array.tabulate(nBands)(i =>
      64 / nBands + (if (i < 64 % nBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val blocks = sk.select(col("doc_id"), col("sk"),
      posexplode(array((0 until nBands).map { i =>
        // JVM shifts are mod 64: a 64-bit band (maxHamming=0) needs -1L
        val mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1
        shiftrightunsigned(col("sk"), offsets(i)).bitwiseAND(lit(mask))
      }: _*))
        .as(Seq("blk", "bv")))
    blocks.as("a")
      .join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.sk").bitwiseXOR(col("b.sk"))).as("hamming"))
      .distinct()
  }

  // --------------------------------------------- semantic (embedding) dedup

  /** Embedding near-duplicate pairs: all (a, b), a.id < b.id, with
    * distance ≤ threshold. L2-sound centroid-ball blocking: each row is
    * assigned to every centroid within (nearest + 2·radius), pairs are
    * generated only within shared buckets, then exact-verified — identical
    * results to the all-pairs join at any scale, without the all-pairs join.
    * Cosine mode L2-normalizes first (cos_dist = ‖â−b̂‖²/2 on unit vectors)
    * and thresholds/reports cosine distance.
    *
    * @param threshold l2sqr: squared-L2 cutoff; cosine: cosine-distance cutoff
    * @param maxDegeneratePairs bound on the cosine threshold ≥ 1 degenerate
    *   path, where every zero-norm vector pairs with EVERY other row at clamp
    *   distance exactly 1 — the output itself is |zeros|·(n−1) pairs, so the
    *   cost is inherent to the request, not the plan. The guard pre-counts
    *   and fails fast with the measured bound instead of launching a job
    *   whose output would be all-pairs-sized.
    * @return (a_id, b_id, distance) with a_id < b_id
    */
  def semanticPairs(
      vecs: DataFrame,
      threshold: Double,
      dist: String = "l2sqr",
      numBlocks: Int = 16,
      seed: Long = 42L,
      idCol: String = "id",
      vecCol: String = "vec",
      maxDegeneratePairs: Long = 100000000L): DataFrame = {
    val raw = vecs.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val n2 = aggregate(col("vec"), lit(0.0d),
      (acc, v) => acc + v.cast("double") * v.cast("double"))
    val base = dist match {
      case "cosine" =>
        // unit-normalize the nonzero vectors. Zero vectors are excluded
        // from the blocked join: under the reference's 1e-10 clamp their
        // cosine distance to EVERYTHING (including each other) is exactly
        // 1, so they participate only in the degenerate threshold ≥ 1 case,
        // appended explicitly below.
        raw.filter(n2 > 0.0).withColumn("vec",
          transform(col("vec"), x => (x / sqrt(n2)).cast("float")))
      case _ => raw
    }
    val t2 = dist match {
      case "cosine" => 2.0 * threshold // ‖â−b̂‖² = 2·cos_dist
      case _ => threshold
    }
    val model = Ivf.train(base, numBlocks, "l2sqr", seed = seed)
    val margin = 2.0 * math.sqrt(t2)
    // Asymmetric sound blocking: for any pair with ‖a−b‖ ≤ √t2, b's
    // distance to a's NEAREST centroid na is ≤ ‖b−a‖ + ‖a−na‖ ≤
    // min_b + 2√t2 — so the pair always meets with one side on its
    // nearest-only assignment and the other on the (nearest + margin)
    // ball cover. One bucket per row on the probe side keeps candidate
    // count at Σ_c |A_c|·|B_c| instead of duplicating every pair once
    // per shared expanded bucket (the symmetric form degenerates to
    // numBlocks × all-pairs when the margin covers the data diameter).
    // one centroid broadcast serves both sides of the blocked join
    val centroids = base.sparkSession.sparkContext.broadcast(model.centroids)
    val nearest = base.withColumn("bucket",
      Ivf.nearestCentroid(col("vec"), centroids, "l2sqr").cast("int"))
    val expanded = base.withColumn("bucket",
      explode(ColumnShim.column(CentroidsWithinRadius(
        ColumnShim.expression(col("vec")), centroids, margin))))
    val pairs = nearest.as("a")
      .join(expanded.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("a_id"),
        greatest(col("a.id"), col("b.id")).as("b_id"),
        VectorFunctions.vecL2Sq(col("a.vec"), col("b.vec")).as("d2"))
      .filter(col("d2") <= t2)
      .select(col("a_id"), col("b_id"),
        (if (dist == "cosine") col("d2") / 2.0 else col("d2")).as("distance"))
      .distinct()
    if (dist == "cosine" && threshold >= 1.0) {
      // degenerate cutoff: zero vectors sit at clamp distance exactly 1 to
      // every other row, so every pair touching one qualifies. Pre-count and
      // bound the blow-up (see maxDegeneratePairs), and broadcast the small
      // zero side so the pairing is a shuffle-free nested-loop join.
      val zeros = raw.filter(n2 === 0.0).select(col("id").as("z_id"))
      val nZeros = zeros.count()
      if (nZeros == 0L) pairs
      else {
        val nTotal = raw.count()
        val degen = nZeros * (nTotal - 1)
        require(degen <= maxDegeneratePairs,
          s"semanticPairs degenerate path (cosine threshold >= 1.0): $nZeros " +
            s"zero-norm vectors x ${nTotal - 1} rows = $degen pairs exceeds " +
            s"maxDegeneratePairs=$maxDegeneratePairs; every such pair is a " +
            "result row at clamp distance 1 — raise the cap only if that " +
            "output size is intended")
        val zpairs = raw.select(col("id").as("o_id"))
          .crossJoin(broadcast(zeros))
          .filter(col("z_id") =!= col("o_id"))
          .select(least(col("z_id"), col("o_id")).as("a_id"),
            greatest(col("z_id"), col("o_id")).as("b_id"),
            lit(1.0).as("distance"))
          .distinct()
        pairs.unionByName(zpairs)
      }
    } else pairs
  }

  // -------------------------------------- near-duplicate component grouping

  /** Connected components over a near-duplicate pair list — the step every
    * pairwise dedup (n-gram / MinHash / SimHash / semantic) needs next: a
    * chain a~b~c is ONE duplicate group even though (a, c) was never
    * emitted as a pair, and a pipeline keeps one canonical doc per group.
    *
    * Distributed min-label propagation with POINTER JUMPING: each round
    * every node takes the minimum label among itself and its neighbors,
    * then shortcuts through its label's label (`comp := comp(comp)`), so a
    * path of length L converges in O(log L) rounds instead of L (the same
    * doubling idea as the alternating large-star/small-star CC algorithm;
    * each round is two shuffles on the id key — scale-safe, no driver
    * state beyond the converged-yet counter). Deterministic: labels only
    * ever decrease toward the component's minimum id.
    *
    * @param docs  table carrying `idCol` (all docs, including non-dups —
    *              they come back as singleton components)
    * @param pairs (a_id, b_id) rows from any pairwise dedup join
    * @return (doc_id, component_id = min id in the component,
    *         component_size, is_canonical = doc_id == component_id)
    */
  def duplicateComponents(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      maxIters: Int = 25): DataFrame = {
    // one pass over the pair lineage: the upstream pairs DataFrame is
    // often an expensive join (MinHash/ngram) and a src/dst union would
    // evaluate it twice — explode each pair into both directions instead
    val edges = pairs
      .select(explode(array(
        struct(col("a_id").cast("long").as("src"),
          col("b_id").cast("long").as("dst")),
        struct(col("b_id").cast("long").as("src"),
          col("a_id").cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // every round materializes via localCheckpoint (eager): same per-round
    // compute bound as a persist+count, but the LOGICAL plan is truncated
    // to the materialized RDD too — without it each round's plan nests the
    // previous round's, and optimizer time grows quadratically with
    // iteration count (visible at deep-chain diameters; DedupSpec's
    // 2^14-path fixture exercises this). Nothing is left registered in the
    // cache manager, so a failed or completed call leaks no pinned blocks:
    // checkpoint blocks free when the DataFrame is dropped (ContextCleaner),
    // and `edges` — the one explicit persist — unpersists in the finally
    // even when the convergence check below throws.
    var labels = docs.select(col(idCol).cast("long").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .localCheckpoint()
    var it = 0
    var converged = false
    try {
      while (!converged && it < maxIters) {
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("comp").as("ncomp")), "dst")
          .groupBy("src").agg(min(col("ncomp")).as("nmin"))
        val stepped = labels
          .join(nbrMin.withColumnRenamed("src", "id"), Seq("id"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
        // pointer jumping: a label is itself a node id, so shortcut to ITS
        // label (comp(comp) ≤ comp — labels cover every id). Aliased sides:
        // a bare self-join would leave `comp === cid` ambiguous (same
        // attribute ids on both sides).
        val l = stepped.alias("l")
        val r = stepped.select(col("id").as("cid"), col("comp").as("ccomp"))
          .alias("r")
        val jumped = l.join(r, col("l.comp") === col("r.cid"))
          .select(col("l.id").as("id"), col("r.ccomp").as("comp"))
          .localCheckpoint()
        val changed = jumped.join(labels.withColumnRenamed("comp", "old"), "id")
          .filter(col("comp") < col("old")).count()
        labels = jumped
        converged = changed == 0
        it += 1
      }
    } finally edges.unpersist()
    require(converged, s"duplicateComponents did not converge in $maxIters " +
      "pointer-jumping rounds — component diameter exceeds 2^" + maxIters)
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("component_size"))
    labels.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("component_id"),
        col("component_size"),
        (col("id") === col("comp")).as("is_canonical"))
  }
}
