package vecbench

import java.util.SplittableRandom

/** Seeded synthetic corpus. Every row and every query is a pure function of
  * `(seed, stream, index)`, so the copy Spark ingests (generated inside
  * tasks) and the driver-side copy used for ground truth and output checks
  * (generated on benchmark threads) agree bit for bit without ever being
  * shipped between the two.
  *
  * Rows are `center(c) + Σ z_j · basis_j + noise`: `clusters` Gaussian
  * centers, a shared low-rank (`rank`) basis and small iid noise. That is
  * the shape of GIST-like descriptors and sentence embeddings alike:
  * clustered, with an intrinsic dimension far below `dim`. The centers and
  * basis come from the fixed `modelSeed`, so every `seed` draws a sample
  * of the same distribution: seeds vary the rows, not the workload. */
final case class Fixture(dim: Int, clusters: Int, rank: Int, latent: Float,
    noise: Float, modelSeed: Long, seed: Long, withMeta: Boolean) {

  @transient private lazy val model: (Array[Array[Float]], Array[Array[Float]]) = {
    val r = new SplittableRandom(Fixture.mix(modelSeed, -1L, 0L))
    val centers = Array.fill(clusters)(Array.fill(dim)(r.nextGaussian().toFloat))
    val scale = latent / math.sqrt(rank.toDouble)
    val basis = Array.fill(rank)(Array.fill(dim)((r.nextGaussian() * scale).toFloat))
    (centers, basis)
  }

  def cluster(stream: Long, i: Long): Int =
    new SplittableRandom(Fixture.mix(seed, stream, i)).nextInt(clusters)

  def vector(stream: Long, i: Long): Array[Float] = {
    val r = new SplittableRandom(Fixture.mix(seed, stream, i))
    val (centers, basis) = model
    val v = centers(r.nextInt(clusters)).clone()
    var j = 0
    while (j < rank) {
      val z = r.nextGaussian().toFloat
      val b = basis(j)
      var d = 0
      while (d < dim) { v(d) += z * b(d); d += 1 }
      j += 1
    }
    var d = 0
    while (d < dim) { v(d) += noise * r.nextGaussian().toFloat; d += 1 }
    v
  }

  /** Metadata of base row `i` (null when the corpus carries none). */
  def meta(i: Long): Map[String, String] =
    if (!withMeta) null
    else Map("doc" -> s"doc-$i", "topic" -> s"t${cluster(Fixture.Base, i)}")

  /** UTF-8 bytes of row `i`'s metadata keys and values. */
  def metaBytes(i: Long): Long =
    if (!withMeta) 0L
    else meta(i).iterator.map { case (k, v) => (k + v).getBytes("UTF-8").length.toLong }.sum
}

object Fixture {
  /** Row streams: base rows (ingested and appended) and query vectors. */
  val Base = 1L
  val Query = 2L

  /** GIST-like clustered L2 descriptors. */
  def gist960(seed: Long): Fixture =
    Fixture(960, 64, 24, 0.8f, 0.3f, 960L, seed, withMeta = false)

  /** Sentence-embedding-like cosine vectors with string metadata. */
  def embed384(seed: Long): Fixture =
    Fixture(384, 32, 16, 2.5f, 0.5f, 384L, seed, withMeta = true)

  /** splitmix64 finalizer over the three coordinates. */
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Driver-side copy of the base stream, grown on demand (appends extend
  * it). */
final class Corpus(val fx: Fixture) {
  private var rows = new Array[Array[Float]](0)
  def apply(i: Int): Array[Float] = rows(i)

  def ensure(n: Int): Unit = if (n > rows.length) {
    val grown = java.util.Arrays.copyOf(rows, n)
    Par.range(rows.length, n)(i => grown(i) = fx.vector(Fixture.Base, i))
    rows = grown
  }
}

/** Parallel loop on the JVM's common pool (at most `nproc` threads
  * counting the caller); a task's exception surfaces in the caller. */
object Par {
  def range(from: Int, until: Int)(f: Int => Unit): Unit =
    java.util.stream.IntStream.range(from, until).parallel().forEach(i => f(i))
}
