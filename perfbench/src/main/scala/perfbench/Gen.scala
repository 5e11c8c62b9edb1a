package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input of a run derives from `--seed`
  * through a named stream, so the same seed yields the same rows and the
  * engine never sees anything but the generated rows. */
object Gen {

  /** Independent stream per (seed, name, index). */
  def rng(seed: Long, stream: String, index: Long = 0L): SplittableRandom = {
    val h = scala.util.hashing.MurmurHash3.stringHash(stream).toLong
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (h << 32) ^ index * 0xBF58476D1CE4E5B9L)
  }

  /** Gaussian-mixture corpus: cluster centers ~ N(0, spread²) per
    * coordinate, points = center + N(0, 1). The reference's shape is
    * spread 4 (well-separated clusters). */
  final case class Mixture(vecs: Array[Array[Float]], cluster: Array[Int], nClusters: Int) {
    lazy val members: Array[Array[Int]] = {
      val b = Array.fill(nClusters)(Array.newBuilder[Int])
      cluster.indices.foreach(i => b(cluster(i)) += i)
      b.map(_.result())
    }
  }

  def mixture(seed: Long, stream: String, n: Int, dim: Int, nClusters: Int, spread: Double = 4.0): Mixture = {
    val r = rng(seed, stream)
    val centers = Array.fill(nClusters, dim)((r.nextGaussian() * spread).toFloat)
    val cl = new Array[Int](n)
    val vecs = Array.tabulate(n) { i =>
      val c = r.nextInt(nClusters)
      cl(i) = c
      val ctr = centers(c)
      Array.tabulate(dim)(d => ctr(d) + r.nextGaussian().toFloat)
    }
    Mixture(vecs, cl, nClusters)
  }

  /** Insert noise in the reference's shape: randn·0.5 + randn per element. */
  def noise(r: SplittableRandom, dim: Int): Array[Float] =
    Array.fill(dim)((r.nextGaussian() * 0.5 + r.nextGaussian()).toFloat)

  /** Zipf(α) over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, alpha: Double, r: SplittableRandom) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, alpha))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s)
    }
    def next(): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Planted-duplicate corpus: random documents over a Zipf vocabulary,
    * of which `twinFrac` get a near-duplicate twin (the copy with its
    * first two tokens dropped) and `copyFrac` an exact copy, placed in
    * the original's block. `truthRemoved` is every document a correct
    * dedup drops: all members of a planted group except its lowest id. */
  final case class Corpus(
      docId: Array[Long],
      block: Array[Int],
      text: Array[String],
      truthRemoved: Set[Long],
      exactCopies: Int)

  def corpus(seed: Long, shard: Long, nBase: Int, nBlocks: Int, twinFrac: Double, copyFrac: Double): Corpus = {
    val r = rng(seed, "corpus", shard)
    val vocab = 20000
    val zipf = new Zipf(vocab, 0.8, r)
    val idBase = shard * 10000000L
    val ids = Array.newBuilder[Long]
    val blocks = Array.newBuilder[Int]
    val texts = Array.newBuilder[String]
    val removed = Set.newBuilder[Long]
    var next = idBase
    def emit(b: Int, t: String): Long = {
      val id = next; next += 1
      ids += id; blocks += b; texts += t
      id
    }
    val originals = Array.tabulate(nBase) { _ =>
      val len = 40 + r.nextInt(41)
      val toks = Array.fill(len)("w" + Integer.toString(zipf.next(), 36))
      val b = r.nextInt(nBlocks)
      (emit(b, toks.mkString(" ")), b, toks)
    }
    var copies = 0
    originals.foreach { case (_, b, toks) =>
      if (r.nextDouble() < twinFrac) removed += emit(b, toks.drop(2).mkString(" "))
      if (r.nextDouble() < copyFrac) { removed += emit(b, toks.mkString(" ")); copies += 1 }
    }
    Corpus(ids.result(), blocks.result(), texts.result(), removed.result(), copies)
  }
}
