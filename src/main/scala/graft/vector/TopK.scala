package graft.vector

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bounded top-k buffer: k-slot sorted arrays (ascending (d, id)) with the
  * first `n` slots occupied. Mutated IN PLACE by the aggregator — typed
  * aggregation buffers live as JVM objects between rows within a map
  * partition, so per-row updates must not copy the arrays (the previous
  * `ds :+ x` form copied the whole buffer for EVERY candidate row). */
case class TopKBuf(var n: Int, ds: Array[Double], ids: Array[Long])

/** Per-group top-k as a typed `Aggregator` with map-side partial
  * aggregation — the scale-correct alternative to `row_number` over a
  * window: the window form shuffles EVERY candidate row to its query's
  * reducer (O(total candidates)), while this aggregator ships at most k
  * rows per query per map partition (O(#queries · k · #partitions)). The
  * same partial-selection idea as the reference's `argpartition`
  * (quake_min.py:16-20), distributed.
  *
  * Ordering: ascending (value, id) — identical tie-breaking to the window
  * form (parity-tested). Per-row cost is O(1) when the candidate loses to
  * the current worst (the common case once the heap warms up), O(k) array
  * shifts otherwise — zero allocation either way.
  */
class TopKAgg(k: Int) extends Aggregator[(Long, Double, Long), TopKBuf, Seq[(Double, Long)]] {

  override def zero: TopKBuf = TopKBuf(0, new Array[Double](k), new Array[Long](k))

  override def reduce(b: TopKBuf, a: (Long, Double, Long)): TopKBuf = {
    b.n = TopK.offer(b.ds, b.ids, b.n, k, a._2, a._3)
    b
  }

  override def merge(x: TopKBuf, y: TopKBuf): TopKBuf = {
    var i = 0
    while (i < y.n) { x.n = TopK.offer(x.ds, x.ids, x.n, k, y.ds(i), y.ids(i)); i += 1 }
    x
  }

  override def finish(b: TopKBuf): Seq[(Double, Long)] = {
    val out = new Array[(Double, Long)](b.n)
    var i = 0
    while (i < b.n) { out(i) = (b.ds(i), b.ids(i)); i += 1 }
    out.toSeq
  }

  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}

/** [[TopKAgg]] that additionally DEDUPES by id: an id already in the
  * buffer is skipped on insert (and on merge). Correct ONLY when every
  * copy of an id carries the same value — the deterministic-kernel case
  * (a beam walk re-scoring the same node reached through several edges);
  * there it fuses the would-be `groupBy(query, id)` dedupe shuffle into
  * the top-k aggregation itself. Membership test is a linear scan of the
  * ≤ k-slot buffer — k is a beam width (tens), not a corpus. */
class TopKDistinctAgg(k: Int) extends TopKAgg(k) {
  private def contains(b: TopKBuf, id: Long): Boolean = {
    var i = 0
    while (i < b.n) { if (b.ids(i) == id) return true; i += 1 }
    false
  }
  override def reduce(b: TopKBuf, a: (Long, Double, Long)): TopKBuf =
    if (contains(b, a._3)) b else super.reduce(b, a)
  override def merge(x: TopKBuf, y: TopKBuf): TopKBuf = {
    var i = 0
    while (i < y.n) {
      if (!contains(x, y.ids(i))) super.reduce(x, (0L, y.ds(i), y.ids(i)))
      i += 1
    }
    x
  }
}

object TopK {
  /** Insert `(d, id)` into the ascending `(d, id)`-sorted prefix
    * `ds/ids(0 until n)` of a `k`-slot buffer, dropping the worst on
    * overflow; returns the new prefix length. The one ordering the
    * aggregators above and the driver-side HNSW walks share. */
  def offer(ds: Array[Double], ids: Array[Long], n: Int, k: Int, d: Double, id: Long): Int =
    if (n < k) {
      var j = n
      while (j > 0 && (d < ds(j - 1) || (d == ds(j - 1) && id < ids(j - 1)))) {
        ds(j) = ds(j - 1); ids(j) = ids(j - 1); j -= 1
      }
      ds(j) = d; ids(j) = id
      n + 1
    } else {
      if (d < ds(k - 1) || (d == ds(k - 1) && id < ids(k - 1))) {
        var j = k - 1
        while (j > 0 && (d < ds(j - 1) || (d == ds(j - 1) && id < ids(j - 1)))) {
          ds(j) = ds(j - 1); ids(j) = ids(j - 1); j -= 1
        }
        ds(j) = d; ids(j) = id
      }
      n
    }

  /** Per-query top-k over candidate rows `(query_id, dist2, vec_id, ...)`
    * via [[TopKAgg]]. Output matches the window form bit-for-bit:
    * `(query_id, rank, vec_id, dist2)`. */
  def perQuery(cands: DataFrame, k: Int): DataFrame =
    perQueryWith(cands, new TopKAgg(k))

  /** [[perQuery]] with id-dedupe fused into the heap ([[TopKDistinctAgg]]
    * — duplicate ids must carry identical values). */
  def perQueryDistinct(cands: DataFrame, k: Int): DataFrame =
    perQueryWith(cands, new TopKDistinctAgg(k))

  private def perQueryWith(cands: DataFrame, agg: TopKAgg): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands
      .select(col("query_id").cast("long"), col("dist2").cast("double"), col("vec_id").cast("long"))
      // null distances (corrupt rows) can't beat any real neighbor; the
      // window form ranks them last, the heap simply drops them
      .filter(col("dist2").isNotNull)
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .agg(agg.toColumn.name("topk"))
      .flatMap { case (qid, top) =>
        top.iterator.zipWithIndex.map { case ((d, id), i) => (qid, i + 1, id, d) }
      }
      .toDF("query_id", "rank", "vec_id", "dist2")
  }
}
