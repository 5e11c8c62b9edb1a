package perfbench

import graft.text.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** LLM-data dedup over a planted-duplicate corpus. One cycle is one pass
  * of the pipeline over a fresh shard: exact groups, MinHash LSH and PPJoin
  * (t = 0.5) candidate pairs over the exact-deduplicated documents, then
  * connected components over the union of both pair sets. */
final class DedupWorkload(ctx: Ctx, docsPerShard: Int, blocks: Int) extends Workload {
  import ctx._

  private val shingleN = 3
  private val minJaccard = 0.5
  private var shard = 0L
  private var pairRecall = Vector.empty[Double]
  private var pairPrecision = Vector.empty[Double]
  private var ppjoinPairs = Vector.empty[Double]

  def setup(): Unit = {
    shard = 0L
    pipeline(Gen.corpus(seed, shard, docsPerShard / 8, blocks, 0.2, 0.02), record = false)
  }

  def cycle(): Unit = {
    shard += 1
    pipeline(Gen.corpus(seed, shard, docsPerShard, blocks, 0.2, 0.02), record = true)
  }

  private def pipeline(c: Gen.Corpus, record: Boolean): Unit = {
    val docs = {
      import spark.implicits._
      spark.sparkContext
        .parallelize(c.docId.indices.map(i => (c.docId(i), c.block(i), c.text(i))), parallelism)
        .toDF("doc_id", "block", "text")
        .cache()
    }
    docs.count()
    tracer.requestId = shard
    val ((keepers, mh, pp, comps), ms) = timed {
      val exact = lazyCall("dedup.exact_groups")(Dedup.exactGroups(docs))(_.localCheckpoint())
      val keepers = exact.select("keeper_id").collect().map(_.getLong(0)).toSet
      val kept = docs.join(exact.select(col("keeper_id").as("doc_id")), Seq("doc_id"), "left_semi")
      val mh = lazyCall("dedup.minhash_lsh")(Dedup.minhashLsh(kept, shingleN, 16, 4, minJaccard)) {
        _.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val pp = lazyCall("dedup.ppjoin")(Dedup.sparseJaccardPairs(kept, "block", shingleN, minJaccard)) {
        _.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val edges = {
        import spark.implicits._
        (mh ++ pp).toSeq.toDF("id_a", "id_b")
      }
      val comps = lazyCall("dedup.components")(Dedup.connectedComponentsStar(edges)) {
        _.collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      (keepers, mh, pp, comps)
    }
    graft.CacheScope.clear()
    docs.unpersist()
    if (record) {
      rec.readMs += ms
      rec.ops += c.docId.length
    }
    oracle {
      val removedExact = c.docId.toSet -- keepers
      val removedNear = comps.collect { case (id, comp) if id != comp => id }.toSet
      val f1 = Oracle.f1(removedExact ++ removedNear, c.truthRemoved)
      if (record) {
        rec.quality += f1
        val exactOk = removedExact.size == c.exactCopies
        rec.op(f1 >= 0.95 && exactOk,
          s"dedup shard $shard: f1 $f1, exact removals ${removedExact.size} vs ${c.exactCopies} planted")
        ppjoinPairs :+= pp.size.toDouble
        pairRecall :+= (if (pp.isEmpty) 1.0 else (mh & pp).size.toDouble / pp.size)
        pairPrecision :+= (if (mh.isEmpty) 1.0 else (mh & pp).size.toDouble / mh.size)
      }
    }
  }

  override def gauges: Map[String, Double] = Map(
    "dedup.minhash_lsh.pair_recall" -> Stats.median(pairRecall),
    "dedup.minhash_lsh.pair_precision" -> Stats.median(pairPrecision),
    "dedup.ppjoin.pairs" -> Stats.median(ppjoinPairs))
}
