package perfbench

import graft.index.{IvfBuild, IvfMaintain, IvfModel, IvfMutate, IvfSearch}
import org.apache.spark.sql.DataFrame

/** The reference's online protocol: Zipf member queries over a
  * Gaussian-mixture corpus, one query per search, 10 inserts + 10 deletes
  * after every 20 queries, and periodic `maintain`.
  *
  * The corpus fits graft's local-fit budget, so the client searches a
  * driver mirror of the index (`chooseProbesLocal` + `scanTopKDriver`) and
  * re-collects the mirror after every mutation, while every mutation is a
  * chain of Spark jobs. One cycle is 40 queries, two churn batches and one
  * `maintain`: the reference maintains every 50 queries, and a 40-query
  * period keeps every cycle's op mix the same. */
final class IvfWorkload(ctx: Ctx, n: Int, dim: Int, nClusters: Int) extends Workload {
  import ctx._
  require(n.toLong * dim <= graft.vector.KMeans.LocalFitThresholdDefault,
    "the corpus must fit the driver mirror")

  private val k = 10
  private val queriesPerChurn = 20
  private val churnsPerCycle = 2
  private val churn = 10
  private val warmupQueries = 400
  private val params = IvfSearch.Params(k = k, targetRecall = 0.9, maxProbe = 64)

  private var mix: Gen.Mixture = _
  private var live: LiveSet = _
  private var model: IvfModel = _
  private var mirror: Array[(Long, Long, Array[Float])] = _
  private var queryRng: java.util.SplittableRandom = _
  private var churnRng: java.util.SplittableRandom = _
  private var zipf: Gen.Zipf = _
  private var nextId = 0L
  private var q = 0L
  private var nprobeSum = 0.0
  private var scannedSum = 0.0
  private var queriesAnswered = 0L

  def setup(): Unit = {
    mix = Gen.mixture(seed, "ivf-corpus", n, dim, nClusters)
    live = new LiveSet(dim)
    mix.vecs.indices.foreach(i => live.add(i.toLong, mix.vecs(i)))
    queryRng = Gen.rng(seed, "ivf-queries")
    churnRng = Gen.rng(seed, "ivf-churn")
    zipf = new Gen.Zipf(nClusters, 1.1, Gen.rng(seed, "ivf-zipf"))
    nextId = 1000000000L
    q = 0L
    val source = vectorsDf(mix.vecs.indices.map(_.toLong), mix.vecs.toIndexedSeq)
    model = span("ivf_build.build")(IvfBuild.build(source, dim, nRowsHint = Some(n.toLong)))
    refreshMirror()
    // untimed warm-up: enough searches to compile the scan kernels, one
    // churn batch
    (0 until warmupQueries).foreach(_ => search(nextQueries(1), record = false))
    mutate(record = false)
  }

  def cycle(): Unit = {
    (0 until churnsPerCycle).foreach { _ =>
      (0 until queriesPerChurn).foreach(_ => search(nextQueries(1), record = true))
      mutate(record = true)
    }
    maintain()
  }

  private def nextQueries(bs: Int): IndexedSeq[(Long, Array[Float])] =
    (0 until bs).map { _ =>
      val members = mix.members(zipf.next())
      // a random live member of the drawn cluster, plus N(0, 0.1) noise
      var tries = 0
      var id = members(queryRng.nextInt(members.length)).toLong
      while (!live.contains(id) && tries < 16) {
        id = members(queryRng.nextInt(members.length)).toLong; tries += 1
      }
      val base = if (live.contains(id)) live.vec(id) else mix.vecs(members.head)
      q += 1
      (q, base.map(x => x + (queryRng.nextGaussian() * 0.1).toFloat))
    }

  private def search(qs: IndexedSeq[(Long, Array[Float])], record: Boolean): Unit = {
    tracer.requestId = qs.head._1
    val ((res, probes), ms) = timed {
      val probes = span("ivf_search.choose_probes")(IvfSearch.chooseProbesLocal(model, qs, params))
      val qIndex = qs.indices.map(i => qs(i)._1 -> i).toMap
      val probing = probes.groupBy(_._2).view.mapValues(_.map(p => qIndex(p._1)).toArray).toMap
      (span("ivf_search.scan_driver")(IvfSearch.scanTopKDriver(mirror, qs, probing, k)), probes)
    }
    // the reference's hit accounting, which drives maintain's split choice
    val hits = probes.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    model = model.copy(
      partitions = model.partitions.map(p => p.copy(hits = p.hits + hits.getOrElse(p.pid, 0L))),
      queryCounter = model.queryCounter + qs.length)
    if (record) {
      rec.readMs += ms
      rec.ops += qs.length
      queriesAnswered += qs.length
      nprobeSum += probes.size
      scannedSum += probes.map(_._3).sum
    }
    if (record) oracle {
      val exact = live.topK(qs.map(_._2), k)
      val byQ = res.groupBy(_._1)
      qs.indices.foreach { i =>
        val got = byQ.getOrElse(qs(i)._1, Array.empty).sortBy(_._2).map(r => (r._3, r._4)).toSeq
        val (recall, ok) = Oracle.checkQuery(live, qs(i)._2, got, exact(i), k)
        rec.quality += recall
        rec.op(ok, s"ivf search q=${qs(i)._1} got=${got.map(_._1).mkString(",")}")
      }
    }
  }

  /** One churn batch, timed from issue until the next search can see it. */
  private def mutate(record: Boolean): Unit = {
    val adds = (0 until churn).map { _ => nextId += 1; (nextId, Gen.noise(churnRng, dim)) }
    val dels = Iterator.continually(churnRng.nextInt(n).toLong).filter(live.contains).distinct.take(churn).toVector
    val addDf = vectorsDf(adds.map(_._1), adds.map(_._2))
    val delDf = spark.createDataFrame(dels.map(Tuple1(_))).toDF("vec_id")
    val (_, ms) = timed {
      val before = model.vectors
      model = span("ivf_mutate.insert")(IvfMutate.insert(model, addDf))
      model = span("ivf_mutate.delete")(IvfMutate.delete(model, delDf))
      commit(before)
    }
    adds.foreach { case (id, v) => live.add(id, v) }
    dels.foreach(live.remove)
    if (record) {
      rec.writeMs += ms
      rec.ops += adds.length + dels.length
    }
    checkSize(record, "churn")
  }

  private def maintain(): Unit = {
    val (_, ms) = timed {
      val before = model.vectors
      model = span("ivf_maintain.maintain")(IvfMaintain.maintain(model))
      commit(before)
    }
    rec.maintainMs += ms
    checkSize(record = true, "maintain")
  }

  /** Truncate lineage, release the superseded table, refresh the mirror. */
  private def commit(before: DataFrame): Unit = {
    model = span("ivf_mutate.checkpoint")(IvfMutate.checkpoint(model))
    before.unpersist()
    refreshMirror()
  }

  private def refreshMirror(): Unit =
    mirror = span("ivf_search.collect_mirror")(IvfSearch.collectMirror(model.vectors))

  private def checkSize(record: Boolean, what: String): Unit = oracle {
    val ok = model.totalVectors == live.size && mirror.length == live.size
    if (record) rec.op(ok, s"ivf $what: index holds ${model.totalVectors}, live set ${live.size}")
  }

  override def finish(): Unit = oracle {
    // the whole table, id for id, against the client's live set
    val ids = model.vectors.select("vec_id").collect().map(_.getLong(0))
    rec.op(ids.length == live.size && ids.toSet == live.idSet,
      s"ivf final table: ${ids.length} rows vs ${live.size} live")
  }

  override def gauges: Map[String, Double] = Map(
    "ivf_maintain.partitions" -> model.partitions.count(_.size > 0).toDouble,
    "ivf_maintain.husks" -> model.partitions.count(_.size == 0).toDouble,
    "ivf_search.nprobe" -> (if (queriesAnswered == 0) 0.0 else nprobeSum / queriesAnswered),
    "ivf_search.scanned_per_query" -> (if (queriesAnswered == 0) 0.0 else scannedSum / queriesAnswered))
}
