package perfbench

import graft.index.{Hnsw, KnnJoin}
import org.apache.spark.sql.functions.col

/** Durable HNSW lifecycle. Set-up builds the layer-0 graph with
  * NN-descent, stacks the hierarchy with `Hnsw.build` and saves it. One
  * cycle is one epoch of {search, insert + saveDelta, delete + saveDelta}
  * followed by `compact`, after which the client continues from the
  * compacted stack; the run ends with `loadLog`.
  *
  * Set-up runs no warm-up epoch: one epoch costs about as much as the rest
  * of the run, so the first timed epoch also pays first-use compilation. */
final class HnswWorkload(ctx: Ctx, n: Int, dim: Int) extends Workload {
  import ctx._

  private val k = 8
  private val topK = 10
  private val nQueries = 128
  private val batch = 16
  private val nClusters = 20
  private val searchBeam = 128
  private val searchRounds = 6

  private var mix: Gen.Mixture = _
  private var live: LiveSet = _
  private var layers: Seq[Hnsw.Layer] = _
  private var token = 0L
  private var logEpoch = 0L
  private var path: String = _
  private var rng: java.util.SplittableRandom = _
  private var nextId = 0L
  private var qid = 0L
  private var epochs = 0

  def setup(): Unit = {
    path = workDir.resolve("hnsw").toString
    // overlapping clusters: a connected k-NN graph, so recall does not
    // hinge on which clusters a seed happens to isolate
    mix = Gen.mixture(seed, "hnsw-corpus", n, dim, nClusters, spread = 1.0)
    live = new LiveSet(dim)
    mix.vecs.indices.foreach(i => live.add(i.toLong, mix.vecs(i)))
    rng = Gen.rng(seed, "hnsw-ops")
    nextId = 1000000000L
    logEpoch = 0L
    val nodesDf = vectorsDf(mix.vecs.indices.map(_.toLong), mix.vecs.toIndexedSeq).localCheckpoint()
    val g = lazyCall("knn_join.descent")(KnnJoin.knnGraphDescent(nodesDf, k, rounds = 2))(_.localCheckpoint())
    layers = span("hnsw.build") {
      Hnsw.build(nodesDf, k, None, layer0Graph = Some(g))
        .map(l => Hnsw.Layer(l.nodes.localCheckpoint(), l.graph.localCheckpoint()))
    }
    span("hnsw.save")(Hnsw.save(layers, k, path))
    token = Hnsw.loadStack(spark, path).writerToken
  }

  def cycle(): Unit = {
    epochs += 1
    runEpoch()
    val before = oracle(snapshot(layers))
    val ((st, loaded), ms) = timed {
      (span("hnsw.compact")(Hnsw.compact(spark, path)), span("hnsw.load_log")(Hnsw.loadLog(spark, path)))
    }
    layers = st.layers
    token = st.writerToken
    rec.maintainMs += ms
    oracle(checkStack(before, loaded.layers, "compact"))
  }

  private def runEpoch(): Unit = {
    searchOnce()
    // inserts: fresh points of the corpus's own clusters
    val adds = (0 until batch).map { _ =>
      nextId += 1
      val c = mix.vecs(mix.members(rng.nextInt(nClusters)).head)
      (nextId, c.map(x => x + (rng.nextGaussian() * 0.5).toFloat))
    }
    write(batch) {
      val (st, d) = span("hnsw.insert") {
        val out = Hnsw.insertWithDelta(layers, vectorsDf(adds.map(_._1), adds.map(_._2)),
          k = k, beam = 32, rounds = 2)
        annotate("plan_nodes", stackPlanNodes(out._1))
        out
      }
      layers = st
      d
    }
    adds.foreach { case (id, v) => live.add(id, v) }
    val pool = live.idSet.toVector.sorted
    val dels = Iterator.continually(pool(rng.nextInt(pool.length))).distinct.take(batch).toVector
    write(batch) {
      val (st, d) = span("hnsw.delete")(
        Hnsw.deleteWithDelta(layers, spark.createDataFrame(dels.map(Tuple1(_))).toDF("vec_id"), k))
      layers = st
      d
    }
    dels.foreach(live.remove)
  }

  private def stackPlanNodes(st: Seq[Hnsw.Layer]): Double =
    st.map(l => Ctx.planNodes(l.nodes) + Ctx.planNodes(l.graph)).sum

  /** A mutation is acknowledged once its delta epoch is durable. */
  private def write(rows: Int)(mutate: => Seq[Hnsw.LayerDelta]): Unit = {
    val (_, ms) = timed {
      val d = mutate
      logEpoch += 1
      span("hnsw.save_delta")(Hnsw.saveDelta(d, logEpoch, path, token))
    }
    rec.writeMs += ms
    rec.ops += rows
  }

  private def searchOnce(): Unit = {
    val qs = (0 until nQueries).map { _ =>
      val members = mix.members(rng.nextInt(nClusters))
      var id = members(rng.nextInt(members.length)).toLong
      if (!live.contains(id)) id = live.idSet.head
      qid += 1
      (qid, live.vec(id).map(x => x + (rng.nextGaussian() * 0.1).toFloat))
    }
    tracer.requestId = qs.head._1
    val qDf = {
      import spark.implicits._
      spark.sparkContext.parallelize(qs.map { case (i, v) => (i, v.toSeq) }, 1).toDF("query_id", "qvec")
    }
    val (rows, ms) = timed {
      lazyCall("hnsw.search")(
        Hnsw.search(qDf, layers, k = topK, beam = searchBeam, rounds = searchRounds)) {
        _.select("query_id", "vec_id", "dist2").collect()
      }
    }
    rec.readMs += ms
    rec.ops += qs.length
    oracle {
      val exact = live.topK(qs.map(_._2), topK)
      val byQ = rows.groupBy(_.getLong(0))
      qs.indices.foreach { i =>
        val got = byQ.getOrElse(qs(i)._1, Array.empty)
          .map(r => (r.getLong(1), r.getDouble(2))).sortBy(x => (x._2, x._1)).toSeq
        val (recall, ok) = Oracle.checkQuery(live, qs(i)._2, got, exact(i), topK)
        rec.quality += recall
        rec.op(ok, s"hnsw search q=${qs(i)._1} got=${got.map(_._1).mkString(",")}")
      }
    }
  }

  /** (layer, vec_id) node set and (layer, src, dst) edge set of a stack. */
  private def snapshot(st: Seq[Hnsw.Layer]): (Set[(Int, Long)], Set[(Int, Long, Long)]) = {
    val nodes = st.zipWithIndex.flatMap { case (l, i) =>
      l.nodes.select("vec_id").collect().map(r => (i, r.getLong(0)))
    }.toSet
    val edges = st.zipWithIndex.flatMap { case (l, i) =>
      l.graph.select(col("src"), col("dst")).collect().map(r => (i, r.getLong(0), r.getLong(1)))
    }.toSet
    (nodes, edges)
  }

  private def checkStack(
      want: (Set[(Int, Long)], Set[(Int, Long, Long)]),
      got: Seq[Hnsw.Layer],
      what: String): Unit = {
    val have = snapshot(got)
    val bottom = got.length - 1
    val liveOk = have._1.collect { case (`bottom`, id) => id } == live.idSet
    rec.op(have == want && liveOk,
      s"hnsw $what: stack nodes ${have._1.size}/${want._1.size}, edges ${have._2.size}/${want._2.size}, " +
        s"layer 0 matches live set: $liveOk")
  }

  override def finish(): Unit = {
    val (loaded, ms) = timed(span("hnsw.load_log")(Hnsw.loadLog(spark, path)))
    rec.maintainMs += ms
    oracle {
      val ids = loaded.layers.last.nodes.select("vec_id").collect().map(_.getLong(0))
      rec.op(ids.length == live.size && ids.toSet == live.idSet,
        s"hnsw final loadLog: layer 0 holds ${ids.length} nodes, live set ${live.size}")
    }
  }

  override def gauges: Map[String, Double] = {
    val top = layers.head.nodes.count().toDouble
    val disk = Main.treeBytes(java.nio.file.Paths.get(path)).toDouble
    Map(
      "hnsw.epochs" -> epochs.toDouble,
      "hnsw.layers" -> layers.length.toDouble,
      "hnsw.top_layer_nodes" -> top,
      "hnsw.disk_bytes_per_input_byte" -> disk / (live.size.toDouble * dim * 4))
  }
}
