package graft.index

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Driver-resident [[Hnsw.search]], [[Hnsw.insert]] and [[Hnsw.delete]]
  * for stacks that fit the driver: at most [[MaxNodes]] members per
  * layer, and every relation within the driver budget
  * ([[graft.vector.KMeans.localFitThreshold]] floats, rows × dim — the
  * bound the IVF build and k-means already use to go local). At that
  * size each DataFrame hop, attach and clique repair is a Spark job whose
  * launch costs far more than its arithmetic; here each call settles the
  * size with one bounded counting job, then collects every layer once and
  * runs the same algebra over arrays — the seed descent through
  * [[GraphSearch.searchFromLocal]], the repairs as per-source bounded
  * heaps ([[graft.vector.TopK.offer]], the DataFrame heap's own ordering)
  * over [[graft.vector.L2Squared.of]] distances. Results are
  * bit-identical to the DataFrame form, which stays the path above the
  * bound and the parity oracle.
  *
  * Every entry point returns `None` — and the caller runs the DataFrame
  * form — when the stack or the call's input is over the bound, or when
  * the input leaves the plain-data domain the twin mirrors: a non-long id
  * column or non-float vector column, a NULL id, a NaN or infinite vector
  * element or NaN edge distance, a repeated member id in a layer, or
  * repeated query ids (where the DataFrame joins mix rows).
  * Outputs are local relations (search rows, the repaired `ups`, the
  * `touched`/deleted id sets, the joining rows), so nothing re-runs
  * behind them; the returned layers are the DataFrame path's lazy leaf
  * compositions over them. */
private[index] object HnswLocal {

  /** An edge row (two ids and a distance, 24 bytes) counts as six floats
    * against the budget. */
  private val EdgeFloats = 6

  /** The most members per layer (and input rows) the driver path
    * admits, whatever the float budget allows. Each call collects the
    * whole stack, so its cost grows with the stack. In one traced `hnsw_lifecycle`
    * benchmark run per size (64 dims, 4-vCPU VM, seed 7) the driver
    * path's search / insert / delete took 1.1 / 0.6 / 0.9 s at 4,000
    * members against the DataFrame form's 5.7 / 4.9 / 4.5 s, and
    * 1.5 / 1.0 / 1.4 s at 32,000 against 13.3 / 6.7 / 6.7 s. No larger
    * stack was measured, so the bound stops there; larger stacks take the
    * DataFrame form. */
  private[index] val MaxNodes = 32768

  /** One layer on the driver: its members and its out-edges, as read.
    * A NULL edge distance reads as NaN (the heaps drop it); a real NaN
    * never reaches here (see [[layerOf]]). */
  final class Collected(
      val ids: Array[Long],
      val vecs: Array[Array[Float]],
      val src: Array[Long],
      val dst: Array[Long],
      val dist2: Array[Double]) {
    val graph = new GraphSearch.LocalGraph(ids, vecs, src, dst)
  }

  private def budget: Long = graft.vector.KMeans.localFitThreshold

  private def isType(df: DataFrame, c: String, t: DataType): Boolean =
    df.schema.find(_.name == c).exists(_.dataType == t)

  private def isVec(df: DataFrame, c: String): Boolean =
    df.schema.find(_.name == c).exists(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    })

  private def stackTyped(layers: Seq[Hnsw.Layer]): Boolean =
    layers.forall { l =>
      isType(l.nodes, "vec_id", LongType) && isVec(l.nodes, "embedding") &&
      isType(l.graph, "src", LongType) && isType(l.graph, "dst", LongType) &&
      l.graph.schema.find(_.name == "dist2").exists(_.dataType.isInstanceOf[NumericType])
    }

  private def edgeCap: Int = math.min(Int.MaxValue - 1L, budget / EdgeFloats).toInt

  /** Whether the call's input and every layer fit, settled by ONE job
    * before any row moves: each partition of each relation counts at most
    * one row past its cap (the node relations also their widest vector),
    * and only those counts reach the driver. Members and input rows are
    * capped at `min(MaxNodes, budget / dim)`, edges at `budget / 6`. An
    * over-budget call pays this job and nothing else before the DataFrame
    * form. */
  private def admits(in: DataFrame, layers: Seq[Hnsw.Layer]): Boolean = {
    // relation 0 is the input; 1 + 2p and 2 + 2p are layer p's nodes and graph
    val rels = (in.select(lit(0)), MaxNodes.toLong) +: layers.flatMap { l =>
      Seq((l.nodes.select(size(col("embedding"))), MaxNodes.toLong), (l.graph.select(lit(0)), edgeCap.toLong))
    }
    val counted = rels.zipWithIndex.map { case ((df, cap), rel) =>
      df.rdd.mapPartitions { it =>
        var n = 0L
        var width = 0
        while (n <= cap && it.hasNext) {
          val r = it.next()
          if (!r.isNullAt(0)) width = math.max(width, r.getInt(0))
          n += 1
        }
        Iterator((rel, n, width))
      }
    }
    val parts = in.sparkSession.sparkContext.union(counted).collect()
    val rows = parts.groupMapReduce(_._1)(_._2)(_ + _)
    val dim = math.max(1, parts.iterator.map(_._3).maxOption.getOrElse(1))
    val cap = math.min(MaxNodes.toLong, budget / dim)
    rels.indices.forall { rel =>
      rows.getOrElse(rel, 0L) <= (if (rel > 0 && rel % 2 == 0) edgeCap.toLong else cap)
    }
  }

  /** `(id, vector)` rows; None on a NULL id or a non-finite vector
    * element. The DataFrame heaps keep NaN distances and rank them by
    * arrival order, which no driver heap reproduces, so such an input
    * takes the DataFrame form; a finite input scores finite or NULL. */
  private def idVecs(rows: Array[Row]): Option[(Array[Long], Array[Array[Float]])] =
    if (rows.exists(_.isNullAt(0))) None
    else {
      val vecs = rows.map(r => if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray)
      if (vecs.exists(v => v != null && v.exists(x => !java.lang.Float.isFinite(x)))) None
      else Some((rows.map(_.getLong(0)), vecs))
    }

  /** Collect the call's input (`in`, `(id, …)`) and every layer once —
    * after [[admits]], 1 + 2·L reads overlapped on
    * [[graft.WorkPool.concurrently]]. None when anything is over the
    * budget or a layer breaks the data domain (NULL ids, repeated member
    * ids, non-finite values). */
  private def collect(
      in: DataFrame,
      layers: Seq[Hnsw.Layer]): Option[(Array[Row], IndexedSeq[Collected])] =
    if (!admits(in, layers)) None
    else {
      val reads = graft.WorkPool.concurrently(
        (() => in.collect()) +: layers.flatMap { l =>
          Seq(
            () => l.nodes.select(col("vec_id"), col("embedding")).collect(),
            () => l.graph.select(col("src"), col("dst"), col("dist2").cast(DoubleType)).collect())
        })
      val stack = reads.tail.grouped(2).map { case Seq(nodeRows, edgeRows) => layerOf(nodeRows, edgeRows) }
        .toIndexedSeq
      if (stack.forall(_.isDefined)) Some((reads.head, stack.map(_.get))) else None
    }

  /** One collected layer; None on a NULL id, a repeated member id, a
    * non-finite vector element or a NaN edge distance (see [[idVecs]]). */
  private def layerOf(nodeRows: Array[Row], edgeRows: Array[Row]): Option[Collected] =
    idVecs(nodeRows).collect {
      case (ids, vecs)
          if ids.distinct.length == ids.length &&
            !edgeRows.exists(r => r.isNullAt(0) || r.isNullAt(1) || (!r.isNullAt(2) && r.getDouble(2).isNaN)) =>
        new Collected(
          ids, vecs,
          edgeRows.map(_.getLong(0)),
          edgeRows.map(_.getLong(1)),
          edgeRows.map(r => if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
    }

  /** [[Hnsw]]'s level rule, `pmod(xxhash64(vec_id), mod) == 0`, on the
    * driver: catalyst's own XXH64 at `xxhash64`'s seed 42. */
  private def onLevel(id: Long, mod: Long): Boolean =
    java.lang.Math.floorMod(XXH64.hashLong(id, 42L), mod) == 0L

  /** The top layer's `perLayerK` nearest members of `qvec` (Hnsw.topSeeds). */
  private def topSeeds(top: Collected, qvec: Array[Float], perLayerK: Int): Array[Long] = {
    val ds = new Array[Double](perLayerK)
    val ids = new Array[Long](perLayerK)
    var n = 0
    var i = 0
    while (i < top.ids.length) {
      val d = graft.vector.L2Squared.of(top.vecs(i), qvec)
      if (!d.isNaN) n = graft.vector.TopK.offer(ds, ids, n, perLayerK, d, top.ids(i))
      i += 1
    }
    java.util.Arrays.copyOf(ids, n)
  }

  /** `body(query index, one walk scratch per layer)` for every query, in
    * one chunk per [[graft.WorkPool]] worker. Called from the caller's
    * thread, never from a pool worker (no nested submission). */
  private def overQueries[T: scala.reflect.ClassTag](
      nQ: Int,
      stack: IndexedSeq[Collected])(body: (Int, IndexedSeq[GraphSearch.WalkScratch]) => T): Array[T] = {
    graft.WorkPool.assertNotPoolThread("Hnsw driver walk")
    val out = new Array[T](nQ)
    val chunk = math.max(1, (nQ + graft.WorkPool.size - 1) / graft.WorkPool.size)
    (0 until nQ by chunk).map { from =>
      graft.WorkPool.pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val scratch = stack.map(l => new GraphSearch.WalkScratch(l.graph))
          var qi = from
          while (qi < math.min(from + chunk, nQ)) { out(qi) = body(qi, scratch); qi += 1 }
        }
      })
    }.foreach(_.get())
    out
  }

  private def local(spark: org.apache.spark.sql.SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def rankedSchema(a: String, b: String): StructType = StructType(Seq(
    StructField(a, LongType, nullable = false),
    StructField(b, LongType, nullable = false),
    StructField("rnk", IntegerType, nullable = false),
    StructField("dist2", DoubleType, nullable = false)))

  private def idsDf(spark: org.apache.spark.sql.SparkSession, name: String, ids: Iterable[Long]): DataFrame =
    local(spark, StructType(Seq(StructField(name, LongType))), ids.iterator.map(Row(_)).toSeq)

  /** Edge rows `(src, dst, rnk, dist2)` as a local relation. */
  private final class Edges {
    val rows = Seq.newBuilder[Row]
    def add(src: Long, dst: Long, rnk: Int, dist2: Double): Unit = rows += Row(src, dst, rnk, dist2)
    def df(spark: org.apache.spark.sql.SparkSession): DataFrame = local(spark, rankedSchema("src", "dst"), rows.result())
  }

  /** Per-source nearest `k` of `cands` by `(dist2, dst)` — TopK.perQuery
    * over candidate edge rows, NaN (NULL) distances dropped — appended to
    * `out` with ranks from 1. */
  private def pruneInto(
      out: Edges,
      k: Int,
      cands: mutable.LongMap[mutable.ArrayBuffer[(Long, Double)]]): Unit =
    cands.foreach { case (s, cs) =>
      val ds = new Array[Double](k)
      val ids = new Array[Long](k)
      var n = 0
      cs.foreach { case (dst, d) => if (!d.isNaN) n = graft.vector.TopK.offer(ds, ids, n, k, d, dst) }
      (0 until n).foreach(i => out.add(s, ids(i), i + 1, ds(i)))
    }

  def search(
      queries: DataFrame,
      layers: Seq[Hnsw.Layer],
      k: Int,
      beam: Int,
      rounds: Int,
      perLayerK: Int): Option[DataFrame] = {
    val q = queries.select(col("query_id"), col("qvec"))
    if (budget <= 0 || !stackTyped(layers) || !isType(q, "query_id", LongType) || !isVec(q, "qvec"))
      return None
    GraphSearch.requireWalk(k, beam, rounds)
    collect(q, layers).flatMap { case (qRows, stack) =>
      idVecs(qRows).filter { case (qids, _) => qids.distinct.length == qids.length }.map {
        case (qids, qvecs) =>
          val last = stack.length - 1
          val ranked = overQueries(qids.length, stack) { (qi, scratch) =>
            // the top seeds the layer below it; a single-layer stack walks
            // its top from its own seeds (Hnsw.search's shape)
            var seeds = topSeeds(stack.head, qvecs(qi), perLayerK)
            (1 until last).foreach { p =>
              seeds = GraphSearch.searchFromLocal(stack(p).graph, scratch(p), qvecs(qi), seeds,
                math.min(perLayerK, beam), beam, rounds).ids
            }
            GraphSearch.searchFromLocal(stack(last).graph, scratch(last), qvecs(qi), seeds, k, beam, rounds)
          }
          local(queries.sparkSession, rankedSchema("query_id", "vec_id"),
            qids.indices.flatMap { qi =>
              val r = ranked(qi)
              r.ids.indices.map(j => Row(qids(qi), r.ids(j), j + 1, r.dists(j)))
            })
      }
    }
  }

  /** Insert's result: the grown stack, its per-layer deltas, and the grown
    * top's node count (for the oversized-top warning, no count job). */
  final case class Inserted(layers: Seq[Hnsw.Layer], deltas: Seq[Hnsw.LayerDelta], topNodes: Long)

  def insert(
      layers: Seq[Hnsw.Layer],
      batch: DataFrame,
      k: Int,
      beam: Int,
      rounds: Int,
      shrink: Int,
      perLayerK: Int,
      validate: Boolean): Option[Inserted] = {
    val newRows = batch.select(col("vec_id"), col("embedding"))
    if (budget <= 0 || !stackTyped(layers) || !isType(newRows, "vec_id", LongType) || !isVec(newRows, "embedding"))
      return None
    collect(newRows, layers).flatMap { case (bRows, stack) =>
      idVecs(bRows).flatMap { case (bids, bvecs) =>
        val distinctIds = bids.distinct.length == bids.length
        if (validate) {
          require(distinctIds, "insert batch contains duplicate vec_ids")
          require(!bids.exists(stack.last.graph.index.contains),
            "insert batch contains vec_ids already present in the stack")
        }
        if (!distinctIds) None
        else Some(insertCollected(layers, stack, newRows.schema, bids, bvecs, k, beam, rounds, shrink, perLayerK))
      }
    }
  }

  private def insertCollected(
      layers: Seq[Hnsw.Layer],
      stack: IndexedSeq[Collected],
      rowSchema: StructType,
      bids: Array[Long],
      bvecs: Array[Array[Float]],
      k: Int,
      beam: Int,
      rounds: Int,
      shrink: Int,
      perLayerK: Int): Inserted = {
    val spark = layers.head.nodes.sparkSession
    val L = layers.length
    val candK = math.min(4 * k, beam)
    GraphSearch.requireWalk(candK, beam, rounds)
    // every batch row descends the whole stack; its walk at each layer is
    // both the next layer's seeds and the attach candidates there
    val walked = overQueries(bids.length, stack) { (qi, scratch) =>
      var seeds = topSeeds(stack.head, bvecs(qi), perLayerK)
      Array.tabulate(L) { p =>
        val w = GraphSearch.searchFromLocal(stack(p).graph, scratch(p), bvecs(qi), seeds, candK, beam, rounds)
        seeds = w.ids.take(perLayerK)
        w
      }
    }
    val perLayer = layers.indices.map { p =>
      val layer = layers(p)
      val c = stack(p)
      var mod = 1L
      (0 until (L - 1 - p)).foreach(_ => mod *= shrink)
      val joiners = bids.indices.filter(qi => onLevel(bids(qi), mod))
      // attach: the walk's rnk ≤ k prefix; repair: each old node that
      // gained a reverse edge re-selects its nearest k over its old
      // out-edges ∪ the arrivals (multiset, as the DataFrame union is)
      val ups = new Edges
      val cands = mutable.LongMap.empty[mutable.ArrayBuffer[(Long, Double)]]
      val arrivals = Seq.newBuilder[(Long, Long, Double)]
      joiners.foreach { qi =>
        val w = walked(qi)(p)
        (0 until math.min(k, w.ids.length)).foreach { j =>
          ups.add(bids(qi), w.ids(j), j + 1, w.dists(j))
          cands.getOrElseUpdate(w.ids(j), mutable.ArrayBuffer.empty)
          arrivals += ((w.ids(j), bids(qi), w.dists(j)))
        }
      }
      val touched = cands.keys.toSeq
      var e = 0
      while (e < c.src.length) {
        cands.get(c.src(e)).foreach(_ += ((c.dst(e), c.dist2(e))))
        e += 1
      }
      arrivals.result().foreach { case (s, d, d2) => cands(s) += ((d, d2)) }
      pruneInto(ups, k, cands)
      val upsDf = ups.df(spark)
      val joinersDf = local(spark, rowSchema, joiners.map { qi =>
        Row(bids(qi), if (bvecs(qi) == null) null else bvecs(qi).toSeq)
      })
      (Hnsw.Layer(
        layer.nodes.select("vec_id", "embedding").unionByName(joinersDf),
        layer.graph.select("src", "dst", "rnk", "dist2")
          .join(idsDf(spark, "src", touched), Seq("src"), "left_anti")
          .unionByName(upsDf)),
        Hnsw.LayerDelta(
          nodesAdded = joinersDf,
          nodesRemoved = Hnsw.emptyIdsDf(spark, "vec_id"),
          graphUpserts = upsDf,
          srcsRemoved = Hnsw.emptyIdsDf(spark, "src")),
        joiners.length)
    }
    Inserted(perLayer.map(_._1), perLayer.map(_._2), stack.head.ids.length.toLong + perLayer.head._3)
  }

  def delete(
      layers: Seq[Hnsw.Layer],
      ids: DataFrame,
      k: Int): Option[(Seq[Hnsw.Layer], Seq[Hnsw.LayerDelta])] = {
    val idCol = ids.select(col("vec_id"))
    if (budget <= 0 || !stackTyped(layers) || !isType(idCol, "vec_id", LongType)) return None
    collect(idCol, layers).flatMap { case (idRows, stack) =>
      if (idRows.exists(_.isNullAt(0))) None
      else Some(deleteCollected(layers, stack, idRows.map(_.getLong(0)).distinct, k))
    }
  }

  private def deleteCollected(
      layers: Seq[Hnsw.Layer],
      stack: IndexedSeq[Collected],
      del: Array[Long],
      k: Int): (Seq[Hnsw.Layer], Seq[Hnsw.LayerDelta]) = {
    val spark = layers.head.nodes.sparkSession
    val isDel = mutable.LongMap.from(del.iterator.map(_ -> ()))
    val delDf = idsDf(spark, "vec_id", del)
    val out = layers.indices.map { p =>
      val layer = layers(p)
      val c = stack(p)
      // each deleted node's undirected surviving neighborhood (multiset)
      val nbr = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
      var e = 0
      while (e < c.src.length) {
        val (s, d) = (c.src(e), c.dst(e))
        if (isDel.contains(s)) {
          if (!isDel.contains(d)) nbr.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d
        } else if (isDel.contains(d)) nbr.getOrElseUpdate(d, mutable.ArrayBuffer.empty) += s
        e += 1
      }
      val touched = mutable.LinkedHashSet.empty[Long]
      nbr.valuesIterator.foreach(touched ++= _)
      // repair candidates: touched survivors' remaining out-edges ∪ the
      // local clique over each hole's neighborhood, distinct pairs
      val pairs = mutable.LongMap.empty[mutable.LinkedHashSet[Long]]
      def cand(s: Long, d: Long): Unit =
        if (s != d && !isDel.contains(d)) pairs.getOrElseUpdate(s, mutable.LinkedHashSet.empty) += d
      e = 0
      while (e < c.src.length) {
        if (touched.contains(c.src(e))) cand(c.src(e), c.dst(e))
        e += 1
      }
      nbr.valuesIterator.foreach(xs => xs.foreach(a => xs.foreach(b => cand(a, b))))
      // both ends must be survivors; distances re-scored from embeddings
      val cands = mutable.LongMap.empty[mutable.ArrayBuffer[(Long, Double)]]
      pairs.foreach { case (s, ds) =>
        c.graph.index.get(s).foreach { si =>
          ds.foreach { d =>
            c.graph.index.get(d).foreach { di =>
              cands.getOrElseUpdate(s, mutable.ArrayBuffer.empty) +=
                ((d, graft.vector.L2Squared.of(c.vecs(si), c.vecs(di))))
            }
          }
        }
      }
      val ups = new Edges
      pruneInto(ups, k, cands)
      val upsDf = ups.df(spark)
      val gone = idsDf(spark, "src", del.toSeq ++ touched)
      (Hnsw.Layer(
        layer.nodes.join(delDf, Seq("vec_id"), "left_anti"),
        layer.graph.select("src", "dst", "rnk", "dist2")
          .join(gone, Seq("src"), "left_anti")
          .unionByName(upsDf)),
        Hnsw.LayerDelta(
          nodesAdded = Hnsw.emptyNodesDf(spark),
          nodesRemoved = delDf,
          graphUpserts = upsDf,
          srcsRemoved = gone))
    }
    (out.map(_._1), out.map(_._2))
  }
}
