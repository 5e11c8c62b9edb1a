package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [engine-added] Hierarchical navigable-graph ANN index (HNSW, Malkov &
  * Yashunin TPAMI 2018), Spark-native and fully deterministic: instead
  * of random level draws, a node is on layer `i` iff
  * `xxhash64(vec_id) mod shrink^i == 0` — the same geometric level
  * distribution (expected n/shrink^i nodes per layer), but reproducible
  * and NESTED by construction (`shrink^(i+1) | h ⇒ shrink^i | h`),
  * which is the property the descend relies on. Each layer carries its
  * own k-NN graph over its members ([[KnnJoin.knnGraph]]); search
  * brute-scores the (≤ `topCap`-sized) top layer as seeds, then
  * descends: each layer's beam result seeds the next layer's
  * [[GraphSearch.searchFrom]] walk — the coarse layers do the ROUTING
  * that v35 borrows from IVF, so the graph family stands alone
  * end-to-end.
  *
  * Scale shape: layer sizes are geometric, so build cost is dominated
  * by the layer-0 graph (the same probed build the flat graph pays) and
  * total extra storage is < 1/(shrink−1) of layer-0's. Search touches
  * O(layers·rounds·beam·deg) vectors per query — logarithmic in n via
  * the layer count, the classic HNSW argument; nothing data-sized is
  * ever broadcast (the per-layer walks inherit GraphSearch's plan
  * shape: graph shuffles once on src, exchange reused across hops).
  *
  * Two execution paths, one result. When every layer of the stack and
  * the call's input fit the driver — at most `HnswLocal.MaxNodes` rows,
  * the largest stack the driver path was measured at, and within
  * `KMeans.LocalFitThresholdDefault` floats (rows × dim) per relation, the
  * bound the IVF build and k-means already use to go local —
  * [[search]], [[insert]] and [[delete]] settle the size with one
  * counting job, collect each layer once and run their walks and repairs
  * in driver arrays ([[HnswLocal]], walking with
  * [[GraphSearch.searchFromLocal]]): a handful of jobs per call instead
  * of a Spark job per hop, attach and clique repair. Above the bound the
  * DataFrame plans below run unchanged, after that one counting job; they
  * are also the driver path's parity oracle (bit-identical rows, stacks
  * and deltas; parity tests in `HnswSpec`).
  */
object Hnsw {

  /** One layer: its member vectors and its k-NN graph (src, dst, …). */
  final case class Layer(nodes: DataFrame, graph: DataFrame)

  /** The batch-sized CHANGE one mutation made to one layer — what
    * [[insertWithDelta]]/[[deleteWithDelta]] emit and [[saveDelta]]
    * persists, so streaming durability writes O(|batch|·k) rows per
    * epoch instead of re-writing the corpus-sized stack ([[save]]) every
    * trigger. Replay rule ([[applyDelta]], the one [[loadLog]] folds):
    *
    *   nodes' = (nodes ∖ nodesRemoved) ∪ nodesAdded
    *   graph' = (graph ∖ rows whose src ∈ srcsRemoved ∪ src(graphUpserts))
    *            ∪ graphUpserts
    *
    * `graphUpserts` carries the FULL new adjacency of every src it
    * mentions (insert's attach + touched-neighborhood repairs, delete's
    * repaired survivors); `srcsRemoved` lists srcs whose old adjacency
    * must drop even when no upsert row replaces it (deleted nodes, and
    * touched survivors whose repair left them edgeless). */
  final case class LayerDelta(
      nodesAdded: DataFrame,
      nodesRemoved: DataFrame,
      graphUpserts: DataFrame,
      srcsRemoved: DataFrame)

  /** Sequential COMPOSITION of two same-depth delta lists: applying the
    * returned deltas equals applying `a` then `b` under [[applyDelta]]'s
    * algebra — what [[graft.streaming.StreamingOps.hnswApplyChangelog]]
    * uses to persist a delete+insert trigger as ONE log epoch (the epoch
    * id is the streaming batchId, so a two-step trigger must still write
    * one epoch). Derivation (per layer, N = nodes, G = graph):
    *
    *   nodes:  ((N ∖ rmA) ∪ addA) ∖ rmB ∪ addB
    *         = (N ∖ (rmA ∪ rmB)) ∪ (addA ∖ rmB) ∪ addB
    *   graph:  rows from G survive iff src ∉ goneA ∪ goneB
    *           (gone = srcsRemoved ∪ src(upserts)); rows from upsA
    *           survive iff src ∉ goneB — and any src of upsA that goneB
    *           swallowed is already in srcsRemB ∪ src(upsB), so the
    *           combined srcsRemoved needs only srcsRemA ∪ srcsRemB.
    *
    * Everything here is a batch-sized plan over the two deltas' own
    * (batch-sized) tables — nothing corpus-sized moves. */
  def composeDeltas(a: Seq[LayerDelta], b: Seq[LayerDelta]): Seq[LayerDelta] = {
    require(a.length == b.length,
      s"cannot compose deltas of different depths (${a.length} vs ${b.length})")
    a.zip(b).map { case (x, y) =>
      val goneB = y.srcsRemoved.select("src")
        .unionByName(y.graphUpserts.select("src"))
        .distinct()
      LayerDelta(
        nodesAdded = x.nodesAdded
          .join(y.nodesRemoved.select("vec_id"), Seq("vec_id"), "left_anti")
          .unionByName(y.nodesAdded.select("vec_id", "embedding")),
        nodesRemoved = x.nodesRemoved.select("vec_id")
          .unionByName(y.nodesRemoved.select("vec_id")),
        graphUpserts = x.graphUpserts
          .join(goneB, Seq("src"), "left_anti")
          .unionByName(y.graphUpserts.select("src", "dst", "rnk", "dist2")),
        srcsRemoved = x.srcsRemoved.select("src")
          .unionByName(y.srcsRemoved.select("src")))
    }
  }

  /** [[LayerDelta]]'s replay rule over one layer — shared by [[loadLog]]
    * and any consumer folding a delta onto an in-memory stack. Pure plan
    * construction: nothing is materialized here. */
  def applyDelta(layer: Layer, d: LayerDelta): Layer = {
    val nodes = layer.nodes
      .select(col("vec_id"), col("embedding"))
      .join(d.nodesRemoved.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(d.nodesAdded.select(col("vec_id"), col("embedding")))
    val gone = d.srcsRemoved.select("src")
      .unionByName(d.graphUpserts.select("src"))
      .distinct()
    val graph = layer.graph
      .select("src", "dst", "rnk", "dist2")
      .join(gone, Seq("src"), "left_anti")
      .unionByName(d.graphUpserts.select("src", "dst", "rnk", "dist2"))
    Layer(nodes, graph)
  }

  private[index] def emptyIdsDf(spark: org.apache.spark.sql.SparkSession, name: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(name, org.apache.spark.sql.types.LongType))))

  private[index] def emptyNodesDf(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "embedding",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))))

  /** Brute-scored top-layer seeds `(query_id, vec_id)` — the shared
    * entry step of [[search]] and [[insert]]'s descend: every top-layer
    * member is a candidate (the layer is topCap-bounded by the build
    * contract, so the broadcast is metadata-sized). */
  private def topSeeds(q: DataFrame, top: Layer, perLayerK: Int): DataFrame =
    graft.vector.TopK.perQuery(
      q.crossJoin(broadcast(top.nodes.select(col("vec_id"), col("embedding"))))
        .select(
          col("query_id"),
          graft.vector.VectorOps.l2Sq(col("embedding"), col("qvec")).as("dist2"),
          col("vec_id")),
      perLayerK)
      .select("query_id", "vec_id")

  /** Build nested layers bottom-up over `nodes(vec_id, embedding)`:
    * layer 0 is all of `nodes`; layer i keeps members with
    * `xxhash64(vec_id) mod shrink^i == 0`, until a layer would have
    * ≤ `topCap` members (that layer becomes the brute-forceable top).
    * `model` (optional) routes each layer's graph build through the
    * probed IVF scan instead of the exact O(n²) path — the scale form.
    * `layer0Graph` (optional) supplies an already-built degree-`k` graph
    * for the full corpus — the deploy-once contract: layer 0 dominates
    * build cost (upper layers are geometrically smaller), so a cached or
    * saved artifact should be reused rather than rebuilt. Returned
    * top-first. */
  /** Size-derived partition count for a layer relation of `rows` rows —
    * the guide's "make partitioning scale-adaptive (derive from input
    * size) rather than a constant" rule, applied to the geometric layer
    * stack: a 100-node top layer cached/checkpointed at the session's
    * shuffle-partition count (32 on the bench box, thousands on a
    * cluster) pays that many near-empty tasks on EVERY downstream scan —
    * measured at sf0.1 as the dominant cost of the mutation/lifecycle
    * queries (launch floor, not compute). ~64k rows per partition,
    * clamped to the session's default parallelism so corpus-sized
    * layer-0 relations keep full-cluster width. */
  private def sizedParts(
      spark: org.apache.spark.sql.SparkSession, rows: Long): Int =
    math.max(1, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      (rows + 65535L) / 65536L).toInt)

  def build(
      nodes: DataFrame,
      k: Int,
      model: Option[IvfModel] = None,
      shrink: Int = 16,
      topCap: Long = 256L,
      layer0Graph: Option[DataFrame] = None): Seq[Layer] = {
    require(k >= 1 && shrink >= 2 && topCap >= 1,
      s"bad k=$k shrink=$shrink topCap=$topCap")
    val spark = nodes.sparkSession
    val layers = Seq.newBuilder[Layer]
    var cur = nodes.select(col("vec_id"), col("embedding"))
    var mod = 1L
    var n = cur.count()
    var done = false
    while (!done) {
      // every built graph (and upper-layer node set) is repartitioned to
      // a SIZE-DERIVED count (sizedParts) before callers cache or
      // checkpoint it: the build loop is the one place the layer's row
      // count is already known (no extra job), and an upper layer left
      // at the session shuffle-partition count costs that many
      // near-empty tasks per downstream scan forever. Hash-on-src is the
      // partitioning every walk hop's equality join wants (GraphSearch's
      // contract). Layer 0 keeps its supplied/probed shape when a shared
      // `layer0Graph` artifact is passed — adding an exchange on a
      // corpus-sized shared cache would cost, not save.
      val g =
        if (mod == 1L)
          // layer 0 keeps knnGraph's own shape on BOTH paths: the probed
          // build's rank window already leaves it hash-partitioned on the
          // src key at the session shuffle width — the right width for a
          // corpus-sized relation — and an extra sizedParts exchange here
          // was a full-corpus shuffle clamped to defaultParallelism
          // (narrower than a real cluster's shuffle setting; r20 ADVICE)
          layer0Graph.getOrElse(KnnJoin.knnGraph(cur, k, model))
        else {
          // Upper layers need an index over their OWN members, not the
          // shared corpus model: knnGraph's closure semi-join keeps only
          // candidates inside `cur`, and a full-corpus top-(k+1) lands in
          // an n/shrink^i member subset with expectation ≈ (k+1)/shrink^i
          // — measured at the 10× point the upper graphs came back near
          // EDGELESS (layer-1 mean degree ~0.5, top 0), i.e. the
          // hierarchy did no routing at all. A layer-local IVF build
          // restores real degree-k upper graphs; geometric layer sizes
          // make its cost a vanishing fraction of layer-0's.
          val local = model.map(m => IvfBuild.build(cur, m.dim, nRowsHint = Some(n)))
          KnnJoin.knnGraph(cur, k, local).repartition(sizedParts(spark, n * k), col("src"))
        }
      layers += Layer(
        if (mod == 1L) cur else cur.repartition(sizedParts(spark, n)), g)
      val nextMod = mod * shrink
      val next = nodes
        .filter(pmod(xxhash64(col("vec_id")), lit(nextMod)) === 0)
        .select(col("vec_id"), col("embedding"))
      val nextN = next.count()
      // stop ONLY when the CURRENT layer is brute-forceable as the top:
      // search crossJoins a broadcast of the whole top layer, so the
      // `≤ topCap` contract must hold unconditionally — a degenerate
      // (tiny) upper layer is harmless (its graph may be empty; the
      // descent just carries the seeds through), an OVERSIZED top is
      // not. The one exception is nextN == 0 (the hash rule left nothing
      // to shrink to — astronomically unlikely at n > topCap under a
      // uniform 64-bit hash): then the current layer stays the top and
      // the broadcast bound degrades to n — warned loudly below, not
      // just here, so the degraded bound is visible at runtime.
      if (n <= topCap || nextN == 0L) done = true
      else { cur = next; mod = nextMod; n = nextN }
    }
    val built = layers.result().reverse
    // the loop exits holding the top layer's count in `n` — no re-count
    warnIfTopOversized(n, topCap, "build")
    built
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The top layer is crossJoin-BROADCAST by [[search]]/[[topSeeds]], so
    * its size is the stack's memory contract. [[build]] can escape with an
    * oversized top only via the nextN == 0 hash fluke; [[insert]] grows
    * the top by the hash-expected trickle but NEVER re-checks — across
    * many batches the bound erodes silently. One cheap check (build
    * passes the count its loop already holds; insert's driver path its
    * collected top plus joiners, its DataFrame form a count of the grown
    * top) turns both into a loud signal: past `topCap`
    * the caller should [[deepen]] (one new level re-bounds it) rather
    * than keep broadcasting an n-sized relation. */
  private def warnIfTopOversized(topN: Long, topCap: Long, op: String): Unit =
    if (topN > topCap)
      log.warn(
        s"Hnsw.$op left a top layer of $topN nodes > topCap=$topCap — search " +
          "broadcasts the whole top layer, so this stack has outgrown its " +
          "broadcast bound; deepen (one new level) or rebuild to restore it")

  /** Batch INSERT into a built layer stack — the reference's online
    * insert semantics at micro-batch granularity, graph-natively. The
    * reference mapping is SEMANTIC, not structural: its insert
    * (notebook-embedded quake_min.py:92-109, same logic in
    * adaptive_ivf.mjs:194-218) routes one row into the nearest IVF
    * partition and updates that partition's centroid — the membership
    * contract "new rows become first-class searchable members and only
    * the touched structure pays" — while the graph-native equivalent of
    * that contract is attach + bounded neighborhood repair:
    *
    *  1. LEVEL ROUTE: a new id joins layer `i` by the SAME deterministic
    *     rule the build used (`xxhash64(vec_id) mod shrink^i == 0`), so
    *     nesting invariance holds by construction and a rebuilt-from-
    *     scratch stack would place it identically. The stack DEPTH stays
    *     fixed: an id hashing above the current top's level joins every
    *     existing layer (the top grows by the hash-expected trickle —
    *     n/shrink^(L-1) — and the post-grow size is re-checked against
    *     `topCap`, warning loudly once the broadcast bound erodes).
    *  2. DESCEND: every batch row walks the stack exactly like a query
    *     ([[search]]'s shape — brute-scored top seeds, then per-layer
    *     [[GraphSearch.searchFrom]]), the walk result at each layer
    *     doubling as (a) the seeds for the next layer down and (b) the
    *     attach CANDIDATES at layers the row joins.
    *  3. ATTACH + REPAIR, by the rule the graphs were BUILT with: these
    *     are plain top-k graphs ([[KnnJoin.knnGraph]]), so a new node's
    *     out-edges are the nearest k of its walk candidates (the walk's
    *     own rnk ≤ k prefix — already exactly scored), and old nodes
    *     that gained a reverse edge re-select their nearest k over (old
    *     edges ∪ new reverse arrivals) — only TOUCHED neighborhoods pay,
    *     everything else keeps its rows. [[delete]] measured WHY the
    *     repair rule must match the construction rule: an α-RNG repair
    *     on top-k graphs keeps fewer, sparser edges than the build did
    *     and thins density exactly around the repaired spots (0.69-0.76
    *     recall@10 vs 0.94 at 10× in delete's calibration); a stack
    *     built from α-pruned graphs would repair with
    *     [[GraphPrune.alphaPrune]] instead.
    *
    * Scale shape: per batch row the walk work is the search cost
    * (O(layers·rounds·beam·deg)); the repair is bounded by
    * |batch|·k touched nodes × ≤(k + |arrivals|) candidate edges each,
    * all distances reused from the walk/graph (no re-scoring joins) —
    * nothing data-sized moves, so micro-batch maintenance stays
    * micro-batch priced at any corpus size. A stack within the driver
    * budget (see the object header) is collected once and descended,
    * attached and repaired in driver arrays; the new top's size then
    * comes from the collected top plus its joiners, with no count job.
    * Above the budget the walks and repairs are Spark jobs whose
    * batch-sized results are checkpointed. Intra-batch edges are not
    * created on insert (candidates come from the existing members); a
    * subsequent [[KnnJoin.nnDescentRound]] — the maintenance operator —
    * recovers them, mirroring how the reference's per-row inserts only
    * see rows already present. Returns the new stack, top-first like
    * [[build]].
    */
  def insert(
      layers: Seq[Layer],
      batch: DataFrame,
      k: Int,
      beam: Int,
      rounds: Int,
      shrink: Int = 16,
      topCap: Long = 256L,
      perLayerK: Int = 8,
      validate: Boolean = true): Seq[Layer] =
    insertImpl(layers, batch, k, beam, rounds, shrink, topCap, perLayerK,
      validate, wantDelta = false)._1

  /** [[insert]] that ALSO returns the per-layer [[LayerDelta]] — the
    * batch-sized record of exactly which rows the mutation changed, for
    * [[saveDelta]]'s durability log. The delta's `graphUpserts` are
    * eagerly materialized (localCheckpoint) so persisting them later
    * never re-runs the walks; everything else in the delta is a plain
    * projection of the caller's batch. Aligned top-first with the
    * returned stack. */
  def insertWithDelta(
      layers: Seq[Layer],
      batch: DataFrame,
      k: Int,
      beam: Int,
      rounds: Int,
      shrink: Int = 16,
      topCap: Long = 256L,
      perLayerK: Int = 8,
      validate: Boolean = true): (Seq[Layer], Seq[LayerDelta]) = {
    val (st, d) = insertImpl(layers, batch, k, beam, rounds, shrink, topCap,
      perLayerK, validate, wantDelta = true)
    (st, d.get)
  }

  private def insertImpl(
      layers: Seq[Layer],
      batch: DataFrame,
      k: Int,
      beam: Int,
      rounds: Int,
      shrink: Int,
      topCap: Long,
      perLayerK: Int,
      validate: Boolean,
      wantDelta: Boolean): (Seq[Layer], Option[Seq[LayerDelta]]) = {
    require(layers.nonEmpty, "empty layer stack")
    require(k >= 1 && beam >= k && shrink >= 2, s"bad k=$k beam=$beam shrink=$shrink")
    HnswLocal.insert(layers, batch, k, beam, rounds, shrink, perLayerK, validate) match {
      case Some(done) =>
        warnIfTopOversized(done.topNodes, topCap, "insert")
        (done.layers, if (wantDelta) Some(done.deltas) else None)
      case None =>
        insertPlan(layers, batch, k, beam, rounds, shrink, topCap, perLayerK, validate, wantDelta)
    }
  }

  /** [[insertImpl]]'s DataFrame form: the stack above the driver budget,
    * and the parity oracle of the driver path. */
  private def insertPlan(
      layers: Seq[Layer],
      batch: DataFrame,
      k: Int,
      beam: Int,
      rounds: Int,
      shrink: Int,
      topCap: Long,
      perLayerK: Int,
      validate: Boolean,
      wantDelta: Boolean): (Seq[Layer], Option[Seq[LayerDelta]]) = {
    val L = layers.length
    val newRows = batch.select(col("vec_id"), col("embedding"))
    // loud micro-batch-sized guards instead of silent corruption: a
    // re-inserted (or batch-duplicated) id would union duplicate rows
    // into every layer it hashes to, and later walks/prunes would score
    // conflicting adjacencies for one id with no error anywhere. The
    // presence check scans layer-0's full id column — corpus-linear — so
    // callers that ALREADY screen the batch (hnswIngest's per-trigger
    // dedupe + anti-join) pass validate = false and pay that scan once,
    // not three times per trigger; direct callers keep the strict default.
    if (validate) {
      require(
        newRows.groupBy("vec_id").count().filter(col("count") > 1).isEmpty,
        "insert batch contains duplicate vec_ids")
      require(
        newRows.join(layers.last.nodes.select("vec_id"), Seq("vec_id"), "left_semi").isEmpty,
        "insert batch contains vec_ids already present in the stack")
    }
    val q = graft.CacheScope.track(
      newRows.select(col("vec_id").as("query_id"), col("embedding").as("qvec")).cache())
    val candK = math.min(4 * k, beam)
    // brute-scored top seeds, exactly like search (the top is
    // topCap-bounded by the build contract)
    var seeds = topSeeds(q, layers.head, perLayerK)
    val spark = batch.sparkSession
    // Phase 1 (SERIAL — each layer's walk is seeded by the previous
    // layer's result, HNSW's descent): build and cache the per-layer
    // walks, truncating the seed handoff. Phase 2 (CONCURRENT): the
    // per-layer attach+repair blocks are independent once their walk is
    // seeded — each pays two eager localCheckpoint jobs (`touched`,
    // `ups`), and running the layers' blocks in parallel (guide §2.6)
    // collapses L stacked launch floors into roughly one.
    val walkedPerLayer = layers.zipWithIndex.map { case (layer, p) =>
      // all batch rows walk every layer (they need the descent seeds);
      // rows whose hash clears this layer's modulus also attach here
      val walked = graft.CacheScope.track(
        GraphSearch
          .searchFrom(q, layer.graph, layer.nodes, seeds, k = candK, beam = beam, rounds = rounds)
          .cache())
      // the next layer's seeds are LINEAGE-TRUNCATED (|batch|·perLayerK
      // rows — one tiny job): nesting each layer's full walk plan inside
      // the next layer's turns Catalyst/AQE re-analysis super-linear in
      // depth (measured 73 s vs 16 s for the same 3-layer insert when a
      // rounds=2 walk — which never hits searchFrom's internal even-hop
      // truncation — left the cross-layer lineage intact)
      seeds = walked.filter(col("rnk") <= perLayerK).select("query_id", "vec_id")
      if (p < L - 1) seeds = seeds.localCheckpoint()
      (layer, p, walked)
    }
    val grownWithDelta = graft.WorkPool.concurrently(
      walkedPerLayer.map { case (layer, p, walked) => () =>
      var mod = 1L
      (0 until (L - 1 - p)).foreach(_ => mod *= shrink)
      val joiners = newRows.filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
      val allNodes = layer.nodes.select("vec_id", "embedding")
        .unionByName(joiners.select("vec_id", "embedding"))
      // attach: nearest k of the walk candidates — the walk already
      // scored every candidate exactly against the new row's vector, so
      // the rnk ≤ k prefix of the rnk ≤ candK result IS the top-k (the
      // same prefix property knnGraphFor's degree views rely on)
      val newOut = graft.CacheScope.track(
        walked
          .join(joiners.select(col("vec_id").as("query_id")), Seq("query_id"), "left_semi")
          .filter(col("rnk") <= k)
          .select(col("query_id").as("src"), col("vec_id").as("dst"), col("rnk"), col("dist2"))
          .cache())
      // repair: an old node that gained a reverse edge re-selects its
      // nearest ≤ k over (its old edges ∪ the new arrivals) — the
      // candidate list stays ≤ k + |reverse arrivals| rows, per-node
      // bounded work on only the touched neighborhoods, and every
      // candidate already carries its exact dist2 (graph edges from the
      // build, arrivals from the walk; L2 is symmetric) — no re-scoring
      val rev = newOut.select(col("dst").as("src"), col("src").as("dst"), col("dist2"))
      // batch-sized and lineage-truncated: `touched` feeds the returned
      // layer's anti-join, and lazily it would re-run the walk behind
      // `newOut` after the per-trigger caches drop (CacheScope.scoped)
      val touched = rev.select("src").distinct().localCheckpoint()
      val touchedCands = layer.graph
        .join(touched, Seq("src"), "left_semi")
        .select("src", "dst", "dist2")
        .unionByName(rev)
      val touchedPruned = graft.vector.TopK
        .perQuery(
          touchedCands.select(
            col("src").as("query_id"), col("dist2"), col("dst").as("vec_id")),
          k)
        .select(
          col("query_id").as("src"), col("vec_id").as("dst"),
          col("rank").as("rnk"), col("dist2"))
      val untouched = layer.graph
        .select("src", "dst", "rnk", "dist2")
        .join(touched, Seq("src"), "left_anti")
      // Only the BATCH-SIZED block is lineage-truncated: `ups` (the
      // attach rows + touched-neighborhood repairs — |batch|·k-ish rows)
      // embeds the walk plans whose re-analysis on every downstream
      // action was the measured driver cost (~7 s per walk hop at 10×),
      // so its eager localCheckpoint is the one materialization a
      // mutation pays. The returned layer plans stay LAZY compositions
      // of leaves — `parent.nodes ∪ joiners`, `(parent.graph anti
      // touched) ∪ ups` — because the parents are themselves leaves
      // (checkpointed artifacts, parquet scans, or prior epochs'
      // folds), the anti-join side is batch-sized and broadcasts, and a
      // flat union grows the plan by O(1) per epoch (the loadLog/LSM
      // shape; compact/save re-bases it). The pre-round-21 form
      // localCheckpointed allNodes AND the full grown graph — two
      // CORPUS-SIZED materializations per layer per micro-batch, i.e.
      // O(corpus) work per batch against the delta-log design's own
      // batch-sized promise (and a corpus-wide repartition on top).
      val ups = touchedPruned
        .unionByName(newOut.select("src", "dst", "rnk", "dist2"))
        .localCheckpoint()
      val grownGraph = untouched.unionByName(ups)
      if (wantDelta)
        (Layer(allNodes, grownGraph),
          Some(LayerDelta(
            nodesAdded = joiners.select("vec_id", "embedding"),
            nodesRemoved = emptyIdsDf(spark, "vec_id"),
            graphUpserts = ups,
            srcsRemoved = emptyIdsDf(spark, "src"))))
      else
        (Layer(allNodes, grownGraph), None)
    })
    val grown = grownWithDelta.map(_._1)
    warnIfTopOversized(grown.head.nodes.count(), topCap, "insert")
    (grown, if (wantDelta) Some(grownWithDelta.map(_._2.get)) else None)
  }

  /** Batch DELETE from a built layer stack — the reference's delete
    * semantics (notebook-embedded quake_min.py:111-123, same swap-remove
    * logic in adaptive_ivf.mjs:221-237; the mapping is SEMANTIC — the
    * reference drops a row from its IVF partition and the membership
    * contract "deleted ids stop being searchable, unknown ids are a
    * no-op" is what carries over, O9's anti-join form) done
    * graph-natively with FreshDiskANN's consolidation rule (Singh et
    * al., arXiv:2105.09613): per layer,
    *
    *  1. deleted members leave the node set and their OUT-edges drop;
    *  2. every SURVIVOR adjacent to a deleted id (in- OR out-neighbor —
    *     the walk symmetrizes edges, so both directions carry
    *     navigability) is TOUCHED: its repair candidates are its
    *     remaining edges ∪ the LOCAL CLIQUE over each deleted node's
    *     undirected neighborhood (all survivor pairs within N(d)) — the
    *     patch that re-links a neighborhood whose mutual connectivity
    *     ran through the hole. In-neighbor-only bridging (the first
    *     cut) measured 0.76 recall@10 for probes AT deleted spots at
    *     10× vs 0.97 for member probes on the same stack — the missing
    *     quarter were hole-neighbors only mutually reachable through
    *     the deleted hub; the clique patch restores them;
    *  3. touched nodes re-select ≤ k out-edges by the SAME rule the
    *     build used — plain nearest-k over exact distances — NOT the
    *     α-RNG heuristic: these graphs are plain top-k graphs, and an
    *     α-prune repair keeps fewer, sparser edges than the build did,
    *     thinning density exactly around the hole (measured at 10×:
    *     α-repair 0.69-0.76 recall@10 for probes AT deleted spots vs
    *     0.94 pre-delete; the matched top-k repair restores it).
    *     Untouched nodes keep their rows. A stack built from α-pruned
    *     graphs would repair with [[GraphPrune.alphaPrune]] instead —
    *     the rule to match is the graph's own construction.
    *
    * Two measured facts callers must know (10×/20k-node corpus, probes
    * AT ten deleted spots, k=10):
    *
    *  - The clique patch BEATS the full rebuild it approximates: the
    *    repaired layer-0 scored 0.69/0.96 recall@10 (member/non-member
    *    search budget) where a from-scratch `knnGraph` over the
    *    survivors scored 0.44/0.88 — the patch's extra pocket density
    *    is precision a plain top-k graph never had. For the same
    *    reason, do NOT run [[KnnJoin.nnDescentRound]] over a freshly
    *    repaired hole: descent re-normalizes every adjacency to plain
    *    top-k and STRIPS the patch (measured 0.69 → 0.47). Descent is
    *    insert's maintenance operator, not delete's.
    *  - Deleted-spot probes are adversarially OUT-OF-DISTRIBUTION: the
    *    query's best anchor is gone by construction, so it never snaps
    *    onto a distance-0 member the way live-member probes do.
    *    Searching AT a hole needs the non-member budget (more descent
    *    carriers and a wider beam — perLayerK 64 / beam 256 measured
    *    0.96 where the member budget measured 0.69; the gap is seed
    *    entry, not repair quality, and no repair closes it).
    *
    * Unknown ids are a no-op (O9's contract). Scale shape: work is
    * bounded by the touched set: ≤ |deleted|·2k nodes × ≤ (2k)²
    * clique-candidate edges per deleted id — nothing data-sized moves. A
    * stack within the driver budget (see the object header) runs the
    * neighborhood scan, clique and re-selection over its collected
    * layers in driver arrays; above it each layer's repair is a chain of
    * joins whose batch-sized result is checkpointed. Ids absent from a layer
    * simply don't affect it (nesting keeps layers consistent because
    * membership is a pure hash rule over surviving ids). Like
    * [[insert]], only the batch-sized repaired block is materialized;
    * the returned layers are lazy leaf compositions. Deleting the entire
    * top layer leaves an empty top — callers deleting at that scale
    * should rebuild instead (documented, not guarded: the hash rule
    * makes it astronomically unlikely below a mass purge). */
  def delete(
      layers: Seq[Layer],
      ids: DataFrame,
      k: Int): Seq[Layer] =
    deleteImpl(layers, ids, k, wantDelta = false)._1

  /** [[delete]] that ALSO returns the per-layer [[LayerDelta]] for
    * [[saveDelta]]'s durability log: `nodesRemoved` is the requested id
    * list (replay's anti-join keeps unknown ids a no-op, O9's contract),
    * `graphUpserts` the repaired survivors' new adjacency (eagerly
    * materialized so persistence never re-runs the repair), and
    * `srcsRemoved` the deleted srcs plus every touched survivor — a
    * superset of the upserted srcs, so a survivor whose repair left it
    * edgeless still drops its stale rows on replay. */
  def deleteWithDelta(
      layers: Seq[Layer],
      ids: DataFrame,
      k: Int): (Seq[Layer], Seq[LayerDelta]) = {
    val (st, d) = deleteImpl(layers, ids, k, wantDelta = true)
    (st, d.get)
  }

  private def deleteImpl(
      layers: Seq[Layer],
      ids: DataFrame,
      k: Int,
      wantDelta: Boolean): (Seq[Layer], Option[Seq[LayerDelta]]) = {
    require(layers.nonEmpty, "empty layer stack")
    require(k >= 1, s"k must be >= 1, got $k")
    HnswLocal.delete(layers, ids, k) match {
      case Some((shrunk, deltas)) => (shrunk, if (wantDelta) Some(deltas) else None)
      case None                   => deletePlan(layers, ids, k, wantDelta)
    }
  }

  /** [[deleteImpl]]'s DataFrame form: the stack above the driver budget,
    * and the parity oracle of the driver path. */
  private def deletePlan(
      layers: Seq[Layer],
      ids: DataFrame,
      k: Int,
      wantDelta: Boolean): (Seq[Layer], Option[Seq[LayerDelta]]) = {
    val del = graft.CacheScope.track(ids.select(col("vec_id")).distinct().cache())
    // per-layer repair blocks are fully INDEPENDENT (no cross-layer
    // dependency — membership is the pure hash rule), and each pays two
    // eager localCheckpoint jobs (`touched`, `ups`); run the layers
    // concurrently (guide §2.6) so a delete's wall is one layer's worth
    // of launch floor, not L stacked serially
    val outWithDelta = graft.WorkPool.concurrently(layers.map { layer => () =>
      val survivors = layer.nodes.join(del, Seq("vec_id"), "left_anti")
      val g = layer.graph.select("src", "dst")
      val delSrc = del.select(col("vec_id").as("src"))
      val delDst = del.select(col("vec_id").as("dst"))
      // edges whose src survives
      val keptSrc = g.join(delSrc, Seq("src"), "left_anti")
      // each deleted node's UNDIRECTED surviving neighborhood (d, x)
      val delOut = g.join(delSrc, Seq("src"), "left_semi")
      val nbr = delOut.select(col("src").as("d"), col("dst").as("x"))
        .unionByName(
          keptSrc.join(delDst, Seq("dst"), "left_semi")
            .select(col("dst").as("d"), col("src").as("x")))
        .join(del.select(col("vec_id").as("x")), Seq("x"), "left_anti")
      // batch-sized and lineage-truncated (insertImpl's rule): the
      // returned layer's anti-join must not re-run the neighborhood
      // scan after the per-trigger `del` cache drops
      val touched = nbr.select(col("x").as("src")).distinct().localCheckpoint()
      // local clique over each hole's neighborhood: ≤ (2k)² bounded pairs
      // per deleted id through one equality join on the deleted key
      val clique = nbr.as("a")
        .join(nbr.as("b"), col("a.d") === col("b.d"))
        .select(col("a.x").as("src"), col("b.x").as("dst"))
      val repairCands = keptSrc
        .join(touched, Seq("src"), "left_semi")
        .unionByName(clique)
        .join(delDst, Seq("dst"), "left_anti")
        .filter(col("src") =!= col("dst"))
      val emb = survivors.select(col("vec_id"), col("embedding"))
      val repaired = graft.vector.TopK.perQuery(
        repairCands.distinct()
          .join(emb.select(col("vec_id").as("src"), col("embedding").as("emb_s")), Seq("src"))
          .join(emb.select(col("vec_id").as("dst"), col("embedding").as("emb_d")), Seq("dst"))
          .select(
            col("src").as("query_id"),
            graft.vector.VectorOps.l2Sq(col("emb_s"), col("emb_d")).as("dist2"),
            col("dst").as("vec_id")),
        k)
        .select(col("query_id").as("src"), col("vec_id").as("dst"), col("rank").as("rnk"), col("dist2"))
      val untouched = layer.graph
        .select("src", "dst", "rnk", "dist2")
        .join(delSrc, Seq("src"), "left_anti")
        .join(touched, Seq("src"), "left_anti")
      // insertImpl's truncation rule: only the batch-sized repaired
      // block is checkpointed (it embeds the clique-repair joins); the
      // layer plans stay lazy leaf compositions — the touched-set
      // anti-joins broadcast, and the old survivors/graph checkpoints
      // were two corpus-sized materializations per layer per delete.
      val ups = repaired.localCheckpoint()
      val shrunkGraph = untouched.unionByName(ups)
      if (wantDelta)
        (Layer(survivors, shrunkGraph),
          Some(LayerDelta(
            nodesAdded = emptyNodesDf(layer.nodes.sparkSession),
            nodesRemoved = del.select("vec_id"),
            graphUpserts = ups,
            srcsRemoved = delSrc.unionByName(touched))))
      else
        (Layer(survivors, shrunkGraph), None)
    })
    (outWithDelta.map(_._1), if (wantDelta) Some(outWithDelta.map(_._2.get)) else None)
  }

  /** Re-bound an oversized top — the cheap maintenance move the
    * [[warnIfTopOversized]] warning points at: build ONE new layer above
    * the current top by the SAME level rule (current-top members whose
    * hash clears the next modulus `shrink^L`), with its own k-NN graph.
    * Because membership is the pure hash rule, the new top's MEMBER SET
    * is exactly what a from-scratch [[build]] one level deeper would
    * route — nesting and determinism hold by construction — and the only
    * new work is a graph over the (geometrically smaller) new top:
    * metadata-sized, so the exact O(n²) build path suffices (build's own
    * upper-layer graphs are layer-local-IVF approximations of exactly
    * this exact graph) and no IVF model is needed. After many
    * [[insert]] batches have grown the top past `topCap`, one `deepen`
    * restores the broadcast bound without touching any lower layer.
    *
    * The new top's level exponent is derived as `layers.length`, which is
    * correct for any stack whose bottom layer is the full corpus (level
    * 0) — every stack [[build]]/[[insert]]/[[delete]] produce. If the
    * hash rule leaves the new top EMPTY (possible only for a tiny
    * current top, where the broadcast bound is not in danger anyway),
    * the stack is returned unchanged with a warning. The returned top is
    * lineage-truncated and materialized (localCheckpoint, [[insert]]'s
    * contract) — consumers see plain scans, not a re-running O(n_top²)
    * scoring join. */
  def deepen(
      layers: Seq[Layer],
      k: Int,
      shrink: Int = 16): Seq[Layer] = {
    require(layers.nonEmpty, "empty layer stack")
    require(k >= 1 && shrink >= 2, s"bad k=$k shrink=$shrink")
    var mod = 1L
    (0 until layers.length).foreach(_ => mod *= shrink)
    val top = layers.head
    val next = top.nodes
      .filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
      .select(col("vec_id"), col("embedding"))
    // count, not isEmpty: the same one job also yields the size the new
    // top's relations should be partitioned at (build's sizedParts rule)
    val nextN = next.count()
    if (nextN == 0L) {
      log.warn(
        s"Hnsw.deepen: the level rule at mod $mod leaves no new top above the " +
          s"current ${layers.length}-layer stack — returning it unchanged " +
          "(a top this sparse is already broadcast-bounded)")
      layers
    } else {
      val spark = next.sparkSession
      Layer(
        next.repartition(sizedParts(spark, nextN)).localCheckpoint(),
        KnnJoin.knnGraph(next, k, None)
          .repartition(sizedParts(spark, nextN * k), col("src"))
          .localCheckpoint()) +: layers
    }
  }

  /** A loaded stack WITH the parameters it was built under — a loaded
    * stack is a first-class mutation input, and [[insert]]/[[deepen]]
    * with a different `shrink` would silently violate the hash level
    * rule; `k` is the degree the graphs were built at (the bound a
    * consumer must not exceed) and `topCap` the top layer's broadcast
    * contract. [[loadStack]] surfaces them so mutation on a loaded
    * stack cannot diverge from the build parameters. `compactedThrough`
    * is the delta log's watermark (-1 when nothing was ever compacted):
    * [[loadLog]] applies only epochs past it. `version` names the live
    * base dir (`path/v<version>`); `writerToken` is the log's write
    * FENCE — bumped by every [[save]]/[[compact]], and a [[saveDelta]]
    * handed this token fails loudly once a newer writer has re-based
    * the log (the zombie-incarnation guard; see [[saveDelta]]). */
  final case class Stack(
      layers: Seq[Layer],
      k: Int,
      shrink: Int,
      topCap: Long,
      compactedThrough: Long = -1L,
      version: Long = 0L,
      writerToken: Long = 0L)

  /** Persist a layer stack — the deploy-once artifact the build doc
    * promises, [[IvfModel.save]] parity for the graph family: layer `i`
    * (top-first, [[build]]'s return order) lands under a versioned
    * `path/v<version>/layer_<i>/{nodes,graph}` (see [[saveBase]] for why
    * the version dir + atomic meta-file commit exist), the graph
    * repartitioned on `src` at write time so a loaded stack's walk
    * joins read co-located row groups, plus the `meta` file carrying
    * the layer count, the degree the graphs were built at (the k a
    * consumer must not exceed), and the `shrink`/`topCap` the stack was
    * built under — a loaded stack is a first-class mutation input, and
    * insert/deepen must use the build's own level rule.
    *
    * Re-saving onto an existing artifact RE-BASES it: the new stack
    * lands under the NEXT version (never overwriting the live one in
    * place — crash-safe like [[compact]]), the meta publishes with the
    * watermark stamped to the HIGHEST epoch id present (so a crash
    * before the sweep leaves only stale-and-skipped epochs, never a
    * double-apply), the writer fence token bumps (any in-flight
    * [[saveDelta]] holding the old token fails loudly), and once the
    * meta publishes, every prior epoch dir and the superseded version
    * are SWEPT as debris. This is the rebase move the maintenance operators
    * need: after a [[deepen]]/descent rewrote corpus-sized structure
    * that no batch-sized delta can carry, `save` restarts the log from
    * the new base. */
  def save(
      layers: Seq[Layer],
      k: Int,
      path: String,
      shrink: Int = 16,
      topCap: Long = 256L): Unit = {
    require(layers.nonEmpty, "empty layer stack")
    val spark = layers.head.nodes.sparkSession
    val prior =
      try Some(readMeta(spark, path))
      catch {
        case _: java.io.FileNotFoundException => None
        // a legacy (pre-delta-log) artifact's parquet meta DIR: treated
        // as no prior — this save IS the migration (writeMetaAtomic
        // replaces the directory meta with the meta file)
        case _: IllegalStateException => None
      }
    val ver = prior.map(m => metaVersion(m) + 1).getOrElse(0L)
    val token = prior.map(m => metaToken(m) + 1).getOrElse(0L)
    // the rebase watermark covers every epoch dir that exists at publish
    // time (compact's pattern): a crash between the meta rename and the
    // sweep below would otherwise leave pending epochs above a -1
    // watermark, and the next loadLog would fold them onto a base that
    // already contains their state — silent double-apply (duplicate node
    // rows, corrupt rebased adjacency). With the watermark stamped, the
    // leftovers are stale-and-skipped and the sweep is pure debris
    // cleanup. Epoch ids stay monotone across rebases by contract
    // (saveDelta keys them by the streaming batchId / a monotone
    // counter), so a post-rebase writer's next epoch always lands above.
    val priorEpochs = epochDirs(spark, path)
    val watermark = if (priorEpochs.isEmpty) -1L else priorEpochs.map(_._1).max
    saveBase(layers, k, path, shrink, topCap,
      compactedThrough = watermark, version = ver, writerToken = token)
    // post-publish sweep: stale epoch dirs (they predate this base and
    // must never fold onto it — all at/below the watermark by
    // construction) and superseded/debris version dirs. Version dirs
    // ABOVE the new live one are left alone, matching compact's sweep
    // rule: they are either a crashed writer's half-write (harmlessly
    // overwritten when that number comes up) or a concurrent compactor's
    // in-flight output, which a sweep must never clobber.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // re-list rather than sweep the pre-publish snapshot: an epoch a
    // zombie writer slipped in DURING the corpus-sized base write would
    // sit above the stamped watermark and double-apply on the next
    // loadLog if left behind (the fence only trips that writer's NEXT
    // publish). save is a stop-the-world rebase — every epoch present
    // after the meta publish is superseded state, swept. Loop the
    // re-list-and-sweep until a listing comes back empty: a single pass
    // only NARROWS the window (an epoch renamed into place after the
    // re-list would survive it); the loop closes everything a finite
    // zombie can slip in, bounded so a pathological live writer racing
    // the sweep forever still terminates — with a loud warning, because
    // a leftover epoch above the watermark WILL double-apply on the next
    // loadLog (full closure needs a lock or a post-rename fence re-check
    // in saveDelta; callers must not run saveDelta concurrently with
    // save by contract).
    var sweepRounds = 0
    var leftover = epochDirs(spark, path)
    while (leftover.nonEmpty && sweepRounds < 8) {
      leftover.foreach { case (_, dir) =>
        fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      }
      sweepRounds += 1
      leftover = epochDirs(spark, path)
    }
    if (leftover.nonEmpty)
      System.err.println(
        s"[hnsw] WARNING: ${leftover.size} epoch dir(s) survived $sweepRounds sweep rounds " +
          s"at $path — a live writer is racing this rebase; these epochs sit above the " +
          "stamped watermark and will double-apply on the next loadLog")
    // GENERATION-LAGGED version sweep (keep exactly the one immediately
    // superseded base; delete everything older): since round 21 the
    // mutation operators return LAZY layer plans over the loaded base's
    // files, so a caller that saves and keeps using its in-memory stack
    // (the hnswIngest save-per-epoch shape) still reads v(n-1) after
    // publishing v(n) — an immediate sweep would yank those files.
    // Bounded debris: at most one extra version exists at any time; the
    // next save removes it.
    versionDirs(fs, path).filter(_._1 < ver - 1)
      .foreach { case (_, p) => fs.delete(p, true) }
    // legacy-layout debris: pre-round-17 artifacts kept layer data at
    // top-level `path/layer_<i>` — without this sweep a migrated
    // artifact carries a stale corpus-sized copy of its layers forever
    fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isDirectory && n.startsWith("layer_") && n.stripPrefix("layer_").forall(_.isDigit)
      }
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** Base layout: layer data lands under a VERSIONED dir
    * `path/v<version>/layer_<i>/{nodes,graph}` and the `path/meta` FILE
    * — the single atomic commit point, published by [[writeMetaAtomic]]'s
    * file rename — names the live version dir explicitly. A crash
    * anywhere before the meta rename leaves the previous base + epochs
    * fully intact (the half-written new version dir is unreferenced
    * debris, overwritten or cleared later); a crash after it leaves only
    * stale-but-skipped epoch dirs. This is what makes [[compact]]'s and
    * re-[[save]]'s multi-file publish crash-safe: there is no window
    * where folded layer data is visible under an old watermark (the
    * double-apply corruption a layer-dir-overwrite design has). */
  private def saveBase(
      layers: Seq[Layer],
      k: Int,
      path: String,
      shrink: Int,
      topCap: Long,
      compactedThrough: Long,
      version: Long,
      writerToken: Long): Unit = {
    require(layers.nonEmpty, "empty layer stack")
    val spark = layers.head.nodes.sparkSession
    // the 2·L layer writes are independent jobs over disjoint output
    // dirs — run them concurrently (guide §2.6 "overlap independent
    // jobs"): upper layers are metadata-sized, so a serial loop paid
    // the job launch floor 2·L times for the wall of roughly one
    // layer-0-sized write
    graft.WorkPool.concurrently(layers.zipWithIndex.flatMap { case (l, i) =>
      Seq(
        () => l.nodes
          .select(col("vec_id"), col("embedding"))
          .write.mode("overwrite").parquet(s"$path/v$version/layer_$i/nodes"),
        () => l.graph
          .select(col("src"), col("dst"), col("rnk"), col("dist2"))
          // AQE-coalesced keyed repartition, not the session shuffle
          // setting: a 100-row top graph written 32-way costs 32
          // near-empty files per save — s21 pays a save per streaming
          // epoch. (The count is derived from actual bytes by AQE; the
          // previous parent-count read executed folded parents, r20 ADVICE.)
          .repartition(col("src"))
          .write.mode("overwrite").parquet(s"$path/v$version/layer_$i/graph"))
    })
    writeMetaAtomic(spark, path, Seq(
      "n_layers" -> layers.length.toString,
      "k" -> k.toString,
      "shrink" -> shrink.toString,
      "top_cap" -> topCap.toString,
      "compacted_through" -> compactedThrough.toString,
      "version" -> version.toString,
      "writer_token" -> writerToken.toString))
  }

  /** The artifact's `v<N>` base-version dirs, with their numbers. */
  private def versionDirs(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isDirectory && n.length > 1 && n.startsWith("v") && n.drop(1).forall(_.isDigit)
      }
      .map(st => (st.getPath.getName.drop(1).toLong, st.getPath))
  }

  /** Publish `path/meta` (a small key=value text FILE, not a parquet
    * dir) by writing `path/_meta_tmp` and renaming OVER the target in
    * one `FileContext.rename(OVERWRITE)` — the atomic primitive both
    * the local filesystem and HDFS provide for FILES (dir renames can't
    * replace a non-empty target, which is why the meta must be a file
    * to serve as a commit point). A pre-round-17 artifact left a meta
    * parquet DIRECTORY at this name — rename can't replace that, so a
    * directory-shaped target is moved ASIDE (to `_legacy_meta`) first,
    * keeping the atomic-commit invariant through the migration too: a
    * crash between the move and the rename leaves the legacy dir intact
    * under its aside name, and [[readMeta]] recognizes the remnants
    * with a clear resume-the-migration message instead of a raw
    * FileNotFound. The aside dir is cleared once the new meta has
    * published. */
  private def writeMetaAtomic(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      kv: Seq[(String, String)]): Unit = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$path/meta")
    val aside = new org.apache.hadoop.fs.Path(s"$path/_legacy_meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(metaPath) && fs.getFileStatus(metaPath).isDirectory) {
      fs.delete(aside, true)
      require(fs.rename(metaPath, aside), s"could not move legacy meta dir aside at $metaPath")
    }
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new org.apache.hadoop.fs.Path(path).toUri, spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/_meta_tmp")
    val out = fc.create(
      tmp,
      java.util.EnumSet.of(
        org.apache.hadoop.fs.CreateFlag.CREATE, org.apache.hadoop.fs.CreateFlag.OVERWRITE),
      org.apache.hadoop.fs.Options.CreateOpts.createParent())
    try out.write(kv.map { case (a, b) => s"$a=$b" }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    fc.rename(tmp, metaPath, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    fs.delete(aside, true)
  }

  private def readMeta(
      spark: org.apache.spark.sql.SparkSession, path: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
      throw new IllegalStateException(
        s"$path/meta is a directory — this artifact uses the legacy pre-delta-log " +
          "layout (parquet meta dir + path/layer_<i>), which this reader no longer " +
          "parses; re-persist the stack with Hnsw.save to migrate it")
    val in =
      try fs.open(p)
      catch {
        case e: java.io.FileNotFoundException
            if fs.exists(new org.apache.hadoop.fs.Path(s"$path/_legacy_meta")) ||
              fs.exists(new org.apache.hadoop.fs.Path(s"$path/layer_0")) =>
          // legacy remnants with no meta file = a migration that died
          // between the aside move and the new meta publish (or a bare
          // legacy artifact mid-flight) — say so instead of a raw miss
          throw new IllegalStateException(
            s"$path has legacy pre-delta-log remnants but no meta file — an " +
              "in-place migration was interrupted; re-run Hnsw.save on this " +
              "path to complete it", e)
      }
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().flatMap { l =>
      l.split("=", 2) match {
        case Array(a, b) => Some(a -> b)
        case _           => None
      }
    }.toMap
    finally in.close()
  }

  // legacy fallbacks: pre-round-18 metas carry neither field — their
  // live version was derived as watermark+1 and they predate the fence
  private def metaVersion(meta: Map[String, String]): Long =
    meta.get("version").map(_.toLong)
      .getOrElse(meta("compacted_through").toLong + 1)
  private def metaToken(meta: Map[String, String]): Long =
    meta.getOrElse("writer_token", "0").toLong

  /** Append one epoch's [[LayerDelta]]s to the delta LOG under `path` —
    * batch-sized durability for [[insert]]/[[delete]] (the
    * [[graft.streaming.StreamingOps.hnswIngest]] restart story at scale):
    * where [[save]] re-writes the corpus-sized stack, one epoch writes
    * only O(|batch|·k) changed rows under `path/epoch_<id>/
    * {nodes_add,nodes_del,graph_upsert,src_del}` — each ONE single-file
    * parquet carrying a `layer` column (4 write jobs per epoch
    * regardless of stack depth; per-layer files cost 4·L jobs of pure
    * launch floor for the same few kilobytes), plus a zero-byte
    * `layers_<L>` marker so [[loadLog]] checks the depth without a job.
    * `path` must hold a [[save]]d base; [[loadLog]] folds base + epochs
    * in `epochId` order.
    *
    * Crash safety: the epoch is written to a `_tmp` dir and RENAMED into
    * place (one FS metadata op), so a reader never sees a half-written
    * epoch. Publishing an `epochId` whose dir ALREADY EXISTS is a no-op
    * (the dir can only exist complete — the rename is the last step of
    * the original publish): a foreachBatch RETRY re-delivering a batch
    * whose epoch published must not replace it — the retried deltas were
    * recomputed against already-applied state and would be WEAKER (see
    * [[epochExists]]'s erasure story) — and skipping also closes the
    * delete-then-rename window in which a concurrent reader could see
    * the epoch missing mid-retry. Key
    * the id by the streaming batchId (or any monotone counter):
    * [[loadLog]] applies epochs in increasing id order, which must match
    * apply order. After a [[deepen]] the layer count changes — compact
    * (or re-[[save]]) before logging further epochs; an epoch written
    * against a different depth fails loudly at [[loadLog]] via the depth
    * marker.
    *
    * `writerToken` is the zombie-incarnation FENCE: pass the token the
    * writer's own [[loadStack]]/[[loadLog]] returned and the publish
    * first checks it against the live meta — once a newer incarnation
    * has re-[[save]]d or [[compact]]ed (both bump the token), a stale
    * writer's next epoch fails loudly instead of appending an epoch the
    * new base never saw. The check is check-then-write (lease-check
    * granularity, not a transaction): a zombie is fenced at its first
    * publish AFTER the takeover, which is exactly when its epoch could
    * first corrupt the new log. The default -1 skips the check (a
    * single-writer caller that never re-bases needs no fence). */
  def saveDelta(
      deltas: Seq[LayerDelta],
      epochId: Long,
      path: String,
      writerToken: Long = -1L): Unit = {
    require(deltas.nonEmpty, "empty delta list")
    require(epochId >= 0, s"epochId must be >= 0, got $epochId")
    val spark = deltas.head.graphUpserts.sparkSession
    val meta = readMeta(spark, path)
    if (writerToken >= 0) {
      val live = metaToken(meta)
      require(live == writerToken,
        s"stale writer fenced: this writer holds token $writerToken but the log at " +
          s"$path is at token $live — a newer incarnation re-based (save/compact) it; " +
          "reload the stack and re-establish ownership before logging epochs")
    }
    // an epoch at/below the live watermark would be SILENTLY dropped by
    // every future loadLog — the one way a durably-acknowledged batch
    // can vanish without a trace. This bites a writer whose epoch ids
    // restarted from 0 against a rebased log (save stamps the watermark
    // at the highest epoch it swept); fail loudly: key epoch ids by a
    // counter that survives rebases, starting above the Stack's
    // compactedThrough.
    val watermark = meta.get("compacted_through").map(_.toLong).getOrElse(-1L)
    require(epochId > watermark,
      s"epoch $epochId is at/below the log's watermark $watermark at $path — loadLog " +
        "would silently skip it (acknowledged data loss); epoch ids must be monotone " +
        "ACROSS rebases — start above the loaded Stack's compactedThrough")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fin = new org.apache.hadoop.fs.Path(f"$path/epoch_$epochId%012d")
    if (fs.exists(fin)) {
      log.warn(
        s"Hnsw.saveDelta: epoch $epochId already published at $path — skipping " +
          "(an existing epoch dir is complete by construction, and a retry's " +
          "recomputed deltas must not replace the original)")
      return
    }
    val tmp = new org.apache.hadoop.fs.Path(f"$path/_tmp_epoch_$epochId%012d")
    fs.delete(tmp, true)
    def tagged(f: LayerDelta => DataFrame, cols: Seq[String]): DataFrame =
      deltas.zipWithIndex.map { case (d, i) =>
        f(d).select(lit(i).as("layer") +: cols.map(col): _*)
      }.reduce(_.unionByName(_)).coalesce(1)
    // four independent batch-sized writes to disjoint subdirs — overlap
    // them (guide §2.6): each is one tiny job, and the serial form paid
    // the launch floor four times per epoch
    graft.WorkPool.concurrently(Seq(
      () => tagged(_.nodesAdded, Seq("vec_id", "embedding"))
        .write.mode("overwrite").parquet(s"$tmp/nodes_add"),
      () => tagged(_.nodesRemoved, Seq("vec_id"))
        .write.mode("overwrite").parquet(s"$tmp/nodes_del"),
      () => tagged(_.graphUpserts, Seq("src", "dst", "rnk", "dist2"))
        .write.mode("overwrite").parquet(s"$tmp/graph_upsert"),
      () => tagged(_.srcsRemoved, Seq("src"))
        .write.mode("overwrite").parquet(s"$tmp/src_del")))
    fs.create(new org.apache.hadoop.fs.Path(tmp, s"layers_${deltas.length}")).close()
    require(fs.rename(tmp, fin), s"could not publish epoch dir $fin")
  }

  /** Whether the log already holds a PUBLISHED epoch for `epochId` —
    * one FS existence check, no job. This is the replay guard a
    * changelog writer passes to
    * [[graft.streaming.StreamingOps.hnswApplyChangelog]]'s
    * `isEpochApplied`: [[saveDelta]]'s dir rename is the last mutating
    * step of a trigger, so an existing epoch dir proves the batch was
    * fully applied AND persisted — a restarted incarnation whose
    * `initial` came from [[loadLog]] must SKIP it, not re-apply it (a
    * re-application would recompute the deltas against the
    * already-applied state and republish a WEAKER epoch over the same
    * id — e.g. a delete of a now-absent key vanishes from the log and
    * the base resurrects the erased key on the next fold). */
  def epochExists(
      spark: org.apache.spark.sql.SparkSession, path: String, epochId: Long): Boolean = {
    val p = new org.apache.hadoop.fs.Path(f"$path/epoch_$epochId%012d")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The log's epoch dirs under `path`, id-ascending. */
  private def epochDirs(
      spark: org.apache.spark.sql.SparkSession, path: String): Seq[(Long, String)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("epoch_"))
      .map(st => (st.getPath.getName.stripPrefix("epoch_").toLong, st.getPath.toString))
      .sortBy(_._1)
  }

  /** One epoch's four tables read ONCE (4 file listings + schema reads
    * per epoch, not 4·L — the round-17 review's per-layer re-scan
    * finding), split per layer by the `layer` column. The per-layer
    * views share one relation, so a consumer's plan carries L filters of
    * four scans, not 4·L independent reads. */
  private def readEpochDeltas(
      spark: org.apache.spark.sql.SparkSession, dir: String, nLayers: Int): Seq[LayerDelta] = {
    val add = spark.read.parquet(s"$dir/nodes_add")
    val del = spark.read.parquet(s"$dir/nodes_del")
    val ups = spark.read.parquet(s"$dir/graph_upsert")
    val srm = spark.read.parquet(s"$dir/src_del")
    def part(df: DataFrame, i: Int): DataFrame =
      df.filter(col("layer") === i).drop("layer")
    (0 until nLayers).map(i =>
      LayerDelta(part(add, i), part(del, i), part(ups, i), part(srm, i)))
  }

  /** Fold `epochs` (id-ascending, captured ONCE by the caller) onto
    * `base` via [[applyDelta]]. Capturing the list before folding is a
    * correctness point, not style: a concurrent [[saveDelta]] landing
    * between a caller's listing and the fold must NOT be folded by a
    * [[compact]] that will stamp a watermark below it — fold exactly
    * what was listed. */
  private def foldEpochs(
      spark: org.apache.spark.sql.SparkSession,
      base: Seq[Layer],
      epochs: Seq[(Long, String)]): Seq[Layer] = {
    val fs = epochs.headOption.map { case (_, dir) =>
      new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
    }.orNull
    epochs.foldLeft(base) { case (ls, (id, dir)) =>
      // an epoch written against a different stack DEPTH (a deepen
      // without an intervening compact/re-save) must fail loudly, not
      // silently truncate — the zero-byte `layers_<L>` marker makes
      // this a directory listing, not a Spark job
      val nLayers = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName)
        .collectFirst { case n if n.startsWith("layers_") => n.stripPrefix("layers_").toInt }
        .getOrElse(-1)
      require(nLayers == ls.length,
        s"epoch $id carries $nLayers layers but the base stack has ${ls.length} — " +
          "the stack was deepened/rebuilt after this log began; compact or re-save " +
          "the base before logging further epochs")
      ls.zip(readEpochDeltas(spark, dir, nLayers)).map { case (l, d) => applyDelta(l, d) }
    }
  }

  /** Load base + delta log: the [[save]]d base stack with every epoch
    * past the base's `compacted_through` watermark folded on via
    * [[applyDelta]], id-ascending. Pure plan construction over parquet
    * scans — but each folded epoch DEEPENS every consumer's plan by one
    * anti-join + union per layer, so a long-running log should be
    * [[compact]]ed periodically (the classic LSM discipline). */
  def loadLog(spark: org.apache.spark.sql.SparkSession, path: String): Stack = {
    val base = loadStack(spark, path)
    val pending = epochDirs(spark, path).filter(_._1 > base.compactedThrough)
    base.copy(layers = foldEpochs(spark, base.layers, pending))
  }

  /** Fold the log's pending epochs into a fresh base version and drop
    * them — bounds [[loadLog]]'s plan depth after many [[saveDelta]]
    * epochs. Crash-safe by construction (see [[saveBase]]): the folded
    * layers are written to a NEW version dir while the old base and the
    * epoch dirs stay untouched, the meta file's atomic rename advances
    * the watermark, and only then are the applied epoch dirs and the
    * superseded base version deleted — a crash at ANY point leaves
    * either the old consistent state (debris new-version dir, cleared
    * by the next compact) or the new consistent state (stale epoch
    * dirs/base ≤ the watermark, skipped and cleared later). Epochs
    * published CONCURRENTLY with the fold (a live [[saveDelta]] stream)
    * carry ids above the stamped watermark and stay pending — nothing
    * double-applies. Returns the compacted stack as plain scans of the
    * new base. No-op when no epoch is pending.
    *
    * One caveat for in-process callers: lazy Stacks returned by earlier
    * [[loadStack]]/[[loadLog]] calls reference the superseded version's
    * files — materialize them (or reload) before compacting. And ONE
    * COMPACTOR at a time per path (matching saveDelta's single-writer-
    * per-epoch contract): the debris sweep only ever deletes version
    * dirs BELOW the live one, so a concurrent compactor's in-flight new
    * version is never clobbered mid-write — but two compactors racing
    * the meta publish still last-write-wins, and the fence token gives
    * the loser no signal until its next fenced [[saveDelta]]. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String): Stack = {
    val base = loadStack(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // clear debris first: epoch dirs at/below the watermark (a compact
    // that died between meta publish and cleanup) and base-version dirs
    // BELOW the live one (superseded bases a prior compact died before
    // deleting). Dirs ABOVE the live version are left alone — they are
    // either a crashed compact's half-write (harmlessly overwritten when
    // that version number comes up again) or a concurrent compactor's
    // in-flight output, which a sweep must never clobber.
    val (pending, stale) = epochDirs(spark, path).partition(_._1 > base.compactedThrough)
    stale.foreach { case (_, dir) =>
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
    versionDirs(fs, path).filter(_._1 < base.version)
      .foreach { case (_, p) => fs.delete(p, true) }
    if (pending.isEmpty) base
    else {
      val folded = foldEpochs(spark, base.layers, pending)
      val newCt = pending.last._1
      // writes v<version+1> from plans over the OLD base + epochs (no
      // self-overwrite), then atomically publishes watermark + version +
      // a bumped fence token (a zombie writer's next fenced saveDelta
      // fails loudly against it)
      saveBase(folded, base.k, path, base.shrink, base.topCap,
        compactedThrough = newCt, version = base.version + 1,
        writerToken = base.writerToken + 1)
      pending.foreach { case (_, dir) =>
        fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      }
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/v${base.version}"), true)
      loadStack(spark, path)
    }
  }

  /** Load a stack persisted by [[save]] together with its build
    * parameters, top-first. Nothing is collected or cached here beyond
    * the one small meta file — each layer is a plain partitioned scan,
    * so a thousand-executor consumer reads only the layers (and,
    * through the walk's equality joins, only the src partitions) it
    * touches. */
  def loadStack(spark: org.apache.spark.sql.SparkSession, path: String): Stack = {
    val meta = readMeta(spark, path)
    val n = meta("n_layers").toInt
    val ct = meta("compacted_through").toLong
    val ver = metaVersion(meta)
    val layers = (0 until n).map { i =>
      Layer(
        spark.read.parquet(s"$path/v$ver/layer_$i/nodes"),
        spark.read.parquet(s"$path/v$ver/layer_$i/graph"))
    }
    Stack(layers, meta("k").toInt, meta("shrink").toInt, meta("top_cap").toLong,
      ct, ver, metaToken(meta))
  }

  /** [[loadStack]] when only the layers are needed (read-only search at
    * the caller's own budget). Mutating consumers should prefer
    * [[loadStack]] — it carries the shrink/topCap the mutations must
    * match. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Seq[Layer] =
    loadStack(spark, path).layers

  /** Descend-and-refine search: brute-score the top layer's members as
    * seeds (bounded: the build capped it near `topCap`), then walk each
    * layer with [[GraphSearch.searchFrom]], the result seeding the next
    * layer down. Returns layer-0's `(query_id, vec_id, rnk, dist2)`,
    * `rnk ≤ k`. `perLayerK` controls how many carriers descend (HNSW's
    * ef at the upper layers).
    *
    * Execution: a stack within the driver budget (see the object
    * header) is searched when the call is made — its layers and the
    * queries are collected and walked on the driver, and the result is a
    * local relation, so the returned frame re-runs nothing. Above the
    * budget the call runs the one counting job that finds the stack too
    * large, then builds a plan, and one caveat holds for stacks of
    * ≥ 3 layers: the per-layer seed handoff is lineage-truncated via a
    * LAZY `localCheckpoint` — the plan is truncated at construction (the
    * measured super-linear Catalyst re-analysis fix, [[insert]]'s
    * tradeoff shared here) but the mid-layer walks run at the FIRST
    * action, and the checkpointed seed blocks are then executor-resident
    * and non-recomputable: a long-lived plan breaks if executors are
    * lost. Construct the plan close to its action; past the counting
    * job, a 1–2 layer stack over the budget is pure plan construction. */
  def search(
      queries: DataFrame,
      layers: Seq[Layer],
      k: Int,
      beam: Int,
      rounds: Int,
      perLayerK: Int = 8): DataFrame = {
    require(layers.nonEmpty, "empty layer stack")
    require(k >= 1 && beam >= k && perLayerK >= 1, s"bad k=$k beam=$beam perLayerK=$perLayerK")
    HnswLocal.search(queries, layers, k, beam, rounds, perLayerK)
      .getOrElse(searchPlan(queries, layers, k, beam, rounds, perLayerK))
  }

  /** [[search]]'s DataFrame form: the stack above the driver budget, and
    * the parity oracle of the driver path. */
  private def searchPlan(
      queries: DataFrame,
      layers: Seq[Layer],
      k: Int,
      beam: Int,
      rounds: Int,
      perLayerK: Int): DataFrame = {
    val q = queries.select(col("query_id"), col("qvec"))
    // top layer: every member is a seed candidate (the layer is
    // topCap-bounded by the build — this is a broadcast-sized relation)
    var seeds = topSeeds(q, layers.head, perLayerK)
    // intermediate layers carry perLayerK seeds down; the final layer's
    // walk (layer 0 — or the top itself in a single-layer stack) returns
    // the full top-k
    val mids = if (layers.length > 1) layers.tail.init else Nil
    mids.foreach { layer =>
      // truncate the per-layer seed handoff (queries·perLayerK rows):
      // same reasoning as insert's — without it a walk whose rounds
      // never hit searchFrom's internal even-hop truncation nests the
      // full walk plan per layer and plan analysis grows super-linearly.
      // LAZY checkpoint (round-19, the r18 advisor's audit): eager=false
      // still truncates the PLAN at construction (the returned Dataset
      // is a LogicalRDD either way — the re-analysis fix is intact) but
      // defers the walk's jobs to the first action, so constructing a
      // search plan no longer eagerly runs every mid-layer walk — a
      // caller that builds the plan and discards or partially consumes
      // it pays nothing, and plan construction stays job-free.
      seeds = GraphSearch
        .searchFrom(q, layer.graph, layer.nodes, seeds,
          k = math.min(perLayerK, beam), beam = beam, rounds = rounds)
        .select("query_id", "vec_id")
        .localCheckpoint(eager = false)
    }
    val last = layers.last
    GraphSearch.searchFrom(q, last.graph, last.nodes, seeds, k, beam, rounds)
  }
}
