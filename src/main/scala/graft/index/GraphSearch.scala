package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [engine-added] BEAM search over a k-NN graph — the query-time half of
  * every graph-ANN index (HNSW layer 0, DiskANN, NSG): from a fixed
  * entry node, repeatedly expand the current beam's out-neighborhood,
  * score candidates exactly against the query, and keep the best `beam`
  * nodes; after a bounded number of hops the beam's top-k is the answer.
  * Per query the work is O(rounds · beam · deg) — INDEPENDENT of corpus
  * size, the sublinear per-query path that makes graph indexes the
  * state of the art at billion scale (cf. the IVF probe-pruning path in
  * [[IvfSearch]]; this is the other family).
  *
  * Spark shape: the beam is a `(query_id, vec_id, dist2)` relation; each
  * hop is (1) an equality join of the beam against the symmetrized edge
  * list on the node key, (2) an equality join against the vector table
  * for candidate embeddings, (3) a broadcast join against the (small by
  * contract) query table for the query vector, (4) a per-query bounded
  * top-`beam` rank. The edge list carries one SELF-LOOP per node, so
  * each hop's expansion is a superset of the current beam and the kept
  * set re-ranks a SUPERSET of what it had — per-query best-k is
  * monotonically non-decreasing across hops (spec-pinned), a fixed hop
  * budget needs no driver-side convergence poll, and the logical plan
  * grows LINEARLY in hops (the frontier is referenced once per hop,
  * never unioned with its own previous plan). Nothing data-sized is
  * broadcast; the graph shuffles once on `src` and the exchange is
  * reused across hops.
  */
object GraphSearch {

  /** Search `graph` (out-edges `(src, dst)`, symmetrized internally —
    * k-NN edges are directed but navigability needs both directions) for
    * the top-`k` of each row of `queries(query_id, qvec)` among `nodes
    * (vec_id, embedding)`. All queries start from the SAME fixed
    * `entries` (deterministic — the HNSW "enter point" without the layer
    * hierarchy, pluralized: a flat k-NN graph has no long-range links,
    * so a single entry's guided walk stalls as the graph grows and the
    * standard remedy is multiple spread entry points — GNNS, Hajebi et
    * al. IJCAI 2011; entry count and hop budget should both grow
    * ~log(n), see v35's call site for the measured calibration).
    * Returns `(query_id, vec_id, rnk, dist2)`, `rnk ≤ k` by
    * `(dist2, vec_id)`. */
  def search(
      queries: DataFrame,
      graph: DataFrame,
      nodes: DataFrame,
      entries: Seq[Long],
      k: Int,
      beam: Int,
      rounds: Int): DataFrame = {
    require(entries.nonEmpty, "need at least one entry node")
    val spark = queries.sparkSession
    import spark.implicits._
    searchFrom(
      queries,
      graph,
      nodes,
      queries.select(col("query_id"))
        .crossJoin(broadcast(entries.distinct.toDF("vec_id"))),
      k, beam, rounds)
  }

  /** [[search]] with PER-QUERY seed nodes `seeds(query_id, vec_id)`
    * instead of one global entry set — the hierarchical-router form
    * every production graph index uses (HNSW's upper layers, DiskANN's
    * medoid, IVF-seeded graph hybrids): a coarse structure drops each
    * query near its neighborhood and the beam walk refines locally. On
    * navigability-poor graphs (low degree, unstructured vectors) this is
    * the difference between converging and stalling — a global entry's
    * guided walk decays with corpus growth no matter the beam
    * (BeamProbe at 10×: ≤ 0.73 from 32 global entries vs the bar from
    * IVF seeds). Seed ids not present in `nodes` drop out at the scoring
    * join. */
  def searchFrom(
      queries: DataFrame,
      graph: DataFrame,
      nodes: DataFrame,
      seeds: DataFrame,
      k: Int,
      beam: Int,
      rounds: Int): DataFrame = {
    requireWalk(k, beam, rounds)
    val q = queries.select(col("query_id"), col("qvec"))
    val e = graph.select("src", "dst")
    // no distinct: a (a,b)+(b,a) reciprocal pair yields a duplicate edge
    // here, but the per-hop beam cut dedupes candidate ids anyway — the
    // distinct was a whole extra shuffle per walk for nothing. Cached
    // (CacheScope-scoped): every hop's expansion joins the SAME edge
    // list. Repartitioned on the hop-join key BEFORE caching: a union of
    // union-built graphs can carry hundreds of tiny partitions (an
    // inserted-into layer measured 192 → ~4 s of pure task-launch floor
    // PER HOP at 10×), and hash-on-src is the partitioning every hop's
    // equality join wants anyway.
    //
    // SELF-LOOPS (one per node, from the node table so edgeless members
    // keep their loop): each hop's expansion is then a SUPERSET of the
    // current beam by construction, so the kept set re-ranks everything
    // it had WITHOUT unioning the frontier with its own previous plan.
    // The union form referenced the frontier twice per hop — a 2^rounds
    // logical-plan blowup (v35 compiled to a 47k-line plan with 5,529
    // Exchange nodes even with a localCheckpoint every second hop, and
    // Catalyst re-analysis of those trees was measured at ~7 s per hop
    // at 10×) — while the self-loop form grows the plan LINEARLY in
    // rounds, so the per-hop truncation below hands AQE one small flat
    // segment per hop and the und/emb/broadcast-q exchanges are reused
    // instead of re-materializing the frontier-union lineage per
    // checkpoint job.
    // Result-identical: candidates per hop are beam ∪ N(beam) either
    // way, every copy re-scores to the same dist2 under the
    // deterministic kernel, and the id-deduping bounded heap keeps the
    // same (dist2, vec_id)-ordered top-beam.
    val und = graft.CacheScope.track(
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
        .unionByName(nodes.select(col("vec_id").as("src"), col("vec_id").as("dst")))
        .repartition(col("src"))
        .cache())
    val emb = nodes.select(col("vec_id"), col("embedding"))
    def scored(cands: DataFrame): DataFrame =
      cands
        .join(emb, "vec_id")
        .join(broadcast(q), "query_id")
        .select(
          col("query_id"),
          col("vec_id"),
          graft.vector.VectorOps.l2Sq(col("embedding"), col("qvec")).as("dist2"))
    var frontier = scored(seeds.select("query_id", "vec_id").distinct())
    var i = 0
    while (i < rounds) {
      val expanded = frontier
        .select(col("query_id"), col("vec_id").as("src"))
        .join(und, "src")
        .select(col("query_id"), col("dst").as("vec_id"))
      // Per-hop shape (round 15 — the walk is the graph family's suite
      // constant): expansion duplicates are RE-SCORED rather than
      // anti-joined away (the distance kernel is deterministic, so every
      // copy carries the same dist2), and the beam cut is the id-deduping
      // bounded-heap aggregator — ONE map-side-combining aggregation per
      // hop in place of three all-row wide ops (distinct + left_anti +
      // window), the same O(queries·beam) shuffle bound with two fewer
      // exchanges. Re-scored arithmetic is O(dup·beam·deg) rows per
      // query — bounded, and cheaper than the joins it replaces.
      frontier = graft.vector.TopK
        .perQueryDistinct(scored(expanded), beam)
        .select("query_id", "vec_id", "dist2")
      i += 1
      // Every-2nd-hop truncation: each segment is a small flat AQE
      // query (2 linear hops ≈ 25 plan nodes), so the driver never
      // re-optimizes a rounds-deep plan after every stage
      // materialization — measured on v35 at sf0.1: no truncation spent
      // ~22 s of a 29 s wall in the driver with executors idle (29.2 s
      // total); per-hop truncation ran 9-11 s; every-2nd-hop measured
      // best (4.1 s, min of 3) — half the checkpoint jobs at still-tiny
      // segments. (The OLD every-2nd-hop form at 23.7 s carried the
      // exponential frontier-union lineage inside each segment; the
      // cadence is cheap only because the self-loop form made segments
      // linear.) EAGER deliberately: eager=false measured the same wall
      // but the hop RDDs then compute after their query execution is
      // unreachable, and every task logs a DAGScheduler stack trace for
      // the GC'd SQL-metric accumulators (~300 stderr lines per walk).
      if (i % 2 == 0 && i < rounds) frontier = frontier.localCheckpoint()
    }
    graft.vector.TopK.perQueryDistinct(frontier, k)
      .select(col("query_id"), col("vec_id"), col("rank").as("rnk"), col("dist2"))
  }

  /** [[searchFrom]]'s argument contract, shared with [[searchFromLocal]]. */
  private[index] def requireWalk(k: Int, beam: Int, rounds: Int): Unit = {
    require(k >= 1 && beam >= k, s"need beam >= k >= 1, got k=$k beam=$beam")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
  }

  /** A layer collected to the driver for [[searchFromLocal]]: member ids
    * and embeddings, and the adjacency [[searchFrom]]'s `und` relation
    * holds — every edge in both directions plus one self-loop per member —
    * as distinct member indices. Edges with an endpoint outside the
    * members are left out: the DataFrame walk drops them at its scoring
    * join. Member ids must be distinct. */
  private[index] final class LocalGraph(
      val ids: Array[Long],
      val vecs: Array[Array[Float]],
      src: Array[Long],
      dst: Array[Long]) {
    val index: scala.collection.mutable.LongMap[Int] = {
      val m = new scala.collection.mutable.LongMap[Int](ids.length * 2)
      ids.indices.foreach(i => m.update(ids(i), i))
      m
    }
    val adj: Array[Array[Int]] = {
      val b = Array.tabulate(ids.length) { i =>
        val a = new scala.collection.mutable.ArrayBuilder.ofInt
        a += i
        a
      }
      var e = 0
      while (e < src.length) {
        val s = index.getOrElse(src(e), -1)
        val d = index.getOrElse(dst(e), -1)
        if (s >= 0 && d >= 0) { b(s) += d; b(d) += s }
        e += 1
      }
      b.map(_.result().distinct)
    }
  }

  /** The rank-ordered result of one driver walk: `ids(i)` at rank `i + 1`. */
  private[index] final class Ranked(val ids: Array[Long], val dists: Array[Double])

  /** Per-thread scratch for [[searchFromLocal]] over one [[LocalGraph]]:
    * stamps that dedupe each hop's candidates and cache each node's
    * distance for the current query, so a walk allocates nothing
    * graph-sized. */
  private[index] final class WalkScratch(g: LocalGraph) {
    private[GraphSearch] val seen = new Array[Int](g.ids.length)
    private[GraphSearch] val scoredFor = new Array[Int](g.ids.length)
    private[GraphSearch] val dist = new Array[Double](g.ids.length)
    private[GraphSearch] var hop = 0
    private[GraphSearch] var query = 0
  }

  /** Driver twin of [[searchFrom]] for ONE query over a collected layer —
    * the same result, bit for bit: the seeds present in the layer form
    * the first frontier (whether or not they score), every hop expands
    * the frontier over the symmetrized adjacency with self-loops, scores
    * each distinct candidate with [[graft.vector.L2Squared]]'s arithmetic
    * (unscorable candidates — a null or length-mismatched vector — drop,
    * as the heap drops NULL distances) and keeps the `beam` best by
    * `(dist2, vec_id)`; the top `k` of the last frontier is returned. The
    * caller checks the arguments once with [[requireWalk]]. */
  private[index] def searchFromLocal(
      g: LocalGraph,
      scratch: WalkScratch,
      qvec: Array[Float],
      seeds: Array[Long],
      k: Int,
      beam: Int,
      rounds: Int): Ranked = {
    scratch.query += 1
    def distOf(i: Int): Double = {
      if (scratch.scoredFor(i) != scratch.query) {
        scratch.scoredFor(i) = scratch.query
        scratch.dist(i) = graft.vector.L2Squared.of(g.vecs(i), qvec)
      }
      scratch.dist(i)
    }
    var frontier: Array[Int] = seeds.iterator
      .map(id => g.index.getOrElse(id, -1)).filter(_ >= 0).toArray.distinct
    val ds = new Array[Double](beam)
    val ids = new Array[Long](beam)
    var n = 0
    var r = 0
    while (r < rounds) {
      scratch.hop += 1
      n = 0
      var f = 0
      while (f < frontier.length) {
        val nbrs = g.adj(frontier(f))
        var j = 0
        while (j < nbrs.length) {
          val c = nbrs(j)
          if (scratch.seen(c) != scratch.hop) {
            scratch.seen(c) = scratch.hop
            val d = distOf(c)
            if (!d.isNaN) n = graft.vector.TopK.offer(ds, ids, n, beam, d, g.ids(c))
          }
          j += 1
        }
        f += 1
      }
      frontier = Array.tabulate(n)(i => g.index(ids(i)))
      r += 1
    }
    val m = math.min(k, n)
    new Ranked(java.util.Arrays.copyOf(ids, m), java.util.Arrays.copyOf(ds, m))
  }
}
