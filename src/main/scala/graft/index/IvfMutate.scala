package graft.index

import graft.vector.{VectorMean, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Online mutation, micro-batch flavored (reference does row-at-a-time
  * method calls, quake_min.py:92-125; Spark semantics are preserved at
  * batch granularity — SURVEY.md §7.4).
  *
  * Inserts route through the two-level centroid hierarchy exactly like the
  * reference (coarse argmin → base argmin within the cell's routing list,
  * quake_min.py:93-104, including the empty-cell → new partition branch,
  * quake_min.py:96-102). Routing is pure broadcast-join + `min_by` — no
  * UDF, so the plan stays inside whole-stage codegen. Deletes are
  * anti-joins — unknown ids are naturally no-ops (quake_min.py:113).
  * Touched partitions get their centroid recomputed as the exact mean of
  * remaining members, matching `np.mean` recompute (quake_min.py:108, 122).
  */
object IvfMutate {

  /** Batch insert.
    *
    * Wrong-dimension vectors are rejected up front (the reference would
    * crash on them mid-broadcast, quake_min.py:106; silently accepting them
    * would poison top-k with NULL distances). Empty coarse cells spawn one
    * new partition per cell — but, unlike a pre-assignment scheme, pids are
    * handed out only to cells that actually RECEIVED vectors in this batch,
    * numbered densely from `partitions.length` in cell order, so the
    * pid-equals-index invariant of [[IvfModel.partitions]] always holds.
    *
    * @param adds `(vec_id long, embedding array<float>)`, ids fresh. */
  def insert(model: IvfModel, adds: DataFrame): IvfModel = {
    val spark = adds.sparkSession
    import spark.implicits._

    val clean = adds
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(VectorOps.hasDim(col("embedding"), model.dim))

    // Broadcast centroid tables (metadata-sized even at 100 TB).
    val coarseDf = model.coarseCentroids.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("coarse_id", "ccent")
    // Routing list per the reference's CoarseCell.base_ids (split-born
    // siblings are deliberately absent — quake_min.py:183-184 quirk).
    val routesDf = model.coarseBaseIds.toSeq
      .flatMap { case (c, pids) => pids.map(p => (c, p, model.partitions(p.toInt).centroid.toSeq)) }
      .toDF("coarse_id", "pid", "pcent")

    // Stage 1: nearest coarse cell (ties → lowest id, like np.argmin).
    val withCell = clean
      .crossJoin(broadcast(coarseDf))
      .withColumn("cd", VectorOps.l2Sq(col("embedding"), col("ccent")))
      .groupBy("vec_id")
      .agg(
        any_value(col("embedding")).as("embedding"),
        min_by(col("coarse_id"), struct(col("cd"), col("coarse_id"))).as("coarse_id"))

    // Stage 2: nearest base partition within the cell's routing list; cells
    // with an empty routing list get a NULL pid here (new-partition branch).
    val routed = withCell
      .join(broadcast(routesDf), Seq("coarse_id"), "left")
      .withColumn("pd", when(col("pid").isNotNull, VectorOps.l2Sq(col("embedding"), col("pcent"))))
      .groupBy("vec_id")
      .agg(
        any_value(col("embedding")).as("embedding"),
        any_value(col("coarse_id")).as("coarse_id"),
        min_by(col("pid"), struct(col("pd"), col("pid"))).as("pid0"))
      .cache()

    // ONE driver collect serves both routing outcomes: the distinct
    // (cell, pid) pairs are bounded by the number of partitions a batch
    // touches, and from them the driver derives the empty-cell set AND the
    // touched-pid set without a second job over `routed`.
    val routePairs = routed.select("coarse_id", "pid0").distinct().collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    // Dense pids for empty cells that actually received vectors this batch.
    val hitEmptyCells = routePairs.collect { case (c, None) => c }.distinct.sorted
    val newPidFor: Map[Long, Long] =
      hitEmptyCells.zipWithIndex.map { case (c, i) => c -> (model.partitions.length + i).toLong }.toMap
    val pidExpr =
      if (newPidFor.isEmpty) col("pid0")
      else coalesce(col("pid0"), try_element_at(typedLit(newPidFor), col("coarse_id")))

    val newRows = routed
      .withColumn("partition_id", pidExpr)
      .select("vec_id", "embedding", "partition_id")

    // No full-table cache here: the union's parent is the caller's cached /
    // checkpointed table and `newRows` is batch-sized, so re-deriving the
    // union per consumer is one cheap concat — whereas materializing an
    // InMemoryRelation copies the ENTIRE collection every mutation epoch
    // (at index scale, a non-starter). Long-lived callers bound the union
    // chain with [[checkpoint]].
    val newVectors = model.vectors.unionByName(newRows)
    val touched = routePairs.map { case (c, p) => p.getOrElse(newPidFor(c)) }.toSet
    val updated = recomputeStats(newVectors, touched)
    routed.unpersist()

    // Existing partitions refreshed; brand-new partitions appended in pid order.
    val existing = model.partitions.map { p =>
      updated.get(p.pid).map { case (c, n) => p.copy(centroid = c, size = n) }.getOrElse(p)
    }
    val fresh = newPidFor.toVector.sortBy(_._2).map { case (cell, pid) =>
      val (c, n) = updated(pid)
      PartitionMeta(pid, cell, c, n, hits = 0L, lastSplitAt = 0L)
    }
    val baseIds = fresh.foldLeft(model.coarseBaseIds) { case (m, p) =>
      m.updated(p.coarseId, m.getOrElse(p.coarseId, Vector.empty) :+ p.pid)
    }
    model.copy(vectors = newVectors, partitions = existing ++ fresh, coarseBaseIds = baseIds)
  }

  /** Lineage + RDD-partition compaction for a long-lived mutable index.
    *
    * Each micro-batch mutation unions the (tiny) batch into `vectors`;
    * union concatenates the two sides' RDD partitions and `localCheckpoint`
    * preserves partitioning, so an index mutated for hundreds of epochs
    * accumulates sliver partitions — and every subsequent job on the table
    * (stats recompute, mirror collect, the next checkpoint) pays one task
    * per sliver: O(epochs) tasks per job, O(epochs²) scheduler work across
    * a replay. Measured on the sf0.1 replay this quadratic term dominated
    * wall time (32 → 832 RDD partitions within 25 micro-batches; insert and
    * delete each degraded ~2× between batch 25 and batch 50). Coalescing
    * (shuffle-free) back to the session's parallelism before truncating
    * lineage keeps per-job task counts flat for the index's lifetime.
    *
    * Callers own cache lifecycle: unpersist the superseded `vectors` AFTER
    * this materializes (it is an input of the checkpoint plan until then).
    */
  def checkpoint(model: IvfModel): IvfModel = {
    val target = model.vectors.sparkSession.sparkContext.defaultParallelism
    model.copy(vectors = model.vectors.coalesce(target).localCheckpoint(eager = true))
  }

  /** Batch delete by id; unknown ids no-op. Emptied partitions stay as
    * husks with their last centroid (reference quake_min.py:121-122 skips
    * the centroid recompute when a partition empties). */
  def delete(model: IvfModel, ids: DataFrame): IvfModel = {
    val del = ids.select(col("vec_id").cast("long").as("vec_id"))
    // Uncached for the same reason as insert's union: the anti-join's del
    // side is batch-sized (broadcast) and its parent is the caller's
    // cached / checkpointed table, so re-deriving per consumer beats
    // materializing a full-collection InMemoryRelation every epoch.
    val newVectors = model.vectors.join(del, Seq("vec_id"), "left_anti")

    // ONE full-group aggregation serves both "which partitions lost rows"
    // and "their exact recomputed (mean, count)": deletes only shrink
    // partitions, so touched = { pid | post-delete count != stored size }
    // (absent = emptied = husk). This replaces the former semi-join
    // touched-scan + filtered recompute — two full passes over the
    // collection — with a single partial-aggregated pass whose output is
    // metadata-sized (one row per live partition) at any scale. Untouched
    // partitions keep their stored centroid verbatim: only partitions whose
    // membership changed get the reference's exact np.mean recompute
    // (quake_min.py:108,122), so no float-summation drift is introduced
    // elsewhere.
    val after = recomputeStats(newVectors, model.partitions.map(_.pid).toSet)
    val touched = model.partitions.filter(p => after.get(p.pid).map(_._2).getOrElse(0L) != p.size)
    if (touched.isEmpty) return model

    val touchedPids = touched.map(_.pid).toSet
    val parts = model.partitions.map { p =>
      if (!touchedPids.contains(p.pid)) p
      else
        after.get(p.pid) match {
          case Some((c, n)) => p.copy(centroid = c, size = n)
          case None         => p.copy(size = 0L) // husk keeps stale centroid
        }
    }
    model.copy(vectors = newVectors, partitions = parts)
  }

  /** Exact (mean, count) recompute for the touched partitions only — one
    * partial-aggregated job over the filtered table. */
  private def recomputeStats(vectors: DataFrame, touched: Set[Long]): Map[Long, (Array[Float], Long)] = {
    if (touched.isEmpty) return Map.empty
    vectors
      .filter(col("partition_id").isInCollection(touched))
      .groupBy("partition_id")
      .agg(VectorMean.fn(col("embedding")).as("centroid"), count(lit(1)).as("n"))
      .collect()
      .map(r => r.getLong(0) -> (r.getSeq[Float](1).toArray, r.getLong(2)))
      .toMap
  }
}
