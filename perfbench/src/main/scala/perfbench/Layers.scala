package perfbench

/** Per-layer metrics of a traced run, named `<layer>.<call>.<stat>`.
  * Every metric is printed for every workload: a layer a workload bypasses
  * reads 0 calls, which is how the trace confirms the bypass. */
object Layers {
  /** (span name, stats) for every call the client makes into a layer. */
  val Calls: Seq[(String, Seq[String])] = Seq(
    "ivf_search.choose_probes" -> Seq("calls", "us"),
    "ivf_search.scan_driver" -> Seq("calls", "ms"),
    "ivf_search.collect_mirror" -> Seq("calls", "ms"),
    "ivf_mutate.insert" -> Seq("ms", "jobs"),
    "ivf_mutate.delete" -> Seq("ms", "jobs"),
    "ivf_mutate.checkpoint" -> Seq("ms", "jobs"),
    "ivf_build.build" -> Seq("ms", "jobs"),
    "ivf_maintain.maintain" -> Seq("ms", "jobs"),
    "knn_join.descent" -> Seq("ms", "jobs", "shuffle_bytes"),
    "hnsw.build" -> Seq("ms", "jobs"),
    "hnsw.search" -> Seq("calls", "ms", "jobs", "plan_nodes", "driver_ms"),
    "hnsw.insert" -> Seq("ms", "jobs", "plan_nodes"),
    "hnsw.delete" -> Seq("ms", "jobs"),
    "hnsw.save_delta" -> Seq("ms", "jobs"),
    "hnsw.compact" -> Seq("ms", "jobs"),
    "hnsw.load_log" -> Seq("ms"),
    "dedup.exact_groups" -> Seq("calls", "ms"),
    "dedup.minhash_lsh" -> Seq("ms"),
    "dedup.ppjoin" -> Seq("ms", "shuffle_bytes"),
    "dedup.components" -> Seq("ms", "jobs"))

  /** Workload gauges, 0 where the workload has no such structure. */
  val Gauges: Seq[String] = Seq(
    "ivf_search.nprobe", "ivf_search.scanned_per_query",
    "ivf_maintain.partitions", "ivf_maintain.husks",
    "hnsw.epochs", "hnsw.layers", "hnsw.top_layer_nodes", "hnsw.disk_bytes_per_input_byte",
    "dedup.minhash_lsh.pair_recall", "dedup.minhash_lsh.pair_precision", "dedup.ppjoin.pairs")

  private val IndexLayers = Seq("ivf_", "hnsw.", "knn_join.")

  def report(
      tracer: Tracer,
      timedFromId: Long,
      timedNs: Long,
      traceNs: Long,
      wl: Workload,
      rec: Recorder,
      gcMs: Double,
      memory: Map[String, Double]): Metrics = {
    tracer.drain()
    val spans = tracer.allSpans.filterNot(_.name.startsWith("selftest."))
    // per-call stats come from the timed phase; calls made only during
    // set-up (index builds) from the set-up
    val (setupSpans, timedSpans) = spans.partition(_.id < timedFromId)
    val setupByName = setupSpans.groupBy(_.name)
    val timedByName = timedSpans.groupBy(_.name)
    def byName(name: String): Seq[Span] = timedByName.getOrElse(name, setupByName.getOrElse(name, Nil))
    val m = new Metrics
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

    Calls.foreach { case (name, stats) =>
      val ss = byName(name)
      lazy val counts = ss.map(tracer.sparkOf(_))
      stats.foreach {
        case "calls"         => m.put(s"$name.calls", ss.length, "count")
        case "ms"            => m.put(s"$name.ms", med(ss.map(_.wallMs)), "ms")
        case "us"            => m.put(s"$name.us", med(ss.map(_.wallMs * 1e3)), "us")
        case "jobs"          => m.put(s"$name.jobs", med(counts.map(_.jobs.toDouble)), "count")
        case "tasks"         => m.put(s"$name.tasks", med(counts.map(_.tasks.toDouble)), "count")
        case "shuffle_bytes" => m.put(s"$name.shuffle_bytes", med(counts.map(_.shuffleWriteBytes.toDouble)), "bytes")
        case "driver_ms"     => m.put(s"$name.driver_ms", med(ss.map(tracer.driverMs)), "ms")
        case "plan_nodes"    =>
          // recorded on the call's span or, for lazy calls, its plan span
          val own = ss.flatMap(_.attrs.get("plan_nodes"))
          val nodes = if (own.nonEmpty) own else byName(s"$name.plan").flatMap(_.attrs.get("plan_nodes"))
          m.put(s"$name.plan_nodes", med(nodes), "count")
      }
    }

    val gauges = wl.gauges
    Gauges.foreach { g =>
      val ratio = g.endsWith("_recall") || g.endsWith("_precision") || g.endsWith("_per_input_byte")
      m.put(g, gauges.getOrElse(g, 0.0), if (ratio) "ratio" else "count")
    }

    // Spark totals over the timed phase: every top-level span, so each
    // job counts once
    val timed = timedSpans.filter(_.parent == 0L)
    val tot = new SparkCounts
    timed.foreach(s => tot.add(tracer.sparkOf(s)))
    m.put("spark.jobs", tot.jobs, "count")
    m.put("spark.stages", tot.stages, "count")
    m.put("spark.tasks", tot.tasks, "count")
    m.put("spark.exec_run_ms", tot.execRunMs, "ms")
    m.put("spark.exec_cpu_ms", tot.execCpuNs / 1e6, "ms")
    m.put("spark.shuffle_read_bytes", tot.shuffleReadBytes, "bytes")
    m.put("spark.shuffle_write_bytes", tot.shuffleWriteBytes, "bytes")
    m.put("spark.spill_bytes", tot.spillBytes, "bytes")
    m.put("spark.driver_ms", timed.map(tracer.driverMs).sum, "ms")

    m.put("client.read_p50_ms", med(rec.readMs.toSeq), "ms")
    m.put("client.write_p50_ms", med(rec.writeMs.toSeq), "ms")
    m.put("client.maintain_ms", rec.maintainMs.sum, "ms")
    m.put("client.read_tail_ms", Stats.tail(rec.readMs.toSeq).map(_._2).getOrElse(0.0), "ms")
    m.put("jvm.gc_ms", gcMs, "ms")
    memory.foreach { case (k, v) => m.put(k, v, "MB") }
    m.put("trace.index_spans", spans.count(s => IndexLayers.exists(s.name.startsWith)), "count")
    // the tracer's own work on the client thread, against the rest of
    // the timed phase
    m.put("trace.overhead_pct", 100.0 * traceNs / math.max(1L, timedNs - traceNs), "%")
    m
  }
}
