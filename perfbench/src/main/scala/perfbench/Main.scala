package perfbench

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Workload benchmark for graft: one closed-loop client on `local[nproc]`
  * drives a workload through graft's public API for `--seconds`, checks
  * every result with the benchmark's own oracles, and prints its metrics,
  * one per line and then as one JSON object on the last line.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --workdir <dir> [--tracefile <f>]
  * }}}
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` records a span
  * around every call into a layer, attributes Spark jobs to the spans, and
  * prints the per-layer metrics instead. */
object Main {
  val Workloads = Seq("ivf_online", "hnsw_lifecycle", "dedup_corpus")
  val EndToEnd = Seq("setup_s", "ops_per_s", "quality")

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean, workDir: String, traceFile: Option[String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("workdir"), m.get("tracefile"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    val workDir = java.nio.file.Paths.get(a.workDir).toAbsolutePath
    deleteTree(workDir)
    java.nio.file.Files.createDirectories(workDir)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(workDir.resolve("checkpoints").toString)
    val code =
      try run(spark, a, workDir)
      finally {
        spark.stop()
        deleteTree(workDir)
      }
    sys.exit(code)
  }

  def run(spark: SparkSession, a: Args, workDir: java.nio.file.Path): Int = {
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val rec = new Recorder
    val ctx = new Ctx(spark, tracer, a.seed, workDir, rec)
    SelfTest.generators(a.seed, rec)
    if (a.trace) SelfTest.attribution(spark, tracer, rec)

    val wl: Workload = a.workload match {
      case "ivf_online"     => new IvfWorkload(ctx, n = 40000, dim = 64, nClusters = 60)
      case "hnsw_lifecycle" => new HnswWorkload(ctx, n = 1000, dim = 64)
      case "dedup_corpus"   => new DedupWorkload(ctx, docsPerShard = 3000, blocks = 4)
    }

    // set-up: process start to the first timed op
    wl.setup()
    val setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val timedFromId = tracer.allSpans.lastOption.map(_.id + 1).getOrElse(1L)

    // timed phase: whole cycles until the budget is spent
    val gc0 = gcMs()
    val (oracle0, trace0, cpu0) = (rec.oracleNs, tracer.overheadNs, processCpuNs())
    val t0 = System.nanoTime()
    var cycles = 0
    while (cycles == 0 || System.nanoTime() - t0 < a.seconds * 1000000000L) {
      wl.cycle()
      cycles += 1
    }
    val timedNs = System.nanoTime() - t0 - (rec.oracleNs - oracle0)
    val traceNs = tracer.overheadNs - trace0
    val cpuNs = processCpuNs() - cpu0
    tracer.active = false
    val gc = gcMs() - gc0
    val memory = Map("jvm.retained_heap_mb" -> retainedHeapMb(), "jvm.peak_rss_mb" -> peakRssMb())
    wl.finish()

    val m = new Metrics
    m.put("setup_s", setupS, "s")
    m.put("ops_per_s", rec.ops / (timedNs / 1e9), "ops/s", s"${rec.ops} ops in $cycles cycles")
    m.put("read_p50_ms", Stats.median(rec.readMs.toSeq), "ms", s"${rec.readMs.length} calls")
    m.put("quality", rec.quality.sum / math.max(1, rec.quality.length), "ratio",
      if (a.workload == "dedup_corpus") "dedup F1" else "recall@10")

    val perLayer = if (a.trace) Some(Layers.report(tracer, timedFromId, timedNs, traceNs, wl, rec, gc, memory)) else None

    val ok = rec.failed == 0
    val out = System.out
    out.println(s"workload ${a.workload} seed ${a.seed} seconds ${a.seconds} trace ${if (a.trace) 1 else 0}")
    m.printLines(out)
    Stats.tail(rec.readMs.toSeq).foreach { case (pct, v) =>
      out.println(f"read tail: p$pct%.1f = $v%.3f ms over ${rec.readMs.length} calls (10 beyond)")
    }
    if (rec.writeMs.nonEmpty) out.println(f"write_p50_ms ${Stats.median(rec.writeMs.toSeq)}%.3f ms over ${rec.writeMs.length} batches")
    if (rec.maintainMs.nonEmpty) out.println(f"maintain_s ${rec.maintainMs.sum / 1e3}%.3f s over ${rec.maintainMs.length} calls")
    out.println(f"timed phase: ${timedNs / 1e9}%.3f s wall, ${cpuNs / 1e9}%.3f s process CPU")
    out.println(f"error_rate ${rec.failed.toDouble / math.max(1, rec.attempted)}%.6f (${rec.failed} of ${rec.attempted})")
    rec.failures.foreach(f => System.err.println(s"check failed: $f"))
    memory.foreach { case (k, v) => out.println(f"$k $v%.1f MB") }
    perLayer.foreach(_.printLines(out))
    a.traceFile.filter(_ => a.trace).foreach(f => tracer.dump(java.nio.file.Paths.get(f)))
    val metricsJson = perLayer match {
      case Some(p) => p.json(p.names)
      case None    => m.json(EndToEnd)
    }
    out.println(s"""{"correct": $ok, "attempted": ${rec.attempted}, "failed": ${rec.failed}, "metrics": $metricsJson}""")
    out.flush()
    if (ok) 0 else 1
  }

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).filter(_ >= 0).sum

  /** Heap still in use after a full collection at the end of the timed
    * phase: the index, caches and state the run keeps alive. */
  def retainedHeapMb(): Double = {
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    heap.getUsed / (1024.0 * 1024.0)
  }

  /** The process's resident-set high-water mark (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val all = java.nio.file.Files.walk(p).iterator().asScala.toVector
      all.reverse.foreach(f => java.nio.file.Files.deleteIfExists(f))
    }

  def treeBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else java.nio.file.Files.walk(p).iterator().asScala
      .filter(f => java.nio.file.Files.isRegularFile(f)).map(f => java.nio.file.Files.size(f)).sum
}
