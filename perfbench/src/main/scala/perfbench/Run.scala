package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** What a run records as the closed-loop client drives the engine. */
final class Recorder {
  val readMs = mutable.ArrayBuffer.empty[Double]
  val writeMs = mutable.ArrayBuffer.empty[Double]
  val maintainMs = mutable.ArrayBuffer.empty[Double]
  val quality = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var ops = 0L
  var oracleNs = 0L

  /** Count one op; a failed check fails it. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.length < 20) failures += what
    }
  }
}

/** Everything a workload needs from the harness. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val seed: Long,
    val workDir: java.nio.file.Path,
    val rec: Recorder) {
  val parallelism: Int = spark.sparkContext.defaultParallelism

  /** Wall time of `body` in ms, with its result. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Untimed correctness work: excluded from throughput. */
  def oracle[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally rec.oracleNs += System.nanoTime() - t0
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Record a boundary counter on the innermost open span. */
  def annotate(key: String, value: => Double): Unit = {
    val s = tracer.current
    if (s != null) tracer.bookkeeping(s.attrs(key) = value)
  }

  /** A call that returns a lazy DataFrame: the call runs in a `plan` span
    * (which records the analyzed plan's node count) and the action that
    * materializes its result runs in a `run` span, both under `name`. */
  def lazyCall[T](name: String, attrs: (String, Double)*)(plan: => DataFrame)(run: DataFrame => T): T =
    tracer.spanWith(name) { parent =>
      if (parent != null) attrs.foreach { case (k, v) => parent.attrs(k) = v }
      val df = tracer.spanWith(name + ".plan") { s =>
        val d = plan
        if (s != null) tracer.bookkeeping(s.attrs("plan_nodes") = Ctx.planNodes(d))
        d
      }
      tracer.span(name + ".run")(run(df))
    }

  def vectorsDf(ids: Seq[Long], vecs: Seq[Array[Float]]): DataFrame = {
    import spark.implicits._
    spark.sparkContext
      .parallelize(ids.zip(vecs.map(_.toSeq)), math.min(parallelism, math.max(1, ids.length / 64)))
      .toDF("vec_id", "embedding")
  }
}

object Ctx {
  def planNodes(df: DataFrame): Double = df.queryExecution.analyzed.collect { case p => p }.size.toDouble
}

/** One workload: a repeatable set-up, then cycles of closed-loop calls. */
trait Workload {
  /** Generate inputs, build, and run the untimed warm-up ops. */
  def setup(): Unit
  /** One cycle of timed calls. Cycles are the unit a run stops on. */
  def cycle(): Unit
  /** Final checks after the timed phase. */
  def finish(): Unit = ()
  /** Workload-specific per-layer counters (layer, partition counts, …). */
  def gauges: Map[String, Double] = Map.empty
}
