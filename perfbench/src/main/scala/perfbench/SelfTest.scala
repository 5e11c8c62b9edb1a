package perfbench

import org.apache.spark.sql.SparkSession

/** Checks of the benchmark itself, run at the start of every run. A failed
  * self-test is a failed op. */
object SelfTest {

  /** The same seed yields identical inputs; another seed different ones. */
  def generators(seed: Long, rec: Recorder): Unit = {
    def mix(s: Long) = Gen.mixture(s, "selftest", 300, 8, 4)
    def corpus(s: Long) = Gen.corpus(s, 1L, 50, 2, 0.2, 0.02)
    def sameMix(a: Gen.Mixture, b: Gen.Mixture) =
      a.cluster.sameElements(b.cluster) && a.vecs.indices.forall(i => a.vecs(i).sameElements(b.vecs(i)))
    def sameCorpus(a: Gen.Corpus, b: Gen.Corpus) =
      a.docId.sameElements(b.docId) && a.block.sameElements(b.block) &&
        a.text.sameElements(b.text) && a.truthRemoved == b.truthRemoved
    def zipf(s: Long) = { val z = new Gen.Zipf(50, 1.1, Gen.rng(s, "selftest")); Vector.fill(200)(z.next()) }
    rec.op(sameMix(mix(seed), mix(seed)) && !sameMix(mix(seed), mix(seed + 1)),
      "self-test: vector generator is not a function of the seed")
    rec.op(sameCorpus(corpus(seed), corpus(seed)) && !sameCorpus(corpus(seed), corpus(seed + 1)),
      "self-test: corpus generator is not a function of the seed")
    rec.op(zipf(seed) == zipf(seed) && zipf(seed) != zipf(seed + 1),
      "self-test: Zipf sampler is not a function of the seed")
  }

  /** One known action's jobs, stages and tasks attribute exactly to its
    * span, also when the jobs run on threads `WorkPool.concurrently`
    * spawns inside the span. */
  def attribution(spark: SparkSession, tracer: Tracer, rec: Recorder): Unit = {
    val sc = spark.sparkContext
    // 4 map tasks, a shuffle, 3 reduce tasks: 1 job, 2 stages, 7 tasks
    def action(): Long = sc.parallelize(1 to 1000, 4).map(x => (x % 7, 1)).reduceByKey(_ + _, 3).count()
    tracer.active = true
    val outer = tracer.spanWith("selftest.outer") { o =>
      tracer.span("selftest.action")(action())
      tracer.span("selftest.concurrent")(graft.WorkPool.concurrently(Seq(() => action(), () => action())))
      o
    }
    tracer.active = tracer.enabled
    tracer.drain()
    val spans = tracer.allSpans
    def counts(name: String, inclusive: Boolean) = {
      val c = tracer.sparkOf(spans.find(_.name == name).get, inclusive)
      (c.jobs, c.stages, c.tasks)
    }
    val got = Seq(
      counts("selftest.action", inclusive = true),
      counts("selftest.concurrent", inclusive = true),
      counts("selftest.outer", inclusive = false),
      (tracer.sparkOf(outer).jobs, tracer.sparkOf(outer).stages, tracer.sparkOf(outer).tasks))
    val want = Seq((1L, 2L, 7L), (2L, 4L, 14L), (0L, 0L, 0L), (3L, 6L, 21L))
    rec.op(got == want, s"self-test: span attribution $got, expected $want")
  }
}
