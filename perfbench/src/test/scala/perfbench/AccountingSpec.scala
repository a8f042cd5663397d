package perfbench

import org.apache.spark.perfbench.Bus
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own accounting, at sf0.001: which layer a Spark job is
  * charged to, and what the cache counters show around `release()`. */
class AccountingSpec extends AnyFunSuite {
  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"
  private lazy val spark = Harness.session(4, None, None)

  /** One traced run of `q`, with the tracer that saw it. */
  private def traced(q: String): (QueryRun, Tracer) = {
    val sc = spark.sparkContext
    val t = new Tracer
    sc.addSparkListener(t)
    try {
      val r = new Runner(spark, sf, None).run(q, traced = true)
      Bus.drain(sc)
      assert(r.error.isEmpty, r.error)
      (r, t)
    } finally sc.removeSparkListener(t)
  }

  test("two runs of a fixed query count the same jobs and tasks") {
    val (a, ta) = traced("q1_pricing_summary")
    val (b, tb) = traced("q1_pricing_summary")
    assert(ta.layer(a.trace, "build").jobs == tb.layer(b.trace, "build").jobs)
    assert(ta.layer(a.trace, "exec").jobs == tb.layer(b.trace, "exec").jobs)
    assert(ta.layer(a.trace, "exec").tasks == tb.layer(b.trace, "exec").tasks)
  }

  test("a loop query's builder jobs are charged to build") {
    val (r, t) = traced("q_dedup_components")
    val build = t.layer(r.trace, "build").jobs
    assert(build >= 10, s"build jobs: $build")
    assert(build > t.layer(r.trace, "exec").jobs)
  }

  test("q1_pricing_summary's scan is charged to exec") {
    val (r, t) = traced("q1_pricing_summary")
    val exec = t.layer(r.trace, "exec")
    assert(exec.jobs >= 1 && exec.inputBytes > 0)
    assert(t.layer(r.trace, "build").inputBytes == 0)
  }

  test("a persisting query's frames are counted, and release drops them") {
    val (r, _) = traced("q_bpe_train")
    assert(r.persistedRdds > 0)
    assert(r.rddsLeft == 0) // every frame it persists goes through CacheScope
  }

  test("a span covers its layers and the listener sees their jobs") {
    val (r, t) = traced("q_sim_ivf_rebalance")
    val jobs = t.jobSpans(r.trace)
    assert(jobs.nonEmpty && jobs.forall(s => s.endUs >= s.startUs))
    assert(jobs.map(_.name).toSet.subsetOf(Set("job:build", "job:plan", "job:exec")))
    assert(Tracer.covered(0, 10, Seq((2L, 5L), (4L, 8L), (9L, 20L))) == 7)
  }
}
