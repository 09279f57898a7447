package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** Each workload at a tiny size: one round (two when traced), every
  * operation checked against its model, every metric reported. */
class SmokeSpec extends AnyFunSuite {

  private def run(workload: String, trace: Boolean): Main.Outcome = {
    val work = new java.io.File(s"target/smoke-$workload").getAbsolutePath
    Main.run(Map("workload" -> workload, "seed" -> "7", "seconds" -> "0",
      "trace" -> (if (trace) "1" else "0"), "work-dir" -> work,
      "scale" -> "0.01"))
  }

  private def assertClean(o: Main.Outcome): Unit = {
    assert(o.failures.isEmpty)
    assert(o.correct && o.failed == 0 && o.attempted > 0)
    assert(o.metrics.forall(_._2._1.isFinite))
  }

  test("lifecycle, traced: per-layer metrics, spans and tracing overhead") {
    val o = run("lifecycle", trace = true)
    assertClean(o)
    assert(o.metrics.map(m => m._1 -> m._2._2) == Metrics.PerLayer)
    val m = o.metrics.map(x => x._1 -> x._2._1).toMap
    assert(m("write.cow_commit_s") > 0 && m("deleteview.compute_s") > 0)
    assert(m("sched.write.jobs") > 0 && m("format.listings_per_op") > 0)
    assert(m("self.write_s") > 0 && m("self.read_s") > 0)
    assert(o.spans.exists(_.name == "op.cow_commit"))
    assert(o.provenance.exists(_._1 == "host_nproc"))
  }

  test("curate: end-to-end metrics with planted duplicates found exactly") {
    val o = run("curate", trace = false)
    assertClean(o)
    assert(o.metrics.map(_._1) == Metrics.EndToEnd)
    assert(o.metrics.forall(_._2._1 > 0))
  }
}
