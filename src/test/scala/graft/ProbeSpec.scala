package graft

import graft.tools.Probe

/** `graft.tools.Probe`'s per-query routine on the sf0.001 fixture. */
class ProbeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  for (name <- Seq("route_aum", "first_seen_stream")) {
    test(s"probe reports a plan, two run totals and per-run jobs for $name") {
      val report = Probe.probe(spark, sf, name)
      assert(report.plan.contains("Physical Plan"), report.plan)
      assert(report.runs.size == 2)
      report.runs.zipWithIndex.foreach { case (run, i) =>
        assert(run.sec > 0.0, s"run ${i + 1} total")
        assert(run.jobs.nonEmpty, s"run ${i + 1} recorded no Spark job")
        assert(run.jobs.forall(_.sec >= 0.0))
        if (name.endsWith("_stream"))
          assert(run.triggers.nonEmpty, s"run ${i + 1} recorded no trigger")
      }
      val out = Probe.lines(name, report)
      assert(out.count(_.startsWith(s"[total] $name run")) == 2)
    }
  }
}
