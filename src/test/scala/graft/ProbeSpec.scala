package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Probe`'s core over one sf0.001 query: every phase is timed
  * inside the measured wall, each run reports the stages its own jobs
  * ran, none carried over from the run before, and the `[phase]` line
  * counts the processes the JVM started during the run.
  */
class ProbeSpec extends AnyFunSuite with SparkTestBase {

  test("Probe.run times the phases within the wall and lists the run's own stages") {
    val runs = (1 to 2).map { rep =>
      val (r, _) = Probe.run(spark, sf, "q01_pricing_summary", rep)
      spark.catalog.clearCache()
      r
    }
    runs.foreach { r =>
      val phases = Seq(r.buildNs, r.optimizeNs, r.planNs, r.execNs)
      assert(phases.forall(_ >= 0), s"negative phase in $r")
      assert(phases.sum <= r.wallNs, s"phases exceed the wall in $r")
      assert(r.stages.nonEmpty, s"no stages in $r")
      assert(r.stages.forall(s => s.tasks > 0 && s.wallMs >= 0), s"bad stage in $r")
      assert(Probe.lines(r).size == 1 + r.stages.size)
      assert(Probe.lines(r).head.endsWith(s" procs=${r.procs}"), Probe.lines(r).head)
    }
    val Seq(first, second) = runs.map(_.stages.map(_.id))
    assert(first.max < second.min, s"rep 2 lists rep 1's stages: $first / $second")
  }
}
