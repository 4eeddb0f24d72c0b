package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Probe`'s core over one sf0.001 query: every phase is timed
  * inside the measured wall, each run reports the stages its own jobs
  * ran, none carried over from the run before, and the `[phase]` line
  * counts the processes the JVM started and the classes Janino compiled
  * during the run.
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
      assert(Probe.lines(r).head.endsWith(s" procs=${r.procs} compiles=${r.compiles}"),
        Probe.lines(r).head)
      assert(r.compiles >= 0, s"negative compile count in $r")
    }
    val Seq(first, second) = runs.map(_.stages.map(_.id))
    assert(first.max < second.min, s"rep 2 lists rep 1's stages: $first / $second")
    // a batch query's generated classes are cached for the process
    assert(runs(1).compiles == 0, s"rep 2 compiled ${runs(1).compiles} classes")
  }

  test("compilesDuring counts a new generated class once and a cached one not at all") {
    // a literal no earlier plan holds makes the generated code new
    val fresh = spark.range(100).selectExpr(s"id + ${System.nanoTime() % 1000000007L} AS x")
    val (rows, first) = Probe.compilesDuring(fresh.collect())
    assert(rows.length == 100)
    assert(first > 0, "a never-seen projection compiled nothing")
    val (_, again) = Probe.compilesDuring(fresh.collect())
    assert(again == 0, s"the same plan compiled $again classes a second time")
  }
}
