package graft

import org.scalatest.funsuite.AnyFunSuite

/** The lexicon-bounded graph kernels stay fused: each of q110, q121,
  * q147, q328 and q329 runs as one SQL execution of at most 3 stages
  * (the edge aggregation's shuffles plus the one task that runs the
  * kernel), measured per run under its own job group with
  * [[Probe.run]]. A return to per-round DataFrame loops adds an
  * execution and a job per eager checkpoint, and fails here.
  */
class OneTaskStageGuardSpec extends AnyFunSuite with SparkTestBase {

  private val fused = Seq("q110_bfs_hops", "q121_widest_paths",
    "q147_shortest_tie_paths", "q328_pagerank_exact", "q329_lpa_exact")

  test("each one-task graph kernel runs in one SQL execution of at most 3 stages") {
    val runs = for (rep <- 1 to 2; name <- fused) yield {
      val (r, _) = Probe.run(spark, sf, name, rep)
      spark.catalog.clearCache()
      r
    }
    val bad = runs.filter(r => r.sqlExecutions != 1 || r.stages.size > 3)
      .map(r => s"${r.query} rep${r.rep}: ${r.sqlExecutions} SQL executions, " +
        s"${r.stages.size} stages")
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
