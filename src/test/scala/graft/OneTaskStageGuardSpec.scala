package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The lexicon-bounded graph kernels stay fused: each of q33, q34,
  * q110, q121, q147, q328 and q329 runs as one SQL execution of at most
  * 3 stages (the edge aggregation's shuffles plus the one task that
  * runs the kernel), measured per run under its own job group with
  * [[Probe.run]]. A return to per-round DataFrame loops or to GraphX
  * Pregel adds executions and jobs, and fails here; so does GraphX in
  * any main source but the two whose pair graphs grow with the data.
  */
class OneTaskStageGuardSpec extends AnyFunSuite with SparkTestBase {

  private val fused = Seq("q33_pagerank", "q34_connected_components", "q110_bfs_hops",
    "q121_widest_paths", "q147_shortest_tie_paths", "q328_pagerank_exact", "q329_lpa_exact")

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

  test("GraphX is used only by Dedup's and Linkage's pair-graph components") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.size > 50, s"sweep found ${files.size} files")
    val offenders = files.filter(p => Files.readString(p).contains("org.apache.spark.graphx"))
      .filterNot(p => Set("Dedup.scala", "Linkage.scala")(p.getFileName.toString))
    assert(offenders.isEmpty,
      s"lexicon-bounded graphs run through GraphOps.inOneTask:\n${offenders.mkString("\n")}")
  }
}
