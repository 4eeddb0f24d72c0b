package graft

/** Dev tool: condensed physical-plan audit over the registered surface.
  * Flags the anti-patterns the engine must not have at 100 TB:
  * cartesian products, missing scan pruning, missing broadcasts.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.build(GraftSession.cpus)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        val scans = "ReadSchema: [^\n]*".r.findAllIn(plan).toSeq
        val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq.filter(_ != "PushedFilters: []")
        val flags = Seq(
          if (plan.contains("CartesianProduct")) Some("CARTESIAN!") else None,
          if (plan.contains("BroadcastHashJoin")) Some("bhj") else None,
          if (plan.contains("SortMergeJoin")) Some("smj") else None,
          if (plan.contains("BroadcastNestedLoopJoin")) Some("bnlj") else None,
          if (plan.contains("TakeOrderedAndProject")) Some("topk") else None,
          if (plan.contains("WholeStageCodegen")) Some("wsc") else None,
          if (plan.contains("AdaptiveSparkPlan")) Some("aqe") else None).flatten
        val nEx = "Exchange".r.findAllIn(plan).length
        println(s"== $name  [${flags.mkString(",")}] exchanges=$nEx")
        scans.foreach(s => println(s"   scan ${s.take(110)}"))
        pushed.foreach(p => println(s"   $p".take(110)))
      } catch { case e: Throwable => println(s"== $name FAILED ${e.getMessage.take(80)}") }
    }
    spark.stop()
  }
}
