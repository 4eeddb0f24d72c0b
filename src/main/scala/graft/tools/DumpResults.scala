package graft.tools

/** Dev tool: dump named queries' full results as single-file CSV for
  * before/after equivalence diffing during optimization work.
  * Usage: runMain graft.tools.DumpResults <sfDir> <outDir> q... q...
  */
object DumpResults {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2)
    val spark = graft.GraftSession.build(graft.GraftSession.cpus)
    for (name <- names) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$outDir/$name")
      println(s"[dump] $name rows=${spark.read.option("header","true").csv(s"$outDir/$name").count()}")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
