package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only: where do the danmaku-extraction seconds go — CSV parse,
  * the alias contains-chain, or the pair explode + agg?
  */
object FanrenProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[probe] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.catalog.clearCache()
    }
    val glob = graft.RefData.fanRenGlob
    val lex = graft.expr.RefLexicons.fanRen
    for (rep <- 1 to 2) {
      println(s"[probe] === rep $rep")
      t("csv scan only (text col, count rows)") {
        graft.sources.CsvIngest.readDanmaku(spark, glob)
          .select("text").write.format("noop").mode("overwrite").save() }
      t("scan + entityArray") {
        graft.sources.CsvIngest.readDanmaku(spark, glob)
          .select(graft.ops.Fidelity.entityArray(col("text"), lex).as("es"))
          .write.format("noop").mode("overwrite").save() }
      t("entityRows (scan+extract+filter)") {
        graft.ops.Fidelity.entityRows(spark, glob, lex)
          .write.format("noop").mode("overwrite").save() }
      t("full q91 edges") {
        graft.ops.Fidelity.relationEdges(spark, glob, lex)
          .write.format("noop").mode("overwrite").save() }
      t("distinct texts (count)") {
        val n = graft.sources.CsvIngest.readDanmaku(spark, glob)
          .select("text").distinct().count()
        println(s"[probe]   n_distinct_texts=$n") }
      t("total rows") {
        val n = graft.sources.CsvIngest.readDanmaku(spark, glob).count()
        println(s"[probe]   n_rows=$n") }
    }
    spark.stop()
  }
}
