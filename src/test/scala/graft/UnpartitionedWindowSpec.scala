package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every window in `src/main` with no partition key, listed with what it
  * sees. Spark runs such a window as one task over its whole input
  * (`WindowExec`: "No Partition Defined for Window operation!"), which is
  * only sound over a frame that is already aggregated to a grain bounded
  * apart from the data volume. The sweep finds the Column-API forms
  * (`Window.orderBy` / `rowsBetween` / `rangeBetween`, an empty
  * `Window.partitionBy()`, a constant `partitionBy(lit(…))`) and window
  * clauses inside `expr("…")` (`over ()`, `over (order by …`, `over
  * (partition by 1)`); SQL text run through `spark.sql` and the DuckDB
  * oracle strings are out of its reach. A new site fails until it is
  * listed here with its reason, and a listed site that is gone fails too.
  */
class UnpartitionedWindowSpec extends AnyFunSuite {

  /** (file name, trimmed source line where the window starts) → what the
    * window sees. Two sites on identical lines of one file would be
    * listed twice; none are today.
    */
  private val sanctioned: Map[(String, String), String] = Map(
    ("Behavior.scala", "val all = Window.partitionBy(lit(1))") ->
      "q272: the (day × hour) cell frame, aggregated; calendar-bounded",
    ("Behavior.scala", "val trail = Window.orderBy(\"hour\")") ->
      "q145: the hourly count table, aggregated; calendar-bounded",
    ("Behavior.scala", ".over(Window.orderBy(\"day\")") ->
      "q211: the per-day frame, aggregated; calendar-bounded",
    ("CorpusPrep.scala", ".over(Window.orderBy(col(\"priority\").desc, col(\"doc_id\")))") ->
      "q332: the k + 1 = 33 rows a limit kept",
    ("Dedup.scala", "expr(\"n_docs * 1000000 div nullif(sum(n_docs) over (), 0)\"))") ->
      "q292: the cluster-size grain, aggregated; at most the largest cluster's size",
    ("GlobalIndex.scala", "coalesce(sum(\"n\").over(Window.orderBy(\"pid\")") ->
      "numberedBy: one row per range partition, aggregated",
    ("GlobalIndex.scala", "val offW = Window.orderBy(\"pid\")") ->
      "prefixSummedBy: one row per range partition, aggregated",
    ("GlobalIndex.scala", "val totW = Window.orderBy(\"pid\")") ->
      "prefixSummedBy: one row per range partition, aggregated",
    ("Quality.scala", ".partitionBy(lit(1))") ->
      "q153: the 9 leading-digit cells, aggregated",
    ("Quality.scala", "val w = Window.partitionBy(lit(1))") ->
      "q269: the forecast-value grain, aggregated; at most 1 001 rows",
    ("Quality.scala", "expr(\"\"\"CAST(CAST(sum(pos_b) over (partition by 1) AS DECIMAL(38,0))") ->
      "q269: the same forecast-value grain, at most 1 001 rows",
    ("Sampling.scala", ".over(Window.orderBy(col(\"priority\").desc, col(\"o_orderkey\")))") ->
      "q326: the k + 1 = 201 rows a limit kept",
    ("Sampling.scala", "val byRem = Window.orderBy(desc(\"rem\"), asc(\"lang\"))") ->
      "q255: the language grain, aggregated",
    ("Sampling.scala", "val leftW = Window.partitionBy(lit(1))") ->
      "q255: the language grain, aggregated",
    ("Sampling.scala", "sum(\"n_rows\").over(Window.partitionBy()))") ->
      "q199: the (lang, source) cell frame, aggregated",
    ("Sampling.scala", "size(collect_set(\"lang\").over(Window.partitionBy())).cast(\"long\"))") ->
      "q199: the (lang, source) cell frame, aggregated",
    ("Scoring.scala", "val wDesc = Window.orderBy(desc(\"rev\"))") ->
      "q143: the distinct per-customer revenue values, aggregated; grows with the customer table",
    ("Scoring.scala", "val w = Window.orderBy(\"bin\")") ->
      "q229: the 256 revenue bins, aggregated",
    ("Scoring.scala", "val w = Window.orderBy(cn).rowsBetween(Window.unboundedPreceding, 0)") ->
      "q239: the x value grain, aggregated; at most 50 rows (l_quantity)",
    ("Scoring.scala", ".withColumn(\"off\", coalesce(sum(\"cnt\").over(Window.orderBy(\"pid\")") ->
      "q293: one row per range partition, aggregated",
    ("Sessionization.scala", "val wCarry = Window.orderBy(\"hour\")") ->
      "q136: the hourly spine, aggregated; calendar-bounded",
    ("Similarity.scala", ".over(Window.orderBy(desc(\"qcos\"), asc(\"vec_id\"))).cast(\"long\"))") ->
      "q318: the top-10 rows a limit kept",
    ("Similarity.scala", ".over(Window.orderBy(asc(\"adc_d2\"), asc(\"vec_id\"))).cast(\"long\"))") ->
      "q324: the top-10 rows a limit kept",
    ("TextAnalysis.scala", "Window.orderBy(desc(\"freq\"), asc(\"term\"))))") ->
      "q231, q245, q271: the 12 top terms a limit kept",
    ("TextAnalysis.scala", "row_number().over(Window.orderBy(\"lang\")).cast(\"long\"))") ->
      "q316: the distinct languages, aggregated",
    ("TextAnalysis.scala", "val wLang = Window.orderBy(\"lang\")") ->
      "q316: the language totals, aggregated")

  /** Where a window with no partition key starts, case-insensitive for the
    * SQL text inside `expr`.
    */
  private val unpartitioned = ("(?i)" +
    """Window\s*\.\s*(?:orderBy|rowsBetween|rangeBetween)\s*\(""" +
    """|Window\s*\.\s*partitionBy\(\s*\)""" +
    """|partitionBy\(\s*lit\(""" +
    """|expr\(\s*"+[^"]*?\bover\s*\(\s*(?:\)|order\s+by|partition\s+by\s+1\b)""").r

  /** `text` with comment lines blanked and end-of-line comments cut, so a
    * scaladoc that names a window is not a site; line numbers are kept.
    */
  private def code(text: String): String =
    text.split("\n", -1).map { l =>
      val t = l.trim
      if (t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")) ""
      else l.replaceAll("""\s//.*$""", "")
    }.mkString("\n")

  test("every window with no partition key in src/main is listed with what it sees") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files: List[Path] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.size > 50, s"sweep found ${files.size} files")
    val sites = files.flatMap { p =>
      val text = Files.readString(p)
      val lines = text.split("\n", -1)
      val stripped = code(text)
      unpartitioned.findAllMatchIn(stripped).map { m =>
        val line = stripped.substring(0, m.start).count(_ == '\n')
        (p.getFileName.toString, lines(line).trim) -> s"$p:${line + 1}"
      }
    }
    val repeated = sites.groupBy(_._1).collect { case (k, v) if v.size > 1 => v.map(_._2) }
    assert(repeated.isEmpty, s"identical site lines, list them apart: $repeated")
    val unlisted = sites.filterNot(s => sanctioned.contains(s._1))
    assert(unlisted.isEmpty,
      "windows with no partition key, not listed with what they see:\n" +
        unlisted.map { case ((_, l), at) => s"$at: $l" }.mkString("\n"))
    val gone = sanctioned.keySet -- sites.map(_._1)
    assert(gone.isEmpty, s"listed sites no longer in the source: $gone")
  }
}
