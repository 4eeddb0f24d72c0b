package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session in the repo comes from [[GraftSession]]: the shared test
  * session carries its contract (set in code, not by JVM flags), and a
  * sweep over the sources names any file that builds a session, or reads
  * the core count, on its own.
  */
class GraftSessionSpec extends AnyFunSuite with SparkTestBase {

  test("the shared test session has UTC, 4 shuffle partitions, no UI and graft's extensions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.conf.get("spark.sql.extensions") == "graft.GraftExtensions")
  }

  private def sources: Seq[Path] =
    Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }

  // split so this file does not match its own needles
  private val builderCall = ("SparkSession" + """\s*\.\s*builder\b""").r
  private val cpusVar = "SPARK_GRAFT" + "_CPUS"

  test("only GraftSession.scala builds a session or reads the core-count variable") {
    val (home, rest) = sources.partition(_.getFileName.toString == "GraftSession.scala")
    assert(home.size == 1 && rest.size > 50, s"sweep found ${home.size} + ${rest.size} files")
    val homeText = Files.readString(home.head)
    assert(builderCall.findFirstIn(homeText).nonEmpty && homeText.contains(cpusVar))
    val offenders = rest.flatMap { p =>
      val text = Files.readString(p)
      Seq(
        builderCall.findFirstIn(text).map(_ => s"$p: builds its own SparkSession"),
        Some(s"$p: reads $cpusVar").filter(_ => text.contains(cpusVar))).flatten
    }
    assert(offenders.isEmpty,
      s"use GraftSession instead:\n${offenders.mkString("\n")}")
  }
}
