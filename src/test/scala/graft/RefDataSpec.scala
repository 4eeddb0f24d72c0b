package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The reference-input declarations that the whole-surface specs
  * (PlanGuardSpec, SparkEntrySpec, OracleTypeSpec) trust to leave out
  * only what the unmounted corpus makes unrunnable, and a sweep that
  * keeps every refdata path relative to the checkout the engine runs in,
  * and every tools script pointed at the checkout it sits in.
  */
class RefDataSpec extends AnyFunSuite with SparkTestBase {

  test("present: a glob or file matching a regular file, never a dangling link") {
    assert(RefData.present(graft.sources.BinaryIngest.segmentsGlob))
    withTempDir("graft_refdata_") { dir =>
      val link = dir.resolve("spy")
      Files.createSymbolicLink(link, dir.resolve("mount"))
      val glob = s"$link/danmaku_*.csv"
      val file = s"$link/danmaku_BV1.csv"
      assert(!RefData.present(glob) && !RefData.present(file))
      Files.createDirectory(dir.resolve("mount"))
      Files.createDirectory(link.resolve("danmaku_dir.csv"))
      assert(!RefData.present(glob), "a directory is not an input file")
      Files.writeString(link.resolve("danmaku_BV1.csv"), "dmid\n")
      assert(RefData.present(glob) && RefData.present(file))
      assert(!RefData.present(s"$link/danmaku_BV2.csv"))
    }
  }

  test("require names the absent path and says the corpus is not mounted") {
    val path = "/nonexistent/refdata/spy/danmaku_*.csv"
    val e = intercept[java.io.FileNotFoundException](RefData.require(path))
    assert(e.getMessage.contains(path) && e.getMessage.contains("not mounted"))
  }

  test("the declared reads name registered queries and oracles") {
    assert(RefData.queryReads.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(RefData.oracleReads.keySet.subsetOf(SparkEntry.oracleSql.keySet))
  }

  test("oracleReads is exactly the corpus paths each oracle's SQL names") {
    val corpus = Seq(RefData.fanRenGlob, RefData.spyGlob, RefData.spyEpisodeCsv)
    val named = SparkEntry.oracleSql
      .map { case (n, sql) => n -> corpus.filter(sql.contains) }
      .filter(_._2.nonEmpty)
    assert(named == RefData.oracleReads)
  }

  test("a query whose reference input is absent fails with the one message") {
    val absent = RefData.absent(RefData.queryReads)
    assume(absent.nonEmpty, "the reference corpus is mounted")
    absent.foreach { case (name, paths) =>
      // the input check runs before the query touches its session
      val e = intercept[java.io.FileNotFoundException](
        SparkEntry.queries(name)(spark, sf))
      assert(e.getMessage == RefData.notMounted(paths.head), name)
    }
  }

  test("no main source names an absolute checkout or refdata path; fixtures resolve here") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.size > 50, s"sweep found ${files.size} files")
    val checkout = "\"" + Paths.get("").toAbsolutePath
    val refdataLiteral = "\"/[^\"\\s]*/refdata/".r
    val offenders = files.filter { p =>
      val text = Files.readString(p)
      text.contains(checkout) || refdataLiteral.findFirstIn(text).nonEmpty
    }
    assert(offenders.isEmpty, s"use RefData.path instead:\n${offenders.mkString("\n")}")
    // the tools' shell scripts find the checkout from their own directory
    val tools = Files.list(Paths.get("tools"))
    val scripts = try tools.iterator.asScala.filter(_.toString.endsWith(".sh")).toList
      finally tools.close()
    assert(scripts.nonEmpty, "no tools/*.sh found")
    val checkoutDir = Paths.get("").toAbsolutePath.toString + "/"
    val absoluteBuildDir = "(^|[\\s\"'=:])/[^\\s\"':$]*/target/".r
    val scriptOffenders = scripts.filter { p =>
      val text = Files.readString(p)
      text.contains(checkoutDir) || absoluteBuildDir.findFirstIn(text).nonEmpty
    }
    assert(scriptOffenders.isEmpty,
      s"resolve the checkout from the script's directory:\n${scriptOffenders.mkString("\n")}")
    val here = Paths.get("refdata").toAbsolutePath.toString
    Seq(graft.ops.TagMining.animeCsvPath, graft.sources.BinaryIngest.segmentsGlob)
      .foreach(p => assert(p.startsWith(here) && RefData.present(p), p))
  }
}

object RefDataSpec {
  /** The `info` line a whole-surface spec prints for what it left out. */
  def leftOutNote(leftOut: Map[String, Seq[String]]): String =
    "left out, reference corpus not mounted: " +
      leftOut.toSeq.sortBy(_._1)
        .map { case (n, paths) => s"$n (${paths.mkString(", ")})" }
        .mkString(", ")
}
