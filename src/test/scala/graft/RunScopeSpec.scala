package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The two run-scope helpers every scoped query goes through:
  * [[Tables.withConfs]] puts the session confs back as it found them,
  * and [[Tables.detached]] deletes its scratch tree while the result it
  * returns stays readable. A sweep over the main sources names any file
  * that opens its own temp tree or unsets a conf instead.
  */
class RunScopeSpec extends AnyFunSuite with SparkTestBase {

  /** A key with no Spark conf entry, and one with a registered default. */
  private val free = "spark.graft.test.scopedKey"
  private val registered = "spark.sql.autoBroadcastJoinThreshold"

  /** The key's value as set on the session, None when unset. */
  private def setValue(k: String): Option[String] = spark.conf.getAll.get(k)

  private def scoped(kv: (String, String)*)(fail: Boolean): Unit = {
    val body = () => {
      kv.foreach { case (k, v) => assert(spark.conf.get(k) == v) }
      if (fail) throw new IllegalStateException("boom")
    }
    if (fail) intercept[IllegalStateException](Tables.withConfs(spark, kv: _*)(body()))
    else Tables.withConfs(spark, kv: _*)(body())
  }

  test("withConfs leaves an unset key unset and restores a set one, also when the body throws") {
    val before = setValue(registered)
    try {
      for (fail <- Seq(false, true)) {
        Seq(free, registered).foreach(spark.conf.unset)
        scoped(free -> "inside", registered -> "-1")(fail)
        assert(setValue(free).isEmpty, s"fail=$fail")
        // `getOption` would have answered the default here and pinned it
        assert(setValue(registered).isEmpty, s"fail=$fail")

        spark.conf.set(free, "outside")
        spark.conf.set(registered, "1234")
        scoped(free -> "inside", registered -> "-1")(fail)
        assert(setValue(free).contains("outside"), s"fail=$fail")
        assert(setValue(registered).contains("1234"), s"fail=$fail")
      }
    } finally {
      spark.conf.unset(free)
      before.fold(spark.conf.unset(registered))(spark.conf.set(registered, _))
    }
  }

  test("detached deletes its tree after success and after a throw; the result outlives it") {
    var tree: Path = null
    val rows = Tables.detached("graft_runscope_") { base =>
      tree = base
      val path = base.resolve("t").toString
      spark.range(100).toDF("id").write.parquet(path)
      spark.read.parquet(path)
    }
    assert(tree.getFileName.toString.startsWith("graft_runscope_"))
    assert(!Files.exists(tree), s"$tree survived the scope")
    assert(rows.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L))

    // the same read left to its lineage fails once the files are gone
    val lineage = withTempDir("graft_runscope_") { base =>
      val path = base.resolve("t").toString
      spark.range(100).toDF("id").write.parquet(path)
      spark.read.parquet(path)
    }
    intercept[Exception](lineage.collect())

    intercept[IllegalStateException](Tables.detached("graft_runscope_") { base =>
      tree = base
      Files.createDirectory(base.resolve("partial"))
      throw new IllegalStateException("boom")
    })
    assert(!Files.exists(tree), s"$tree survived a throwing scope")
  }

  test("only Tables, StagedInputs and LocalCheckpointFiles open temp trees or unset confs in src/main") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.size > 50, s"sweep found ${files.size} files")
    val needles = Seq("Files.createTempDirectory", "conf.unset(")
    val homes = Map(
      "Tables.scala" -> needles,
      "StagedInputs.scala" -> Seq("Files.createTempDirectory"),
      "LocalCheckpointFiles.scala" -> Seq("conf.unset("))
    val (home, rest) = files.partition(p => homes.contains(p.getFileName.toString))
    assert(home.size == homes.size, s"homes found: $home")
    home.foreach { p =>
      val text = Files.readString(p)
      homes(p.getFileName.toString).foreach(n => assert(text.contains(n), s"$p: no $n"))
    }
    val offenders = rest.flatMap { p =>
      val text = Files.readString(p)
      needles.filter(text.contains).map(n => s"$p: $n")
    }
    assert(offenders.isEmpty,
      s"use Tables.detached / Tables.withConfs instead:\n${offenders.mkString("\n")}")
  }
}
