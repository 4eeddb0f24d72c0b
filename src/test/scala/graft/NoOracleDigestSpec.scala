package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Drift pins for the queries that have no DuckDB oracle: each one's
  * sf0.01 output must still hash to the digest committed in
  * `graft/no_oracle_digests_sf0.01.tsv`. The digest normalises as
  * `tools/compare_verify.py` does (columns by name, rows sorted), so
  * partition layout and column order do not count, while every value,
  * column type and nullability does.
  */
class NoOracleDigestSpec extends AnyFunSuite with SparkTestBase {

  test("every no-oracle query's sf0.01 output matches its committed digest") {
    val committed = NoOracleDigests.committed
    val absent = RefData.absent(RefData.queryReads).filter(q => NoOracleDigests.names.contains(q._1))
    if (absent.nonEmpty) info(RefDataSpec.leftOutNote(absent))
    NoOracleDigests.unstable.toSeq.sorted.foreach { case (q, why) => info(s"left out, $q: $why") }
    val stale = committed.keySet -- NoOracleDigests.names
    assert(stale.isEmpty, s"digests committed for queries that have an oracle or are gone: $stale")
    val checked = NoOracleDigests.names.filterNot(q =>
      absent.contains(q) || NoOracleDigests.unstable.contains(q))
    val (pinned, unpinned) = checked.partition(committed.contains)
    val corpusOnly = unpinned.filter(RefData.queryReads.contains)
    if (corpusOnly.nonEmpty) info(s"no committed digest (generated without the corpus): ${corpusOnly.mkString(", ")}")
    val missing = unpinned.filterNot(RefData.queryReads.contains)
    assert(missing.isEmpty, s"no committed digest for: ${missing.mkString(", ")}")
    assert(pinned.size > 10, s"only ${pinned.size} digests checked")
    val dir = sf.replace("sf0.001", "sf0.01")
    val drift = pinned.flatMap { q =>
      val got = try NoOracleDigests.of(spark, dir, q).toString
        catch { case e: Exception => s"failed: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      if (got == committed(q).toString) None else Some(s"$q: committed ${committed(q)}, now $got")
    }
    assert(drift.isEmpty, s"${drift.size} no-oracle outputs drifted:\n${drift.mkString("\n")}")
  }
}

/** The digests and the main that writes them:
  * `Test/runMain graft.NoOracleDigests <sfDir> <outFile>`, with the
  * suite's own session shape (4 cores, 4 shuffle partitions).
  */
object NoOracleDigests {

  final case class Digest(rows: Long, sha256: String) {
    override def toString: String = s"$rows rows, sha256 $sha256"
  }

  val resource = "graft/no_oracle_digests_sf0.01.tsv"

  /** Outputs that hash differently on two runs of one commit, with why. */
  val unstable: Map[String, String] = Map.empty

  def names: Seq[String] =
    (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).toSeq.sorted

  def committed: Map[String, Digest] = {
    val in = getClass.getClassLoader.getResourceAsStream(resource)
    require(in != null, s"missing resource $resource")
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    text.linesIterator.filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(q, rows, sha) = l.split('\t')
      q -> Digest(rows.toLong, sha)
    }.toMap
  }

  /** SHA-256 over the column types (by name) and the sorted JSON rows. */
  def digest(df: DataFrame): Digest = {
    val byName = df.select(df.columns.sorted.map(c => col(s"`$c`")): _*)
    val md = MessageDigest.getInstance("SHA-256")
    md.update(byName.schema.fields
      .map(f => s"${f.name}:${f.dataType.json}:${f.nullable}").mkString(",").getBytes(UTF_8))
    val rows = byName.collect().map(_.json).sorted
    rows.foreach(r => md.update(("\n" + r).getBytes(UTF_8)))
    Digest(rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  def of(spark: SparkSession, dir: String, q: String): Digest =
    try digest(SparkEntry.queries(q)(spark, dir))
    finally spark.catalog.clearCache()

  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args
    val spark = GraftSession.build(4)
    val lines = names.flatMap { q =>
      try { val d = of(spark, dir, q); Some(s"$q\t${d.rows}\t${d.sha256}") }
      catch { case e: Exception => println(s"[digest] $q left out: ${e.getMessage}"); None }
    }
    Files.write(Paths.get(out), (Seq(
      "# no-oracle query outputs at sf0.01: name, rows, SHA-256 (NoOracleDigests.digest)") ++ lines).asJava)
    spark.stop()
  }
}
