package graft

import org.scalatest.funsuite.AnyFunSuite

/** Byte-stable golden for the flagship nested output (the rebuild's
  * analog of the reference's committed hot/all_episodes_energy.json):
  * the energy timeline at sf0.001, JSON-serialized, must match the
  * committed fixture exactly. Catches silent semantic drift — formula
  * edits, ordering regressions, fp-association changes — that
  * invariant-style specs can miss.
  */
class GoldenSpec extends AnyFunSuite with SparkTestBase {

  test("energy timeline at sf0.001 matches the committed golden JSON") {
    withTempDir("graft_golden_") { tmp =>
      val out = tmp.toString + "/t"
      ops.EnergyPipeline.timeline(spark, sf)
        .coalesce(1).write.mode("overwrite").json(out)
      val produced = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".json")).toSeq
        .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq)
      val expected = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/golden_energy_timeline_sf0.001.jsonl"), "UTF-8")
        .getLines().toSeq
      assert(produced.size == expected.size)
      // rows are one JSON object per user, already user-ordered by the
      // query's orderBy; compare line-by-line for a precise first-diff
      produced.zip(expected).zipWithIndex.foreach { case ((p, e), i) =>
        assert(p == e, s"golden mismatch at row $i")
      }
    }
  }
}
