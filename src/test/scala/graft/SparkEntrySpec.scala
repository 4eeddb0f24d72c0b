package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract integrity: every oracle key names a registered query,
  * names are unique across modules (a Map ++ silently drops collisions),
  * and the flagship entry returns rows.
  */
class SparkEntrySpec extends AnyFunSuite with SparkTestBase {

  test("every oracleSql key has a matching queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without a query: $orphans")
  }

  test("query names are globally unique across modules (no ++ shadowing)") {
    val names = SparkEntry.modules.flatMap(_._1.keys)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: $dups")
    assert(SparkEntry.queries.size == names.size)
  }

  test("flagship entry returns rows on the smoke scale factor") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query executes at sf0.001") {
    val leftOut = RefData.absent(RefData.queryReads)
    if (leftOut.nonEmpty) info(RefDataSpec.leftOutNote(leftOut))
    val failures = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => leftOut.contains(q._1))
      .flatMap { case (name, fn) =>
        try { fn(spark, sf).count(); None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(100)}") }
      }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
