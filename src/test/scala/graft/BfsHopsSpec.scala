package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CooccurrenceGraph, GraphOps}

/** Parity pin for q110's one-task BFS: `GraphOps.bfsHops` (hub
  * selection and every round inside one executor task) must return
  * exactly the rows, order and schema of the distributed DataFrame
  * rounds it replaced, on the hand fixtures, the sf0.01 co-occurrence
  * graph, an empty edge frame, a hub tie that UTF-8 and UTF-16 order
  * differently, and random small graphs. The rounds live here as an
  * independent reference replica.
  */
class BfsHopsSpec extends AnyFunSuite with SparkTestBase {

  /** The replaced q110 implementation: per round one frontier ⨝ edges
    * join plus an anti-join against the visited set, lineage-cut with
    * an eager localCheckpoint, early exit on an empty frontier; hub =
    * max Σweight, ties to the smallest name under Spark's `asc`.
    */
  private def rounds(edges: DataFrame, maxHops: Int): DataFrame = {
    val e = edges.toDF("src", "dst", "weight").cache()
    val sym = e.select(col("src").as("a"), col("dst").as("b"))
      .union(e.select(col("dst"), col("src")))
      .distinct().cache()
    val hub = e.select(col("src").as("entity_id"), col("weight"))
      .union(e.select(col("dst"), col("weight")))
      .groupBy("entity_id").agg(sum("weight").as("degree"))
      .orderBy(desc("degree"), asc("entity_id")).limit(1)
      .select("entity_id")
    var visited = hub.withColumn("hop", lit(0L)).localCheckpoint(true)
    var frontier = visited.select("entity_id")
    var hop = 0L
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      val next = frontier.join(sym, frontier("entity_id") === sym("a"))
        .select(col("b").as("entity_id")).distinct()
        .join(visited, Seq("entity_id"), "left_anti")
        .localCheckpoint(true)
      visited = visited.union(next.withColumn("hop", lit(hop)))
        .localCheckpoint(true)
      frontier = next
    }
    sym.unpersist(blocking = false)
    e.unpersist(blocking = false)
    visited.orderBy("hop", "entity_id")
  }

  private def parity(e: DataFrame, maxHops: Int = GraphOps.bfsMaxHops): Seq[(String, Long)] = {
    val a = GraphOps.bfsHops(e, maxHops)
    val b = rounds(e, maxHops)
    assert(a.schema == b.schema)
    val got = a.collect().toSeq
    assert(got == b.collect().toSeq, s"maxHops=$maxHops")
    got.map(r => (r.getString(0), r.getLong(1)))
  }

  private def edges(rows: (String, String, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("src", "dst", "weight")
  }

  test("hand fixtures: chain + disconnected pair, degree tie, maxHops cut") {
    assert(parity(edges(("a", "b", 5L), ("b", "c", 4L), ("c", "d", 1L), ("x", "y", 3L)))
      == Seq("b" -> 0L, "a" -> 1L, "c" -> 1L, "d" -> 2L))
    val tie = edges(("e", "f", 9L), ("f", "g", 1L), ("e", "h", 1L))
    assert(parity(tie) == Seq("e" -> 0L, "f" -> 1L, "h" -> 1L, "g" -> 2L))
    assert(parity(tie, maxHops = 1) == Seq("e" -> 0L, "f" -> 1L, "h" -> 1L))
    assert(parity(tie, maxHops = 0) == Seq("e" -> 0L))
    // parallel and self edges: distinct neighbours, the hub's own loop
    parity(edges(("h", "a", 5L), ("h", "b", 4L), ("a", "b", 3L), ("b", "c", 2L),
      ("a", "h", 1L), ("c", "c", 7L)))
  }

  test("hub tie breaks in UTF-8 byte order, not UTF-16") {
    // Ａ (U+FF21, EF BC A1) and 😀 (U+1F600, F0 9F 98 80) tie at degree
    // 5; UTF-16 puts the surrogate pair D83D first, UTF-8 puts Ａ first
    assert("😀".compareTo("Ａ") < 0)
    val out = parity(edges(("Ａ", "😀", 3L), ("Ａ", "x", 2L), ("😀", "y", 2L)))
    assert(out == Seq("Ａ" -> 0L, "x" -> 1L, "😀" -> 1L, "y" -> 2L))
  }

  test("an empty edge frame gives an empty result with the same schema") {
    assert(parity(edges()).isEmpty)
  }

  test("random small graphs") {
    val rnd = new scala.util.Random(110L)
    for (_ <- 1 to 4) {
      val names = Seq("a", "b", "c", "d", "e", "f", "g")
      val es = Seq.fill(1 + rnd.nextInt(8))((names(rnd.nextInt(7)), names(rnd.nextInt(7)),
        1L + rnd.nextInt(4)))
      parity(edges(es: _*), maxHops = rnd.nextInt(4))
    }
  }

  test("the sf0.01 co-occurrence graph") {
    // the sf0.01 tables sit beside the sf0.001 fixtures
    val e = CooccurrenceGraph.edgeCounts(spark, sf.replace("sf0.001", "sf0.01"))
    assert(parity(e).nonEmpty)
  }
}
