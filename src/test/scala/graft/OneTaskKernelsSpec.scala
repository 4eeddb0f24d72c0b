package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CooccurrenceGraph, GraphOps}

/** Parity pins for the one-task kernels of q121, q147, q328 and q329:
  * each must return exactly the rows, order and schema of the
  * distributed DataFrame rounds it replaced, on hand fixtures, a hub
  * self-loop, an edge given in both directions, a hub tie that UTF-8
  * and UTF-16 order differently, an empty edge frame, `maxHops` 0 and
  * 1, random small graphs and the sf0.01 co-occurrence graph. The
  * rounds live here as independent reference replicas (BfsHopsSpec does
  * the same for q110).
  */
class OneTaskKernelsSpec extends AnyFunSuite with SparkTestBase {

  /** The replaced q121: per round one frontier ⨝ edges join, an
    * anti-join against the hub and a left join against the best
    * strengths, lineage-cut with eager localCheckpoints.
    */
  private def widestRounds(edges: DataFrame, maxHops: Int): DataFrame = {
    val e = edges.toDF("src", "dst", "weight").cache()
    val sym = e.select(col("src").as("a"), col("dst").as("b"), col("weight"))
      .union(e.select(col("dst"), col("src"), col("weight")))
      .groupBy("a", "b").agg(max("weight").as("w"))
      .cache()
    val hub = e.select(col("src").as("entity_id"), col("weight"))
      .union(e.select(col("dst"), col("weight")))
      .groupBy("entity_id").agg(sum("weight").as("degree"))
      .orderBy(desc("degree"), asc("entity_id")).limit(1)
      .select(col("entity_id").as("hub"))
      .localCheckpoint(true)
    var best = hub.join(sym, col("hub") === col("a"))
      .select(col("b").as("entity_id"), col("w").as("strength"))
      .localCheckpoint(true)
    var frontier = best
    var hop = 1
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      val cand = frontier.join(sym, frontier("entity_id") === sym("a"))
        .join(hub, col("b") === col("hub"), "left_anti")
        .select(col("b").as("entity_id"),
          least(col("strength"), col("w")).as("s"))
        .groupBy("entity_id").agg(max("s").as("s"))
      val improved = cand.join(best.withColumnRenamed("entity_id", "be")
          .withColumnRenamed("strength", "bs"),
          col("entity_id") === col("be"), "left_outer")
        .filter(col("bs").isNull || col("s") > col("bs"))
        .select(col("entity_id"), col("s").as("strength"))
        .localCheckpoint(true)
      best = best.join(improved.select(col("entity_id").as("ie")),
          col("entity_id") === col("ie"), "left_anti")
        .select("entity_id", "strength")
        .union(improved)
        .localCheckpoint(true)
      frontier = improved
    }
    sym.unpersist(blocking = false)
    e.unpersist(blocking = false)
    best.orderBy(desc("strength"), asc("entity_id"))
  }

  /** The replaced q147: q121's rounds under min-plus, each edge costing
    * maxW + 1 − w through a broadcast single-row max.
    */
  private def shortestRounds(edges: DataFrame, maxHops: Int): DataFrame = {
    val e = edges.toDF("src", "dst", "weight").cache()
    val sym0 = e.select(col("src").as("a"), col("dst").as("b"), col("weight"))
      .union(e.select(col("dst"), col("src"), col("weight")))
      .groupBy("a", "b").agg(max("weight").as("w"))
    val maxW = sym0.agg(max("w").as("mw"))
    val sym = sym0.crossJoin(broadcast(maxW))
      .select(col("a"), col("b"), (col("mw") + 1 - col("w")).as("c"))
      .cache()
    val hub = e.select(col("src").as("entity_id"), col("weight"))
      .union(e.select(col("dst"), col("weight")))
      .groupBy("entity_id").agg(sum("weight").as("degree"))
      .orderBy(desc("degree"), asc("entity_id")).limit(1)
      .select(col("entity_id").as("hub"))
      .localCheckpoint(true)
    var best = hub.join(sym, col("hub") === col("a"))
      .select(col("b").as("entity_id"), col("c").as("cost"))
      .localCheckpoint(true)
    var frontier = best
    var hop = 1
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      val cand = frontier.join(sym, frontier("entity_id") === sym("a"))
        .join(hub, col("b") === col("hub"), "left_anti")
        .select(col("b").as("entity_id"), (col("cost") + col("c")).as("s"))
        .groupBy("entity_id").agg(min("s").as("s"))
      val improved = cand.join(best.withColumnRenamed("entity_id", "be")
          .withColumnRenamed("cost", "bc"),
          col("entity_id") === col("be"), "left_outer")
        .filter(col("bc").isNull || col("s") < col("bc"))
        .select(col("entity_id"), col("s").as("cost"))
        .localCheckpoint(true)
      best = best.join(improved.select(col("entity_id").as("ie")),
          col("entity_id") === col("ie"), "left_anti")
        .select("entity_id", "cost")
        .union(improved)
        .localCheckpoint(true)
      frontier = improved
    }
    sym.unpersist(blocking = false)
    e.unpersist(blocking = false)
    best.orderBy(asc("cost"), asc("entity_id"))
  }

  /** The replaced q328: per round one edge-frame equi-join and a hash
    * agg in decimal(38,0), lineage-cut with an eager localCheckpoint.
    */
  private def pagerankRounds(edges: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst", "weight")
    val sym = e.select(col("src").as("a"), col("dst").as("b"), col("weight"))
      .unionAll(e.select(col("dst"), col("src"), col("weight")))
    val outW = sym.groupBy("a").agg(sum("weight").as("ow"))
    val symw = sym.join(outW, "a").localCheckpoint(true)
    val verts = symw.select(col("a").as("entity_id")).distinct()
      .localCheckpoint(true)
    var rank = verts.select(col("entity_id"), lit(GraphOps.prScale).as("r"))
      .localCheckpoint(true)
    for (_ <- 1 to GraphOps.pageRankIters) {
      val inflow = symw
        .join(rank, symw("a") === rank("entity_id"))
        .select(col("b"),
          expr("cast(cast(r as decimal(38,0)) * weight div ow as decimal(38,0))")
            .as("share"))
        .groupBy("b").agg(sum("share").as("inflow"))
      rank = verts
        .join(inflow, verts("entity_id") === inflow("b"), "left_outer")
        .select(col("entity_id"),
          expr(s"""cast(${GraphOps.prReset} as decimal(38,0))
                   + cast(cast(85 as decimal(38,0))
                          * coalesce(inflow, cast(0 as decimal(38,0)))
                          div 100 as decimal(38,0))""")
            .as("r"))
        .localCheckpoint(true)
    }
    rank.select(col("entity_id"), col("r").cast("bigint").as("rank_mm"))
      .orderBy(desc("rank_mm"), asc("entity_id"))
  }

  /** The replaced q329: per round one edge-frame equi-join and two hash
    * aggs, the argmax a min over (−Σweight, label) structs.
    */
  private def lpaRounds(edges: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst", "weight")
    val sym = e.select(col("src").as("a"), col("dst").as("b"), col("weight"))
      .unionAll(e.select(col("dst"), col("src"), col("weight")))
      .localCheckpoint(true)
    val verts = sym.select(col("a").as("entity_id")).distinct()
      .localCheckpoint(true)
    var lbl = verts.select(col("entity_id"), col("entity_id").as("lbl"))
      .localCheckpoint(true)
    for (_ <- 1 to GraphOps.lpaIters) {
      lbl = sym
        .join(lbl, sym("a") === lbl("entity_id"))
        .groupBy(col("b"), col("lbl"))
        .agg(sum("weight").as("ws"))
        .groupBy(col("b").as("entity_id"))
        .agg(min(struct((-col("ws")).as("nws"), col("lbl").as("l"))).as("m"))
        .select(col("entity_id"), col("m.l").as("lbl"))
        .localCheckpoint(true)
    }
    lbl.select(col("entity_id"), col("lbl").as("community"))
      .orderBy("entity_id")
  }

  private type Pair = (DataFrame => DataFrame, DataFrame => DataFrame)

  private def paths(maxHops: Int): Seq[(String, Pair)] = Seq(
    s"q121 maxHops=$maxHops" -> ((GraphOps.widestPaths(_, maxHops), widestRounds(_, maxHops))),
    s"q147 maxHops=$maxHops" -> ((GraphOps.shortestTiePaths(_, maxHops), shortestRounds(_, maxHops))))

  private val fixpoints: Seq[(String, Pair)] = Seq(
    "q328" -> ((GraphOps.pagerankExactCore(_), pagerankRounds(_))),
    "q329" -> ((GraphOps.lpaExactCore(_), lpaRounds(_))))

  private val all: Seq[(String, Pair)] = paths(GraphOps.bfsMaxHops) ++ fixpoints

  /** Asserts kernel and replica agree on `e` in schema, rows and order;
    * returns the kernel's rows.
    */
  private def parity(e: DataFrame, kernels: Seq[(String, Pair)] = all): Map[String, Seq[(String, Any)]] =
    kernels.map { case (name, (kernel, replica)) =>
      val a = kernel(e)
      val b = replica(e)
      assert(a.schema == b.schema, s"$name schema")
      val got = a.collect().toSeq
      assert(got == b.collect().toSeq, name)
      name -> got.map(r => (r.getString(0), r.get(1)))
    }.toMap

  private def edges(rows: (String, String, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("src", "dst", "weight")
  }

  test("hand fixtures: chain + disconnected pair, a strong 2-hop detour, two triangles") {
    val chain = parity(edges(("a", "b", 5L), ("b", "c", 4L), ("c", "d", 1L), ("x", "y", 3L)))
    assert(chain("q121 maxHops=8") == Seq("a" -> 5L, "c" -> 4L, "d" -> 1L))
    // hub b: the 2-hop strong chain b-h-a (min 4) beats the direct b-a (3)
    val detour = parity(edges(("h", "a", 5L), ("h", "b", 4L), ("a", "b", 3L), ("b", "c", 2L)))
    assert(detour("q121 maxHops=8") == Seq("a" -> 4L, "h" -> 4L, "c" -> 2L))
    val costs = parity(edges(("A", "B", 1L), ("A", "C", 10L), ("C", "B", 8L), ("A", "D", 10L)))
    assert(costs("q147 maxHops=8") == Seq("C" -> 1L, "D" -> 1L, "B" -> 4L))
    val triangles = parity(edges(("a", "b", 10L), ("a", "c", 10L), ("b", "c", 10L),
      ("d", "e", 10L), ("d", "f", 10L), ("e", "f", 10L), ("a", "d", 1L)))
    assert(triangles("q329") == Seq("a", "b", "c").map(_ -> "a") ++ Seq("d", "e", "f").map(_ -> "d"))
  }

  test("a hub self-loop is round 1's own neighbour, never re-entered later") {
    val out = parity(edges(("h", "h", 7L), ("h", "a", 2L), ("a", "b", 3L), ("b", "h", 1L)))
    assert(out("q121 maxHops=8").toMap == Map("h" -> 7L, "a" -> 2L, "b" -> 2L))
  }

  test("an edge given in both directions: paths keep its max, q328 keeps both rows") {
    parity(edges(("a", "b", 5L), ("b", "a", 3L), ("b", "c", 2L), ("c", "a", 1L)))
  }

  test("hub and label ties break in UTF-8 byte order, not UTF-16") {
    // Ａ (U+FF21, EF BC A1) and 😀 (U+1F600, F0 9F 98 80) tie at degree
    // 5; UTF-16 puts the surrogate pair D83D first, UTF-8 puts Ａ first
    assert("😀".compareTo("Ａ") < 0)
    val out = parity(edges(("Ａ", "😀", 3L), ("Ａ", "x", 2L), ("😀", "y", 2L)))
    // hub Ａ: its heaviest neighbour leads
    assert(out("q121 maxHops=8").head == ("😀" -> 3L))
    // v sees labels Ａ and 😀 at weight 3 each in round 1
    parity(edges(("v", "Ａ", 3L), ("v", "😀", 3L)), fixpoints)
  }

  test("an empty edge frame gives an empty result with the same schema") {
    assert(parity(edges()).values.forall(_.isEmpty))
  }

  test("maxHops 0 and 1 stop after round 1") {
    val e = edges(("h", "a", 5L), ("h", "b", 4L), ("a", "b", 3L), ("b", "c", 2L))
    val one = parity(e, paths(1))
    assert(parity(e, paths(0)).map { case (k, v) => k.replace("=0", "=1") -> v } == one)
    assert(one("q121 maxHops=1") == Seq("a" -> 3L, "h" -> 4L, "c" -> 2L).sortBy(t => (-t._2, t._1)))
  }

  test("random small graphs") {
    val rnd = new scala.util.Random(121L)
    for (_ <- 1 to 4) {
      val names = Seq("a", "b", "c", "d", "e", "f", "g")
      val es = Seq.fill(1 + rnd.nextInt(8))((names(rnd.nextInt(7)), names(rnd.nextInt(7)),
        1L + rnd.nextInt(4)))
      parity(edges(es: _*), paths(rnd.nextInt(4)) ++ fixpoints)
    }
  }

  test("the sf0.01 co-occurrence graph") {
    // the sf0.01 tables sit beside the sf0.001 fixtures
    val e = CooccurrenceGraph.edgeCounts(spark, sf.replace("sf0.001", "sf0.01"))
      .localCheckpoint(true)
    assert(parity(e).values.forall(_.nonEmpty))
  }
}
