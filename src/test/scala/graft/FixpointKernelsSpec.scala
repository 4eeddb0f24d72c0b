package graft

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CooccurrenceGraph, GraphOps}

/** Parity pins for the one-task kernels of q33 (PageRank), q34
  * (components), q74 (component modularity) and q35/q75 (label
  * propagation): each must return exactly the rows, order and schema,
  * nullability included, of the GraphX Pregel body it replaced, on hand
  * fixtures, a self-loop, a parallel edge, two components, an empty
  * edge frame, random small graphs and the sf0.01 co-occurrence graph.
  * q33's unrounded ranks agree at 1e-9 (the sums run in another order)
  * and its 6 dp output exactly. The GraphX bodies live here as reference
  * replicas (OneTaskKernelsSpec does the same for q121, q147, q328 and
  * q329).
  */
class FixpointKernelsSpec extends AnyFunSuite with SparkTestBase {

  // ---- the removed GraphX bodies, over any (src, dst, weight) frame ----

  private def edgeGraph(edges: DataFrame): (Graph[Int, Long], DataFrame) = {
    val e = edges.toDF("src", "dst", "weight")
      .withColumn("src_id", xxhash64(col("src")))
      .withColumn("dst_id", xxhash64(col("dst")))
      .cache()
    val es = e.select("src_id", "dst_id", "weight").rdd.map(r =>
      Edge(r.getLong(0), r.getLong(1), r.getLong(2))).coalesce(2)
    (Graph.fromEdges(es, defaultValue = 0), e)
  }

  private def names(e: DataFrame): DataFrame =
    e.select(col("src").as("entity_id"), col("src_id").as("vid"))
      .union(e.select(col("dst"), col("dst_id")))
      .distinct()

  private def materializeAndRelease(out: DataFrame, e: DataFrame,
                                    graphs: Graph[_, _]*): DataFrame = {
    val done = out.localCheckpoint(true)
    graphs.foreach(_.unpersist(blocking = false))
    e.unpersist(blocking = false)
    done
  }

  private def pagerankRanksGraphx(edges: DataFrame): DataFrame = {
    val (g0, e) = edgeGraph(edges)
    val sym = Graph.fromEdges(
      g0.edges.union(g0.edges.map(ed => Edge(ed.dstId, ed.srcId, ed.attr))),
      defaultValue = 0).cache()
    val outWeight = sym.aggregateMessages[Double](
      t => t.sendToSrc(t.attr.toDouble), _ + _)
    val norm = sym.outerJoinVertices(outWeight)((_, _, w) => w.getOrElse(0.0))
      .mapTriplets(t => t.attr.toDouble / t.srcAttr)
    var ranks: Graph[Double, Double] = norm.mapVertices((_, _) => 1.0).cache()
    for (_ <- 1 to GraphOps.pageRankIters) {
      val msgs = ranks.aggregateMessages[Double](
        t => t.sendToDst(t.srcAttr * t.attr), _ + _)
      val prev = ranks
      ranks = ranks.outerJoinVertices(msgs)((_, _, m) =>
        GraphOps.resetProb + (1 - GraphOps.resetProb) * m.getOrElse(0.0)).cache()
      ranks.vertices.count()
      prev.unpersist(blocking = false)
    }
    val s = spark
    import s.implicits._
    val rankDf = ranks.vertices.toDF("vid", "rank")
    val out = names(e).join(rankDf, "vid")
      .select(col("entity_id"), col("rank"))
    materializeAndRelease(out, e, g0, sym, norm, ranks)
  }

  private def pagerankGraphx(edges: DataFrame): DataFrame =
    pagerankRanksGraphx(edges)
      .select(col("entity_id"), round(col("rank"), 6).as("pagerank"))
      .orderBy(desc("pagerank"), asc("entity_id"))

  private def componentsGraphx(edges: DataFrame): DataFrame = {
    val (g, e) = edgeGraph(edges)
    val cc = g.connectedComponents()
    val s = spark
    import s.implicits._
    val ccDf = cc.vertices.toDF("vid", "component")
    val out = names(e).join(ccDf, "vid")
      .groupBy("component")
      .agg(sort_array(collect_list("entity_id")).as("members"),
        count(lit(1)).as("n_members"))
      .select(col("members")(0).as("component_rep"), col("members"), col("n_members"))
      .orderBy(desc("n_members"), asc("component_rep"))
    materializeAndRelease(out, e, g, cc)
  }

  private def componentModularityGraphx(edges: DataFrame): DataFrame = {
    val (g, e) = edgeGraph(edges)
    val cc = g.connectedComponents()
    val s = spark
    import s.implicits._
    val memb0 = names(e).join(cc.vertices.toDF("vid", "comp0"), "vid")
    val rep = memb0.groupBy("comp0").agg(min("entity_id").as("community"))
    val memb = memb0.join(rep, "comp0").select("entity_id", "community")
    val out = GraphOps.modularity(e.select("src", "dst", "weight"), memb)
    materializeAndRelease(out, e, g, cc)
  }

  private def labelPropagationGraphx(edges: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst", "weight")
      .withColumn("src_id", xxhash64(col("src")))
      .withColumn("dst_id", xxhash64(col("dst")))
      .cache()
    val verts = names(e).rdd.map(r => (r.getLong(1), r.getString(0)))
    val sym = e.select("src_id", "dst_id", "weight").rdd.flatMap { r =>
      val (s, d, w) = (r.getLong(0), r.getLong(1), r.getLong(2))
      Seq(Edge(s, d, w), Edge(d, s, w))
    }.coalesce(2)
    var g: Graph[String, Long] = Graph(verts, sym).cache()
    val toDrop = scala.collection.mutable.ArrayBuffer[Graph[_, _]](g)
    for (_ <- 1 to GraphOps.lpaIters) {
      val msgs = g.aggregateMessages[Map[String, Long]](
        t => t.sendToDst(Map(t.srcAttr -> t.attr)),
        (a, b) => (a.keySet ++ b.keySet).iterator
          .map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap)
      g = g.outerJoinVertices(msgs)((_, old, m) =>
        m.filter(_.nonEmpty)
          .map(_.minBy { case (lbl, w) => (-w, lbl) }._1)
          .getOrElse(old)).cache()
      toDrop += g
    }
    val s2 = spark
    import s2.implicits._
    val labelDf = g.vertices.toDF("vid", "label")
    val out = names(e).join(labelDf, "vid")
      .groupBy("label")
      .agg(sort_array(collect_list("entity_id")).as("members"),
        count(lit(1)).as("n_members"))
      .select(col("members")(0).as("community_rep"), col("members"),
        col("n_members"))
      .orderBy(desc("n_members"), asc("community_rep"))
    materializeAndRelease(out, e, toDrop.toSeq: _*)
  }

  // ---- parity ----

  private type Pair = (DataFrame => DataFrame, DataFrame => DataFrame)

  private val exact: Seq[(String, Pair)] = Seq(
    "q33" -> ((GraphOps.pagerankCore(_), pagerankGraphx(_))),
    "q34" -> ((GraphOps.connectedComponentsCore(_), componentsGraphx(_))),
    "q74" -> ((GraphOps.componentModularityCore(_), componentModularityGraphx(_))),
    "q35" -> ((GraphOps.labelPropagation(_), labelPropagationGraphx(_))))

  /** Asserts every kernel and its replica agree on `e` in schema, rows
    * and order, and q33's unrounded ranks at 1e-9; returns the kernels'
    * rows by query.
    */
  private def parity(e: DataFrame): Map[String, Seq[Row]] = {
    val ranks = GraphOps.pagerankRanks(e)
    val ranksRef = pagerankRanksGraphx(e)
    assert(ranks.schema == ranksRef.schema, "q33 ranks schema")
    val (got, ref) = (ranks.collect().sortBy(_.getString(0)), ranksRef.collect().sortBy(_.getString(0)))
    assert(got.map(_.getString(0)).toSeq == ref.map(_.getString(0)).toSeq, "q33 ranks vertices")
    got.zip(ref).foreach { case (a, b) =>
      assert(math.abs(a.getDouble(1) - b.getDouble(1)) <= 1e-9, s"q33 rank $a vs $b") }
    exact.map { case (name, (kernel, replica)) =>
      val a = kernel(e)
      val b = replica(e)
      assert(a.schema == b.schema, s"$name schema")
      val rows = a.collect().toSeq
      assert(rows == b.collect().toSeq, name)
      name -> rows
    }.toMap
  }

  private def edges(rows: (String, String, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("src", "dst", "weight")
  }

  private def members(rows: Seq[Row]): Seq[Seq[String]] = rows.map(_.getSeq[String](1))

  test("hand fixtures: two triangles with a weak bridge, a chain and a star") {
    val triangles = parity(edges(("a", "b", 10L), ("a", "c", 10L), ("b", "c", 10L),
      ("d", "e", 10L), ("d", "f", 10L), ("e", "f", 10L), ("a", "d", 1L)))
    assert(members(triangles("q35")) == Seq(Seq("a", "b", "c"), Seq("d", "e", "f")))
    assert(members(triangles("q34")) == Seq(Seq("a", "b", "c", "d", "e", "f")))
    parity(edges(("a", "b", 5L), ("b", "c", 4L), ("c", "d", 1L)))
    parity(edges(("h", "a", 3L), ("h", "b", 2L), ("h", "c", 1L), ("h", "d", 1L)))
  }

  test("a self-loop and a parallel edge") {
    val loop = parity(edges(("a", "a", 7L), ("a", "b", 2L), ("b", "c", 3L)))
    assert(loop("q33").map(_.getString(0)).toSet == Set("a", "b", "c"))
    // the same pair three times, in both directions
    parity(edges(("a", "b", 5L), ("a", "b", 2L), ("b", "a", 3L), ("b", "c", 1L)))
  }

  test("two components: q34 and q74 name each by its smallest member") {
    val out = parity(edges(("b", "c", 4L), ("c", "a", 1L), ("y", "x", 3L), ("z", "y", 2L), ("w", "z", 1L)))
    assert(out("q34").map(r => (r.getString(0), r.getLong(2))) == Seq(("w", 4L), ("a", 3L)))
    assert(out("q74").map(_.getString(0)) == Seq("a", "w"))
  }

  test("an empty edge frame gives an empty result with the same schema") {
    assert(parity(edges()).values.forall(_.isEmpty))
  }

  test("random small graphs") {
    val rnd = new scala.util.Random(33L)
    for (_ <- 1 to 4) {
      val names = Seq("a", "b", "c", "d", "e", "f", "g")
      parity(edges(Seq.fill(1 + rnd.nextInt(10))((names(rnd.nextInt(7)), names(rnd.nextInt(7)),
        1L + rnd.nextInt(4))): _*))
    }
  }

  test("the sf0.01 co-occurrence graph") {
    // the sf0.01 tables sit beside the sf0.001 fixtures
    val e = CooccurrenceGraph.edgeCounts(spark, sf.replace("sf0.001", "sf0.01"))
      .localCheckpoint(true)
    assert(parity(e).values.forall(_.nonEmpty))
  }
}
