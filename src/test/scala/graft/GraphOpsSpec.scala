package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{CooccurrenceGraph, GraphOps, Skew}

/** Graph-analytics + skew-pattern pins: PageRank mass conservation,
  * component structure, and salted-aggregation equivalence.
  */
class GraphOpsSpec extends AnyFunSuite with SparkTestBase {

  test("pagerank: one score per entity, Σ ranks ≈ |V|, all positive") {
    val pr = GraphOps.pagerank(spark, sf).collect()
    val nodes = CooccurrenceGraph.nodes(spark, sf).count()
    assert(pr.length == nodes)
    assert(pr.forall(_.getDouble(1) > 0.0))
    val total = pr.map(_.getDouble(1)).sum
    assert(math.abs(total - nodes) / nodes < 0.05, s"Σ rank $total vs |V| $nodes")
  }

  test("pagerank equals an independent plain-Scala power iteration " +
      "on the corpus graph (per-vertex, 1e-9)") {
    // replica built from the same aggregated edge counts, entirely
    // outside GraphX: symmetrize, weight-normalize per source, then
    // the same fixed-iteration update rank = reset + (1-reset)·Σ in.
    val edges = CooccurrenceGraph.edgeCounts(spark, sf)
      .select("src", "dst", "weight").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val sym = edges.flatMap { case (s, d, w) => Seq((s, d, w), (d, s, w)) }
    val outW = sym.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._3.toDouble).sum }
    val inAdj = sym.groupBy(_._2) // dst -> incoming (src, w)
    val verts = sym.map(_._1).distinct
    var rank = verts.map(_ -> 1.0).toMap
    for (_ <- 1 to GraphOps.pageRankIters) {
      rank = verts.map { v =>
        val in = inAdj.getOrElse(v, Array.empty[(String, String, Long)])
          .map { case (s, _, w) => rank(s) * (w.toDouble / outW(s)) }.sum
        v -> (GraphOps.resetProb + (1 - GraphOps.resetProb) * in)
      }.toMap
    }
    val got = GraphOps.pagerankRanks(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == rank.keySet)
    got.foreach { case (v, g) =>
      assert(math.abs(g - rank(v)) <= 1e-9,
        s"$v: engine $g vs replica ${rank(v)}")
    }
  }

  test("q281 HITS equals an independent plain-Scala mutual-reinforcement " +
      "replica on a hand bipartite graph (1e-6), norms are 1") {
    import spark.implicits._
    // customers 1..3 all buy part 10; customer 1 also buys 11 and 12;
    // customer 4 buys only 12 — asymmetric enough that hub/auth differ
    val edges = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (1L, 11L), (1L, 12L), (4L, 12L)).toDF("src", "dst")
    // replica: a = normalize(Eᵀh), h = normalize(Ea), 8 rounds
    val es = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (1L, 11L), (1L, 12L), (4L, 12L))
    var h = es.map(_._1).distinct.map(_ -> 1.0).toMap
    var a = Map.empty[Long, Double]
    def l2[K](m: Map[K, Double]): Map[K, Double] = {
      val n = math.sqrt(m.values.map(x => x * x).sum)
      m.view.mapValues(_ / n).toMap
    }
    for (_ <- 1 to GraphOps.hitsIters) {
      a = l2(es.groupBy(_._2).view.mapValues(_.map(e => h(e._1)).sum).toMap)
      h = l2(es.groupBy(_._1).view.mapValues(_.map(e => a(e._2)).sum).toMap)
    }
    val out = GraphOps.hitsCore(edges).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val gotA = out.filter(_._1 == "authority").map(t => t._2 -> t._3).toMap
    val gotH = out.filter(_._1 == "hub").map(t => t._2 -> t._3).toMap
    assert(gotA.keySet === a.keySet && gotH.keySet === h.keySet)
    a.foreach { case (k, v) => assert(math.abs(gotA(k) - v) <= 1e-6,
      s"auth $k: ${gotA(k)} vs replica $v") }
    h.foreach { case (k, v) => assert(math.abs(gotH(k) - v) <= 1e-6,
      s"hub $k: ${gotH(k)} vs replica $v") }
    // unit L2 norms (scores are rounded to 6dp in the emission)
    assert(math.abs(gotA.values.map(x => x * x).sum - 1.0) <= 1e-4)
    assert(math.abs(gotH.values.map(x => x * x).sum - 1.0) <= 1e-4)
    // the mutually-reinforcing asymmetry: part 10 (three buyers, one a
    // super-hub) outranks 12 (two buyers), and customer 1 is top hub
    assert(gotA(10L) > gotA(12L) && gotA(12L) > gotA(11L))
    assert(gotH(1L) > gotH(2L))
  }

  test("q328 exact-integer pagerank equals an independent plain-Scala " +
      "BigInt replica on the corpus graph (bit-exact), and mass is " +
      "conserved up to truncation dust") {
    val edges = CooccurrenceGraph.edgeCounts(spark, sf)
      .select("src", "dst", "weight").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val sym = edges.flatMap { case (s, d, w) => Seq((s, d, w), (d, s, w)) }
    val outW = sym.groupBy(_._1).map { case (s, es) =>
      s -> BigInt(es.map(_._3).sum) }
    val inAdj = sym.groupBy(_._2)
    val verts = sym.map(_._1).distinct.sorted
    val scale = BigInt(GraphOps.prScale)
    val reset = BigInt(GraphOps.prReset)
    var rank = verts.map(_ -> scale).toMap
    for (_ <- 1 to GraphOps.pageRankIters) {
      val cur = rank
      rank = verts.map { v =>
        val inflow = inAdj.getOrElse(v, Array.empty[(String, String, Long)])
          .map { case (s, _, w) => (cur(s) * w) / outW(s) }.sum
        v -> (reset + (BigInt(85) * inflow) / 100)
      }.toMap
    }
    val got = GraphOps.pagerankExact(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.map(_._1).toSet == rank.keySet)
    got.foreach { case (v, g) =>
      assert(BigInt(g) == rank(v), s"$v: engine $g vs replica ${rank(v)}") }
    // truncating divisions only ever LOSE mass: n·reset ≤ Σ R ≤ n·scale
    val total = got.map(r => BigInt(r._2)).sum
    val n = verts.length
    assert(total <= scale * n && total >= reset * n,
      s"mass $total outside [${reset * n}, ${scale * n}]")
    // the presentation order is (rank desc, entity asc)
    assert(got.sortBy { case (v, r) => (-r, v) }.toSeq == got.toSeq)
  }

  test("q329 exact LPA equals an independent plain-Scala synchronous " +
      "replica on the corpus graph (bit-exact per vertex)") {
    val edges = CooccurrenceGraph.edgeCounts(spark, sf)
      .select("src", "dst", "weight").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val sym = edges.flatMap { case (s, d, w) => Seq((s, d, w), (d, s, w)) }
    val verts = sym.map(_._1).distinct.sorted
    val inAdj = sym.groupBy(_._2)
    var label = verts.map(v => v -> v).toMap
    for (_ <- 1 to GraphOps.lpaIters) {
      val cur = label
      label = verts.map { v =>
        val msgs = inAdj(v) // symmetrized graph: every vertex has edges
          .groupBy { case (s, _, _) => cur(s) }
          .map { case (lbl, es) => lbl -> es.map(_._3).sum }
        v -> msgs.minBy { case (lbl, w) => (-w, lbl) }._1
      }.toMap
    }
    val got = GraphOps.lpaExact(spark, sf).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == label, s"engine $got vs replica $label")
    // same label dynamics as q35's member-list twin: the induced partitions
    // agree (q35 emits member lists; q329 the assignment grain)
    val q35Parts = GraphOps.labelPropagation(
        CooccurrenceGraph.edgeCounts(spark, sf)).collect()
      .map(_.getSeq[String](1).toList.sorted).toSet
    val q329Parts = got.groupBy(_._2).values
      .map(_.keys.toList.sorted).toSet
    assert(q329Parts == q35Parts)
  }

  test("q337 LPA modularity equals an independent plain-Scala " +
      "decomposition over the replica's labels (every column bit-exact, " +
      "contributions sum to the partition's Q)") {
    val edges = CooccurrenceGraph.edgeCounts(spark, sf)
      .select("src", "dst", "weight").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val sym = edges.flatMap { case (s, d, w) => Seq((s, d, w), (d, s, w)) }
    val verts = sym.map(_._1).distinct.sorted
    val inAdj = sym.groupBy(_._2)
    var label = verts.map(v => v -> v).toMap
    for (_ <- 1 to GraphOps.lpaIters) {
      val cur = label
      label = verts.map { v =>
        val msgs = inAdj(v)
          .groupBy { case (s, _, _) => cur(s) }
          .map { case (lbl, es) => lbl -> es.map(_._3).sum }
        v -> msgs.minBy { case (lbl, w) => (-w, lbl) }._1
      }.toMap
    }
    val deg = sym.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val m2 = BigInt(deg.values.sum)
    val expected = label.groupBy(_._2).map { case (c, members) =>
      val tC = BigInt(members.keys.map(deg).sum)
      val iC = BigInt(2L * edges
        .filter { case (s, d, _) => label(s) == c && label(d) == c }
        .map(_._3).sum)
      val qNum = (m2 * iC - tC * tC).toDouble
      val qContrib = BigDecimal(qNum / (m2 * m2).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      c -> (members.size.toLong, tC.toLong, iC.toLong, qNum, qContrib)
    }
    val got = GraphOps.lpaModularity(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(5), r.getDouble(6), r.getLong(4))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (c, (n, t, i, qn, qc, gm2)) =>
      assert(gm2 == m2.toLong)
      val (en, et, ei, eqn, eqc) = expected(c)
      assert((n, t, i, qn, qc) == (en, et, ei, eqn, eqc),
        s"$c: engine ${(n, t, i, qn, qc)} vs replica ${(en, et, ei, eqn, eqc)}")
    }
    // the decomposition is non-vacuous and internally consistent:
    // Σ q_contrib ≈ Q of the partition, inside (-1, 1]
    val q = got.values.map(_._5).sum
    assert(q > -1.0 && q <= 1.0)
    assert(got.values.exists(_._3 > 0L), "no community has internal edges")
  }

  test("q335 exact-integer HITS equals a plain-Scala integer power " +
      "iteration on the hand bipartite graph (bit-exact), and the " +
      "ranking matches the float q281 read on the same fixture") {
    import spark.implicits._
    val es = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (1L, 11L), (1L, 12L), (4L, 12L))
    val edges = es.toDF("src", "dst")
    // replica: integer sums, rescale by (s·10⁶) / max after each
    // half-step — floor division, exactly the engine's arithmetic
    val scale = GraphOps.hitsScale
    var h = es.map(_._1).distinct.map(_ -> scale).toMap
    var a = Map.empty[Long, Long]
    def rescale(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.max
      m.view.mapValues(v => v * scale / mx).toMap
    }
    for (_ <- 1 to GraphOps.hitsIters) {
      a = rescale(es.groupBy(_._2).view
        .mapValues(_.map(e => h(e._1)).sum).toMap)
      h = rescale(es.groupBy(_._1).view
        .mapValues(_.map(e => a(e._2)).sum).toMap)
    }
    val got = GraphOps.hitsExactCore(edges).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val gotA = got.filter(_._1 == "authority").map(t => t._2 -> t._3)
    val gotH = got.filter(_._1 == "hub").map(t => t._2 -> t._3)
    assert(gotA.toMap == a && gotH.toMap == h,
      s"engine $got vs replica a=$a h=$h")
    // emission order is (score desc, id) within role
    assert(gotA.sortBy { case (n, s) => (-s, n) } == gotA.toSeq)
    // the quantized iteration preserves the float recursion's ranking
    // on this fixture (q281's spec asserts the float order)
    assert(gotA.map(_._1).take(3) == Seq(10L, 12L, 11L))
    assert(gotH.head._1 == 1L)
  }

  test("pagerank is deterministic across runs (fixed iterations)") {
    val a = GraphOps.pagerank(spark, sf).collect().toSeq
    val b = GraphOps.pagerank(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("connected components: every entity appears in exactly one component") {
    val cc = GraphOps.connectedComponents(spark, sf).collect()
    val members = cc.flatMap(_.getSeq[String](1))
    assert(members.length == members.distinct.length)
    assert(members.length == CooccurrenceGraph.nodes(spark, sf).count())
  }

  test("bfs hops: hub selection, layered distances, unreachable omitted") {
    val s = spark
    import s.implicits._
    // chain a-b-c-d (hub = b, weighted degree 9) plus a disconnected
    // pair {x,y}: hops b:0, a:1, c:1, d:2; x,y unreachable → omitted
    val edges = Seq(
      ("a", "b", 5L), ("b", "c", 4L), ("c", "d", 1L),
      ("x", "y", 3L)).toDF("src", "dst", "weight")
    val out = GraphOps.bfsHops(edges)
      .as[(String, Long)].collect().toMap
    assert(out == Map("b" -> 0L, "a" -> 1L, "c" -> 1L, "d" -> 2L))
  }

  test("bfs hops: degree tie breaks to the smallest name, maxHops truncates") {
    val s = spark
    import s.implicits._
    // e and f tie at weighted degree 10 — hub is the lexicographically
    // smaller 'e'; hops beyond maxHops=1 are cut
    val edges = Seq(
      ("e", "f", 9L), ("f", "g", 1L), ("e", "h", 1L)).toDF("src", "dst", "weight")
    assert(GraphOps.bfsHops(edges).as[(String, Long)].collect().toMap ==
      Map("e" -> 0L, "f" -> 1L, "h" -> 1L, "g" -> 2L))
    assert(GraphOps.bfsHops(edges, maxHops = 1).as[(String, Long)].collect().toMap ==
      Map("e" -> 0L, "f" -> 1L, "h" -> 1L))
  }

  test("widest paths: a 2-hop chain beats a weak direct edge, hand-computed") {
    val s = spark
    import s.implicits._
    // degrees: h=9, a=8, b=9, c=2 → tie h/b breaks to hub 'b'.
    // From b: a = max(direct 3, via h min(4,5)=4) = 4
    //         h = max(direct 4, via a min(3,5)=3) = 4
    //         c = direct 2
    val edges = Seq(("h", "a", 5L), ("h", "b", 4L), ("a", "b", 3L),
      ("b", "c", 2L)).toDF("src", "dst", "weight")
    assert(GraphOps.widestPaths(edges).as[(String, Long)].collect().toMap ==
      Map("a" -> 4L, "h" -> 4L, "c" -> 2L))
    // maxHops=1: direct edges only
    assert(GraphOps.widestPaths(edges, maxHops = 1).as[(String, Long)]
      .collect().toMap == Map("a" -> 3L, "h" -> 4L, "c" -> 2L))
  }

  test("shortest tie paths: cheap 2-hop strong chain beats a weak direct edge") {
    val s = spark
    import s.implicits._
    // degrees: A=21, B=9, C=18, D=10 → hub A. maxW=10 → cost=11−w:
    //   A−B cost 10, A−C cost 1, C−B cost 3, A−D cost 1
    // From A: C=1, D=1, B=min(direct 10, via C 1+3=4)=4
    val edges = Seq(("A", "B", 1L), ("A", "C", 10L), ("C", "B", 8L),
      ("A", "D", 10L)).toDF("src", "dst", "weight")
    assert(GraphOps.shortestTiePaths(edges).as[(String, Long)]
      .collect().toMap == Map("C" -> 1L, "D" -> 1L, "B" -> 4L))
    // maxHops=1: direct costs only
    assert(GraphOps.shortestTiePaths(edges, maxHops = 1).as[(String, Long)]
      .collect().toMap == Map("C" -> 1L, "D" -> 1L, "B" -> 10L))
  }

  test("k-core: triangle+tail and 4-clique fixtures, hand-computed core numbers") {
    val s = spark
    import s.implicits._
    // triangle {a,b,c} with tail c-d-e: triangle = 2-core, tail = 1-core
    val e1 = Seq(("a", "b", 1L), ("b", "c", 1L), ("a", "c", 1L),
      ("c", "d", 1L), ("d", "e", 1L)).toDF("src", "dst", "weight")
    assert(GraphOps.kCoreNumbers(e1).as[(String, Long)].collect().toMap ==
      Map("a" -> 2L, "b" -> 2L, "c" -> 2L, "d" -> 1L, "e" -> 1L))
    // 4-clique: every vertex core 3
    val vs = Seq("w", "x", "y", "z")
    val e2 = (for {
      i <- vs.indices; j <- vs.indices if i < j
    } yield (vs(i), vs(j), 1L)).toDF("src", "dst", "weight")
    assert(GraphOps.kCoreNumbers(e2).as[(String, Long)].collect().toMap ==
      vs.map(_ -> 3L).toMap)
    // cap: maxK=2 saturates the clique at 2
    assert(GraphOps.kCoreNumbers(e2, maxK = 2).as[(String, Long)]
      .collect().toMap == vs.map(_ -> 2L).toMap)
    // star: peeling the leaves at k=2 cascades the CENTER to degree 0 —
    // it must still be assigned core 1, not silently vanish (the
    // absent-from-g case the explicit vertex set exists for)
    val star = Seq(("c", "l1", 1L), ("c", "l2", 1L), ("c", "l3", 1L))
      .toDF("src", "dst", "weight")
    assert(GraphOps.kCoreNumbers(star).as[(String, Long)].collect().toMap ==
      Map("c" -> 1L, "l1" -> 1L, "l2" -> 1L, "l3" -> 1L))
  }

  test("q338 fixed-round exact k-core equals q118's run-to-settlement " +
      "peel on the real corpus graph (the cascade cap settles it) and " +
      "on the hand fixtures, including the star cascade case") {
    val s = spark
    import s.implicits._
    val edges = CooccurrenceGraph.edgeCounts(spark, sf)
    val settled = GraphOps.kCoreNumbers(edges).as[(String, Long)]
      .collect().toMap
    val fixedRound = GraphOps.kCoreExactCore(edges).as[(String, Long)]
      .collect().toMap
    assert(fixedRound == settled,
      "kCoreCascadeRounds does not settle the corpus graph")
    assert(fixedRound.nonEmpty && fixedRound.values.exists(_ >= 2L),
      "corpus graph has no 2-core — the fixture is vacuous")
    // hand fixtures: same expected maps as the q118 test
    val e1 = Seq(("a", "b", 1L), ("b", "c", 1L), ("a", "c", 1L),
      ("c", "d", 1L), ("d", "e", 1L)).toDF("src", "dst", "weight")
    assert(GraphOps.kCoreExactCore(e1).as[(String, Long)].collect().toMap ==
      Map("a" -> 2L, "b" -> 2L, "c" -> 2L, "d" -> 1L, "e" -> 1L))
    val star = Seq(("c", "l1", 1L), ("c", "l2", 1L), ("c", "l3", 1L))
      .toDF("src", "dst", "weight")
    assert(GraphOps.kCoreExactCore(star).as[(String, Long)].collect().toMap ==
      Map("c" -> 1L, "l1" -> 1L, "l2" -> 1L, "l3" -> 1L))
    // presentation order is (core desc, entity asc)
    val rows = GraphOps.kCoreExactCore(edges)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows.sortBy { case (v, c) => (-c, v) } == rows)
  }

  test("k-core defining property holds on the real graph: induced degree ≥ core") {
    val s = spark
    import s.implicits._
    val edges = CooccurrenceGraph.edgeCounts(spark, sf)
    val core = GraphOps.kCoreNumbers(edges).as[(String, Long)].collect().toMap
    val sym = edges.select(col("src").as("a"), col("dst").as("b"))
      .union(edges.select(col("dst"), col("src")))
      .as[(String, String)].collect().distinct
    // every vertex of the k-core subgraph (vertices with core ≥ k) must
    // keep degree ≥ k inside it, for each realized k
    core.values.toSet.foreach { (k: Long) =>
      val members = core.filter(_._2 >= k).keySet
      val degIn = sym.filter(p => members(p._1) && members(p._2))
        .groupBy(_._1).map { case (v, es) => v -> es.length.toLong }
      members.foreach { v =>
        assert(degIn.getOrElse(v, 0L) >= k,
          s"vertex $v in $k-core has induced degree ${degIn.getOrElse(v, 0L)}")
      }
    }
  }

  test("k-core equals an independent plain-Scala peel replica on the " +
      "corpus graph (r13 verdict task 6)") {
    // replica entirely outside the DataFrame engine: symmetrized
    // distinct-neighbor adjacency, then the classic peel — for
    // k = 1, 2, … repeatedly remove vertices whose degree INSIDE the
    // surviving subgraph is < k (core = k−1 for the removed), with
    // survivors past maxK reporting core = maxK (the engine's
    // saturation cap). Value-pins the engine's anti-join cascade
    // (including the absent-from-g ⇒ degree-0 rule) against the
    // textbook definition it claims to implement.
    val edgesDf = CooccurrenceGraph.edgeCounts(spark, sf)
    val el = edgesDf.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val nbrs = el.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    var alive = nbrs.keySet
    val core = scala.collection.mutable.Map.empty[String, Long]
    val maxK = GraphOps.kCoreMaxK
    var k = 1L
    while (k <= maxK && alive.nonEmpty) {
      var peeling = true
      while (peeling && alive.nonEmpty) {
        val low = alive.filter(v => nbrs(v).count(alive) < k)
        if (low.isEmpty) peeling = false
        else { low.foreach(v => core(v) = k - 1); alive = alive -- low }
      }
      k += 1
    }
    alive.foreach(v => core(v) = maxK.toLong)
    val got = GraphOps.kCoreNumbers(edgesDf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == core.toMap, s"engine $got vs replica $core")
  }

  test("label propagation: hand-computed fixture — two triangles, weak bridge") {
    val s = spark
    import s.implicits._
    // triangles {a,b,c} and {d,e,f}, internal weight 10, bridge a-d
    // weight 1. Sync weighted LPA with min-label tie-break converges to
    // exactly the two triangles (replayable by hand: round 1 ties break
    // to the alphabetical smallest neighbor label, round 2 the doubled
    // in-triangle mass wins over the weight-1 bridge, round 3 stable).
    val edges = Seq(
      ("a", "b", 10L), ("a", "c", 10L), ("b", "c", 10L),
      ("d", "e", 10L), ("d", "f", 10L), ("e", "f", 10L),
      ("a", "d", 1L)).toDF("src", "dst", "weight")
    val out = GraphOps.labelPropagation(edges).collect()
    val comms = out.map(r => (r.getString(0), r.getSeq[String](1).toList)).toMap
    assert(comms == Map(
      "a" -> List("a", "b", "c"),
      "d" -> List("d", "e", "f")), s"got ${comms}")
  }

  test("label propagation is deterministic and partitions the vertex set") {
    val s = spark
    import s.implicits._
    val edges = CooccurrenceGraph.edgeCounts(spark, sf)
    val a = GraphOps.labelPropagation(edges).collect().toSeq
    val b = GraphOps.labelPropagation(edges).collect().toSeq
    assert(a == b)
    val members = a.flatMap(_.getSeq[String](1))
    assert(members.length == members.distinct.length)
    assert(members.length == CooccurrenceGraph.nodes(spark, sf).count())
  }

  test("label propagation equals an independent plain-Scala synchronous " +
      "replica on the corpus graph (r12 verdict task 7)") {
    // replica entirely outside GraphX: symmetrize, then lpaIters
    // synchronous rounds of adopt-the-heaviest-incident-label with the
    // same (max weight, then lexicographically smallest label)
    // tie-break; vertices with no neighbors keep their label
    val edgesDf = CooccurrenceGraph.edgeCounts(spark, sf)
    val el = edgesDf.select("src", "dst", "weight").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val sym = el.flatMap { case (s, d, w) => Seq((s, d, w), (d, s, w)) }
    val verts = sym.map(_._1).distinct.sorted
    val inAdj = sym.groupBy(_._2)
    var label = verts.map(v => v -> v).toMap
    for (_ <- 1 to GraphOps.lpaIters) {
      val cur = label
      label = verts.map { v =>
        val msgs = inAdj.getOrElse(v, Array.empty[(String, String, Long)])
          .groupBy { case (s, _, _) => cur(s) }
          .map { case (lbl, es) => lbl -> es.map(_._3).sum }
        v -> (if (msgs.isEmpty) cur(v)
              else msgs.minBy { case (lbl, w) => (-w, lbl) }._1)
      }.toMap
    }
    val replica = label.groupBy(_._2).values
      .map(_.keys.toList.sorted).toSet
    val got = GraphOps.labelPropagation(edgesDf).collect()
      .map(_.getSeq[String](1).toList).toSet
    assert(got == replica, s"engine $got vs replica $replica")
  }

  test("louvain pass 1 equals a brute-force global-recompute climb on " +
      "the corpus graph (r12 verdict task 7)") {
    // Independent replica of the pass-1 sweep: instead of the engine's
    // incremental BigInt ΔQ identity, every candidate move is scored by
    // RECOMPUTING the exact modularity numerator from scratch
    // (modularityNum — itself oracle-proven via q74), with the same
    // sweep order (lexicographic), strictly-positive-gain rule, and
    // smallest-representative tie-break. Agreement pins the ΔQ
    // identity against the definition it claims to implement.
    val edgesDf = CooccurrenceGraph.edgeCounts(spark, sf)
    val el = edgesDf.select("src", "dst", "weight").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val sym = el.filter(e => e._1 != e._2)
      .flatMap { case (s, d, w) => Seq((s, d, w), (d, s, w)) }
    val nbrs = sym.groupBy(_._1).map { case (v, es) => v -> es.map(_._2).distinct }
    val verts = sym.map(_._1).distinct.sorted
    var memb = verts.map(v => v -> v).toMap
    var moved = true
    var sweeps = 0
    while (moved && sweeps < GraphOps.louvainMaxSweeps) {
      moved = false
      sweeps += 1
      for (u <- verts) {
        val base = GraphOps.modularityNum(el, memb)
        val cands = nbrs.getOrElse(u, Seq.empty).map(memb).distinct
          .filter(_ != memb(u))
        val scored = cands.map { c =>
          (GraphOps.modularityNum(el, memb + (u -> c)), c)
        }
        if (scored.nonEmpty) {
          val bestQ = scored.map(_._1).max
          if (bestQ > base) {
            val target = scored.filter(_._1 == bestQ)
              .minBy { case (_, c) =>
                memb.collect { case (v, cc) if cc == c => v }.min }
              ._2
            memb = memb + (u -> target)
            moved = true
          }
        }
      }
    }
    val replica = memb.groupBy(_._2).values.map(_.keySet).toSet
    val p1 = GraphOps.louvainPasses(el).head
      .groupBy(_._2).values.map(_.keySet).toSet
    assert(p1 == replica, s"engine pass-1 $p1 vs replica $replica")
  }

  test("louvain: hand-computed fixture — two triangles, weak bridge") {
    val s = spark
    import s.implicits._
    // same shape as the LPA fixture: Louvain must also find exactly the
    // two triangles (the bridge never pays: merging across it costs
    // more squared-degree than the single unit edge returns)
    val edges = Seq(
      ("a", "b", 10L), ("a", "c", 10L), ("b", "c", 10L),
      ("d", "e", 10L), ("d", "f", 10L), ("e", "f", 10L),
      ("a", "d", 1L)).toDF("src", "dst", "weight")
    val out = GraphOps.louvain(edges).collect()
    val comms = out.map(r => (r.getString(0), r.getSeq[String](1).toList)).toMap
    assert(comms == Map(
      "a" -> List("a", "b", "c"),
      "d" -> List("d", "e", "f")), s"got $comms")
  }

  test("louvain multi-pass: ring of cliques pairs up on the contracted graph") {
    // the resolution-limit construction: n triangles (intra weight 10)
    // in a ring with unit bridges. At n = 70, 2m = 70·62: a vertex-level
    // bridge move never pays, so pass 1 finds exactly the triangles;
    // on the CONTRACTED graph T_A·T_B < 2m·w_AB (62² < 4340·1), so
    // pass 2 merges adjacent triangles — communities of 6 that only the
    // contraction path can reach.
    val n = 70
    def t(i: Int) = f"t$i%02d"
    val edges: Seq[(String, String, Long)] = (0 until n).flatMap { i =>
      Seq(
        (s"${t(i)}a", s"${t(i)}b", 10L), (s"${t(i)}a", s"${t(i)}c", 10L),
        (s"${t(i)}b", s"${t(i)}c", 10L),
        (s"${t(i)}c", s"${t((i + 1) % n)}a", 1L))
    }
    val passes = GraphOps.louvainPasses(edges)
    assert(passes.length >= 2, s"expected a second pass, got ${passes.length}")
    val p1Groups = passes.head.groupBy(_._2).values.map(_.keySet).toSet
    val triangles = (0 until n)
      .map(i => Set(s"${t(i)}a", s"${t(i)}b", s"${t(i)}c")).toSet
    assert(p1Groups == triangles, "pass 1 must find exactly the triangles")
    val finGroups = passes.last.groupBy(_._2).values.map(_.keySet).toSet
    assert(finGroups.forall(_.size == 6), s"final sizes: ${finGroups.map(_.size)}")
    assert(finGroups.size == n / 2)
    // and the merge strictly improved the exact modularity
    assert(GraphOps.modularityNum(edges, passes.last)
      > GraphOps.modularityNum(edges, passes.head))
  }

  test("louvain beats the LPA partition's modularity on the real graph and is deterministic") {
    val edges = CooccurrenceGraph.edgeCounts(spark, sf)
    val a = GraphOps.louvain(edges).collect().toSeq
    val b = GraphOps.louvain(edges).collect().toSeq
    assert(a == b)
    // every vertex in exactly one community
    val members = a.flatMap(_.getSeq[String](1))
    assert(members.length == members.distinct.length)
    assert(members.length == CooccurrenceGraph.nodes(spark, sf).count())
    // Louvain OPTIMIZES modularity; LPA doesn't. On the same edge set
    // the climbed partition must score at least as high (exact BigInt
    // comparison via the shared numerator; 2m identical by construction)
    val el = edges.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    def membOf(rows: Seq[org.apache.spark.sql.Row]): Map[String, String] =
      rows.flatMap(r => r.getSeq[String](1).map(_ -> r.getString(0))).toMap
    val lpa = GraphOps.labelPropagation(edges).collect().toSeq
    val qLouvain = GraphOps.modularityNum(el, membOf(a))
    val qLpa = GraphOps.modularityNum(el, membOf(lpa))
    assert(qLouvain >= qLpa, s"louvain $qLouvain < lpa $qLpa")
  }

  test("property: louvain per-pass modularity is non-decreasing, exactly") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val names = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val edgesGen = Gen.choose(1, 16).flatMap { n =>
      Gen.listOfN(n, for {
        i <- Gen.choose(0, names.size - 2)
        j <- Gen.choose(1, names.size - 1 - i)
        w <- Gen.choose(1L, 9L)
      } yield (names(i), names(i + j), w))
        // one row per undirected pair, like the aggregated edge tables
        .map(_.groupBy(e => (e._1, e._2)).map { case ((s, d), es) =>
          (s, d, es.map(_._3).sum)
        }.toSeq)
    }
    val prop = Prop.forAll(edgesGen) { edges =>
      val passes = GraphOps.louvainPasses(edges)
      val qs = passes.map(m => GraphOps.modularityNum(edges, m))
      val singletons = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> v).toMap
      val q0 = GraphOps.modularityNum(edges, singletons)
      // monotone from the singleton start through every pass
      (q0 +: qs).sliding(2).forall { case Seq(x, y) => x <= y; case _ => true }
    }
    assert(SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop).passed)
  }

  test("louvain membership agrees with the oracle-proven modularity rollup") {
    val s = spark
    import s.implicits._
    // the DataFrame modularity (q74's oracle-checked identity) evaluated
    // on louvain's own partition must equal the local BigInt numerator
    val edges = Seq(
      ("a", "b", 10L), ("a", "c", 10L), ("b", "c", 10L),
      ("d", "e", 10L), ("d", "f", 10L), ("e", "f", 10L),
      ("a", "d", 1L)).toDF("src", "dst", "weight")
    val memb = GraphOps.louvain(edges)
      .select(explode(col("members")).as("entity_id"),
        col("community_rep").as("community"))
    val got = GraphOps.modularity(edges, memb)
      .selectExpr("sum(q_num)").as[Double].collect()(0)
    val el = Seq(("a", "b", 10L), ("a", "c", 10L), ("b", "c", 10L),
      ("d", "e", 10L), ("d", "f", 10L), ("e", "f", 10L), ("a", "d", 1L))
    val lift = GraphOps.louvainPasses(el).last
    assert(BigInt(got.toLong) == GraphOps.modularityNum(el, lift))
  }

  test("triangle census: hand-computed counts and clustering coefficients") {
    val s = spark
    import s.implicits._
    // K4 on {a,b,c,d} (4 triangles, each vertex in 3 of them, deg 3,
    // clustering 1.0) plus a pendant e—a (deg 1, 0 triangles, defined 0)
    val edges = Seq(
      ("a", "b", 1L), ("a", "c", 1L), ("a", "d", 1L),
      ("b", "c", 1L), ("b", "d", 1L), ("c", "d", 1L),
      ("a", "e", 1L)).toDF("src", "dst", "weight")
    val got = GraphOps.triangleCore(edges)
      .select("entity_id", "n_triangles", "degree", "clustering")
      .as[(String, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(got === Seq(
      ("a", 3L, 4L, 0.5), // deg 4 incl. pendant: 3·2/(4·3)
      ("b", 3L, 3L, 1.0),
      ("c", 3L, 3L, 1.0),
      ("d", 3L, 3L, 1.0),
      ("e", 0L, 1L, 0.0)))
  }

  test("modularity: exact integers on the two-triangle bridge fixture") {
    val s = spark
    import s.implicits._
    // two unit-weight triangles joined by one bridge edge c—d: 2m = 14
    val edges = Seq(("a", "b", 1L), ("a", "c", 1L), ("b", "c", 1L),
      ("d", "e", 1L), ("d", "f", 1L), ("e", "f", 1L),
      ("c", "d", 1L)).toDF("src", "dst", "weight")
    val natural = Seq(("a", "t1"), ("b", "t1"), ("c", "t1"),
      ("d", "t2"), ("e", "t2"), ("f", "t2")).toDF("entity_id", "community")
    val got = GraphOps.modularity(edges, natural)
      .select(col("community"), col("t_c"), col("i_c"), col("m2"),
        col("q_num").cast("long"), col("q_contrib"))
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    // per triangle: I_c = 6, T_c = 7 → q_num = 14·6 − 49 = 35; 35/196
    assert(got === Seq(("t1", 7L, 6L, 14L, 35L, 0.178571),
      ("t2", 7L, 6L, 14L, 35L, 0.178571)))
    // the trivial one-community partition has modularity exactly 0
    val one = Seq("a", "b", "c", "d", "e", "f").map((_, "all"))
      .toDF("entity_id", "community")
    val q0 = GraphOps.modularity(edges, one)
      .select(col("q_num").cast("long")).as[Long].collect()
    assert(q0.toSeq === Seq(0L))
    // a zero-degree member (legal in the generic contract) still counts
    // in n_members with k = 0 — an all-isolated community must appear
    // with t_c = i_c = 0, not vanish
    val withIsolated = natural.unionByName(
      Seq(("ghost", "t3")).toDF("entity_id", "community"))
    val iso = GraphOps.modularity(edges, withIsolated)
      .select(col("community"), col("n_members"), col("t_c"),
        col("q_num").cast("long"))
      .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(iso.map(r => (r._1, r._2)) ===
      Seq(("t1", 3L), ("t2", 3L), ("t3", 1L)))
    assert(iso.find(_._1 == "t3").get === (("t3", 1L, 0L, 0L)))
  }

  test("component modularity: communities match q34's components") {
    val m = GraphOps.componentModularity(spark, sf)
    val comps = GraphOps.connectedComponents(spark, sf)
    assert(m.count() === comps.count())
    // Σ T_c = 2m (every vertex's degree lands in exactly one community)
    val r = m.selectExpr("sum(t_c)", "max(m2)").collect()(0)
    assert(r.getLong(0) === r.getLong(1))
  }

  test("neighbor overlap: hand-computed Jaccard ppm, non-linked structural twins surface") {
    val s = spark
    import s.implicits._
    // square-with-diagonal: a-b, b-c, a-c, c-d
    // neighbor sets: a{b,c} b{a,c} c{a,b,d} d{c}
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("a", "c", 1L),
      ("c", "d", 1L)).toDF("src", "dst", "weight")
    val out = GraphOps.neighborOverlap(edges)
      .select("src", "dst", "n_common", "is_linked", "jaccard_ppm")
      .as[(String, String, Long, Boolean, Long)].collect().toSeq
    assert(out === Seq(
      ("a", "d", 1L, false, 500000L),  // never co-occur, yet structural kin
      ("b", "d", 1L, false, 500000L),
      ("a", "b", 1L, true, 333333L),   // ⌊10⁶·1/|{a,b,c}|⌋ = ⌊10⁶/3⌋
      ("a", "c", 1L, true, 250000L),
      ("b", "c", 1L, true, 250000L)))
    // (c,d) share an edge but no common neighbor → correctly absent
    assert(!out.exists(r => r._1 == "c" && r._2 == "d"))
  }

  test("neighbor overlap: super-hub midpoint cap drops hub-mediated pairs only") {
    val s = spark
    import s.implicits._
    // star z-{a,b,c,d} plus a-b; deg(z)=4, all others ≤ 2
    val edges = Seq(("z", "a", 1L), ("z", "b", 1L), ("z", "c", 1L),
      ("z", "d", 1L), ("a", "b", 1L)).toDF("src", "dst", "weight")
    val capped = GraphOps.neighborOverlap(edges, maxMidpointDeg = 2L)
      .select("src", "dst").as[(String, String)].collect().toSet
    // every pair whose ONLY common neighbor is the hub z vanishes;
    // (a,z)/(b,z) survive via midpoints b/a (deg 2 each)
    assert(capped === Set(("a", "z"), ("b", "z")))
    // and without the cap, the hub mediates all six leaf pairs
    val full = GraphOps.neighborOverlap(edges)
      .select("src", "dst").as[(String, String)].collect().toSet
    assert(Set(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")).subsetOf(full))
    // degrees are reported from the UNCAPPED graph either way
    val dz = GraphOps.neighborOverlap(edges, maxMidpointDeg = 2L)
      .filter(col("dst") === "z").select("deg_dst").distinct()
      .as[Long].collect().toSeq
    assert(dz === Seq(4L))
  }

  test("salted aggregation equals direct aggregation (two-phase merge is invisible)") {
    val salted = Skew.saltedTypeStats(spark, sf).collect().toSeq
    val q = col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))
    val direct = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(q).cast("double"), 2).as("value_sum"),
        round(sum(q).cast("double") / count(lit(1)).cast("double"), 6).as("value_avg"))
      .orderBy("event_type").collect().toSeq
    assert(salted == direct)
  }

  test("exact discrete quantiles: hand fixture with duplicate values") {
    val s = spark
    import s.implicits._
    // x: [1,1,1,2,3,3,4,5,5,10] → p50 = 3 (cum 6/10), p90 = 5 (9/10),
    // p99 = 10 (only the full prefix reaches 0.99); y: single value
    val ev = (Seq(1, 1, 1, 2, 3, 3, 4, 5, 5, 10).map(v => ("x", v.toDouble))
      ++ Seq(("y", 7.0))).toDF("event_type", "value")
    val got = graft.ops.Skew.quantilesCore(ev)
      .select("event_type", "p50", "p90", "p99", "v_min", "v_max", "n")
      .as[(String, Double, Double, Double, Double, Double, Long)]
      .collect().toSeq
    assert(got === Seq(
      ("x", 3.0, 5.0, 10.0, 1.0, 10.0, 10L),
      ("y", 7.0, 7.0, 7.0, 7.0, 7.0, 1L)))
  }

  test("mad outliers: hand fixture — robust fence flags only the burst") {
    val s = spark
    import s.implicits._
    // x: [1,2,3,4,100] → med 3 (cum 3/5 ≥ .5), devs [2,1,0,1,97] →
    // mad 1 (cum 3/5 at dev=1), fence 3·1=3 → only 97 exceeds → 1/5.
    // A mean/σ fence would have been dragged to ~ +2σ ≈ 119 by the
    // burst itself and flagged nothing.
    // y: constant → mad 0, nothing flagged
    val ev = (Seq(1, 2, 3, 4, 100).map(v => ("x", v.toDouble))
      ++ Seq(("y", 7.0), ("y", 7.0))).toDF("event_type", "value")
    val got = graft.ops.Skew.madCore(ev)
      .as[(String, Long, Double, Double, Long, Double)].collect().toSeq
    assert(got === Seq(
      ("x", 5L, 3.0, 1.0, 1L, 0.2),
      ("y", 2L, 7.0, 0.0, 0L, 0.0)))
  }

  test("property: quantiles match brute-force percentile_disc on random multisets") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val s = spark
    import s.implicits._
    val gen = Gen.choose(1, 40).flatMap(n =>
      Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b")
        v <- Gen.choose(0, 12) // tiny domain → constant duplicates
      } yield (g, v.toDouble)))
    val prop = Prop.forAll(gen) { rows =>
      val got = graft.ops.Skew.quantilesCore(rows.toDF("event_type", "value"))
        .select("event_type", "p50", "p90", "p99")
        .as[(String, Double, Double, Double)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      def disc(vs: Seq[Double], p: Double): Double = {
        val sorted = vs.sorted
        val n = sorted.size.toDouble
        sorted.find(v => sorted.count(_ <= v) / n >= p).get
      }
      val want = rows.groupBy(_._1).map { case (g, vs) =>
        g -> (disc(vs.map(_._2), 0.5), disc(vs.map(_._2), 0.9),
          disc(vs.map(_._2), 0.99))
      }
      got == want
    }
    assert(SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop).passed)
  }

  test("AQE is enabled in the session (runtime skew/coalesce re-planning)") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("q209 star-alternation CC: chains, triangles and isolated pairs " +
    "land in min-rep components identical to hand-computed closure") {
    val s = spark
    import s.implicits._
    // component 1: an 8-node chain (forces multiple star rounds —
    //   each large-star halves chain depth, so depth-7 needs ≥ 3)
    // component 2: a triangle with a pendant
    // component 3: a 2-node pair; edge arrives in REVERSED order (z, y)
    //   to prove canonicalization
    val edges = Seq(
      "a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e",
      "e" -> "f", "f" -> "g", "g" -> "h",
      "p" -> "q", "q" -> "r", "r" -> "p", "r" -> "s",
      "z" -> "y").toDF("a", "b")
    val out = GraphOps.ccStarCore(edges)
      .select(col("component_rep"), array_join(col("members"), ",")
        .as("members"), col("n_members"))
      .as[(String, String, Long)].collect().toSeq
    assert(out === Seq(
      ("a", "a,b,c,d,e,f,g,h", 8L),
      ("p", "p,q,r,s", 4L),
      ("y", "y,z", 2L)))
  }

  /** Independent max-spanning-forest: Kruskal with the SAME total edge
    * order (weight DESC, src ASC, dst ASC). Under a total order the
    * matroid-greedy optimum is unique, so Borůvka (engine) and Kruskal
    * (here) must produce the identical edge set.
    */
  private def kruskalMax(
      edges: Seq[(String, String, Long)]): Set[(String, String, Long)] = {
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val out = scala.collection.mutable.Set[(String, String, Long)]()
    for ((a, b, w) <- edges.sortBy { case (a, b, w) => (-w, a, b) }) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; out += ((a, b, w)) }
    }
    out.toSet
  }

  test("q215 Borůvka forest: cycle edges dropped, ties broken by the " +
    "total order, disconnected graphs give a forest") {
    val s = spark
    import s.implicits._
    // square+chords: tree keeps the three heaviest acyclic edges;
    // triangle of EQUAL weights: tie order keeps (x,y) and (x,z)
    val edges = Seq(
      ("a", "b", 5L), ("b", "c", 4L), ("c", "d", 3L),
      ("a", "d", 2L), ("a", "c", 1L),
      ("x", "y", 7L), ("x", "z", 7L), ("y", "z", 7L))
    val got = GraphOps.boruvkaCore(spark, edges.toDF("a", "b", "weight"))
      .as[(String, String, Long)].collect().toSeq
    assert(got === Seq(
      ("x", "y", 7L), ("x", "z", 7L),
      ("a", "b", 5L), ("b", "c", 4L), ("c", "d", 3L)))
    assert(got.toSet === kruskalMax(edges))
  }

  test("q215 equals an independent Kruskal on the documents corpus") {
    val corpus = CooccurrenceGraph.edgeCounts(spark, sf)
      .select(least(col("src"), col("dst")), greatest(col("src"), col("dst")),
        col("weight"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val want = kruskalMax(corpus.toSeq)
    val got = GraphOps.maxSpanningForest(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.nonEmpty && got.length == got.distinct.length)
    assert(got.toSet === want)
  }

  test("q221 skip-gram pairs: directional ±2 window over a hand walk") {
    val s = spark
    import s.implicits._
    // one walk a,b,c,a,d at steps 0..4 — 14 directional pairs
    val walks = Seq(("w1", 0, "a"), ("w1", 1, "b"), ("w1", 2, "c"),
      ("w1", 3, "a"), ("w1", 4, "d")).toDF("walk_id", "step", "node")
    val out = GraphOps.skipgramCore(walks)
      .as[(String, String, Long)].collect().toSeq
    assert(out === Seq(
      ("a", "b", 2L), ("a", "c", 2L), ("a", "d", 1L),
      ("b", "a", 2L), ("b", "c", 1L),
      ("c", "a", 2L), ("c", "b", 1L), ("c", "d", 1L),
      ("d", "a", 1L), ("d", "c", 1L)))
    assert(out.map(_._3).sum == 14L)
  }

  /** Plain JVM union-find components for the property pins. */
  private def ufComponents(
      edges: Seq[(String, String)]): Set[Set[String]] = {
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    edges.flatMap(e => Seq(e._1, e._2)).distinct
      .groupBy(find).values.map(_.toSet).toSet
  }

  test("q209 property: star-alternation components equal union-find on " +
    "random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val s = spark
    import s.implicits._
    val nodeGen = Gen.oneOf(('a' to 'j').map(_.toString))
    val edgesGen = Gen.nonEmptyListOf(Gen.zip(nodeGen, nodeGen))
      .map(_.filter(e => e._1 != e._2)).suchThat(_.nonEmpty)
    val prop = Prop.forAll(edgesGen) { edges =>
      val got = GraphOps.ccStarCore(edges.toDF("a", "b"))
        .collect()
        .map(_.getSeq[String](1).toSet).toSet
      got == ufComponents(edges)
    }
    assert(SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop).passed)
  }

  test("q215 property: Borůvka forest equals tie-broken Kruskal on " +
    "random weighted graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val s = spark
    import s.implicits._
    val nodeGen = Gen.oneOf(('a' to 'h').map(_.toString))
    val edgesGen = Gen.nonEmptyListOf(
        Gen.zip(nodeGen, nodeGen, Gen.choose(1L, 9L)))
      .map(_.collect { case (a, b, w) if a < b => (a, b, w) }
        .groupBy(e => (e._1, e._2))
        .map { case ((a, b), es) => (a, b, es.map(_._3).max) }.toList)
      .suchThat(_.nonEmpty)
    val prop = Prop.forAll(edgesGen) { edges =>
      val got = GraphOps.boruvkaCore(spark, edges.toDF("a", "b", "weight"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      got == kruskalMax(edges)
    }
    assert(SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop).passed)
  }

  test("q209 agrees with q34's one-task components on the documents corpus") {
    val star = GraphOps.ccDataFrame(spark, sf)
      .withColumn("members", array_join(col("members"), ","))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val q34 = GraphOps.connectedComponents(spark, sf)
      .withColumn("members", array_join(col("members"), ","))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(star.toSeq === q34.toSeq)
  }
}
