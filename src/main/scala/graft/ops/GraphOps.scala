package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.{RefData, Tables}

/** Graph analytics over the co-occurrence graph. The reference README
  * claims PageRank and community detection (README.md:17,
  * relation_graph/readme.md:18-19) but ships only the co-occurrence
  * counts (SURVEY.md §0.1); here the claims are made real, clearly
  * labeled as an extension.
  *
  * Two execution shapes. The aggregated co-occurrence and relation
  * graphs are lexicon-bounded (|V| ≤ lexicon size whatever the corpus
  * volume), so every fixpoint over them — PageRank, components, label
  * propagation, BFS, paths, k-core, Louvain — runs as a plain-Scala
  * kernel in one executor task through [[inOneTask]]: edges in, rows
  * out, one node of the caller's plan, nothing cached. Only the
  * upstream edge aggregation scales with the data, and it stays
  * distributed. The DataFrame rounds that remain are the HITS loops
  * over the purchase graph, which grows with the data, and q118's
  * peel and q209/q215's star rounds, the distributed twins that
  * `GraphScaleBench` times on million-edge graphs.
  */
object GraphOps {

  val pageRankIters = 10
  val resetProb = 0.15

  /** WEIGHTED PageRank over the undirected (symmetrized) co-occurrence
    * graph: transition probability proportional to edge weight
    * (rank flows along heavy co-occurrence edges), the natural reading
    * of the reference readme's "relation strength" aspiration. The
    * power iteration is spelled out (a library PageRank is
    * degree-normalized and ignores edge weights): normalize each edge
    * by its source's total out-weight, then iterate
    * rank = reset + (1-reset)·Σ incoming. Symmetrization leaves no
    * dangling vertices, so Σ rank = |V| is preserved exactly
    * (GraphOpsSpec pins it). Fixed iteration count → deterministic.
    */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankCore(CooccurrenceGraph.edgeCounts(spark, dir))

  /** Core over any (src, dst, weight) edge frame — fixture seam. */
  private[graft] def pagerankCore(edges: DataFrame): DataFrame =
    pagerankRanks(edges)
      .select(col("entity_id"), round(col("rank"), 6).as("pagerank"))
      .sortWithinPartitions(desc("pagerank"), asc("entity_id"))

  /** Unrounded ranks — the GraphOpsSpec seam: the value pin against an
    * independent plain-Scala power iteration compares at 1e-9, which
    * the 6dp presentation rounding above would mask.
    */
  private[graft] def pagerankRanks(spark: SparkSession, dir: String): DataFrame =
    pagerankRanks(CooccurrenceGraph.edgeCounts(spark, dir))

  /** One [[inOneTask]] kernel in doubles over the edges symmetrized
    * with duplicates kept: each edge carries rank(a)·(w / outW(a)).
    */
  private[graft] def pagerankRanks(edges: DataFrame): DataFrame =
    inOneTask(edges, vertexSchema(edges, "rank", DoubleType, nullable = false)) { es =>
      val sym = symmetric(es)
      val outW = sym.groupMapReduce(_._1)(_._3.toDouble)(_ + _)
      var rank = outW.map { case (v, _) => v -> 1.0 }
      for (_ <- 1 to pageRankIters) {
        val inflow = sym.groupMapReduce(_._2) { case (a, _, w) => rank(a) * (w / outW(a)) }(_ + _)
        rank = rank.map { case (v, _) =>
          v -> (resetProb + (1 - resetProb) * inflow.getOrElse(v, 0.0)) }
      }
      rank.iterator.map { case (v, r) => Row(v, r) }
    }

  /** q328 fixed-point scale: one vertex's initial rank mass in
    * micro-micro units (10¹²), and the iteration count shared with
    * q33's float PageRank so the two rankings are comparable reads of
    * the same recursion.
    */
  private[graft] val prScale = 1000000000000L
  private[graft] val prReset = prScale * 15L / 100L // exactly 1.5·10¹¹

  /** q328 — EXACT-INTEGER PAGERANK (r15 verdict task 2: the first
    * graph fixpoint with a full DuckDB oracle). Same recursion as q33
    * — weighted transition over the symmetrized co-occurrence graph,
    * reset 0.15, [[pageRankIters]] synchronous rounds — but every
    * quantity is an exact integer, so the whole iteration replays in
    * DuckDB as one chained CTE per round (the q317 Lloyd technique
    * applied to rank mass):
    *
    *   - ranks live in micro-micro mass units, R₀(v) = 10¹²;
    *   - each edge carries share(u→v) = (R(u)·w) div outW(u) —
    *     products ride decimal(38,0)/HUGEINT (R ≤ n·10¹² and corpus-
    *     scale weights overflow BIGINT together), the truncating
    *     division is floor on the non-negative domain in both engines;
    *   - R'(v) = 1.5·10¹¹ + (85·Σshares) div 100 — the damping is two
    *     more exact integer ops, never a float;
    *   - symmetrization leaves no dangling mass, so Σ R stays within
    *     truncation dust of n·10¹² (spec-pinned bounds).
    *
    * q33 (float, the same kernel shape in doubles) stays registered as
    * the rows-only twin — this is the q327-for-q65 move on the
    * ITERATIVE-FIXPOINT no-oracle class: fixed rounds + exact
    * arithmetic = rows+schema+hash gate, damping and all. Fulfills relation_graph/readme.md:18-19's PageRank
    * aspiration (SURVEY §0.1) with a fully verifiable ranking.
    *
    * Scale: like q33 the iteration runs on the lexicon-bounded
    * aggregated graph, here as one [[inOneTask]] kernel in exact BigInt
    * arithmetic; only the upstream edge aggregation scales with corpus
    * volume. The edge frame is symmetrized with duplicates kept (the
    * oracle's UNION ALL).
    */
  def pagerankExact(spark: SparkSession, dir: String): DataFrame =
    pagerankExactCore(CooccurrenceGraph.edgeCounts(spark, dir))

  /** Core over any (src, dst, weight) edge frame — fixture seam. */
  private[graft] def pagerankExactCore(edges: DataFrame): DataFrame =
    inOneTask(edges, vertexSchema(edges, "rank_mm", LongType, nullable = true)) { es =>
      val sym = symmetric(es)
      val outW = sym.groupMapReduce(_._1)(_._3)(Math.addExact)
      var rank = outW.map { case (v, _) => v -> BigInt(prScale) }
      for (_ <- 1 to pageRankIters) {
        // products and sums in BigInt, the oracle's HUGEINT: the
        // truncating division is floor on the non-negative domain
        val inflow = sym.groupMapReduce(_._2) { case (a, _, w) => rank(a) * w / outW(a) }(_ + _)
        rank = rank.map { case (v, _) =>
          v -> (BigInt(prReset) + BigInt(85) * inflow.getOrElse(v, BigInt(0)) / 100) }
      }
      rank.iterator.map { case (v, r) =>
        // the ANSI cast to bigint: an out-of-range rank throws
        if (!r.isValidLong) throw new ArithmeticException(s"rank $r of $v overflows bigint")
        Row(v, r.toLong)
      }
    }.sortWithinPartitions(desc("rank_mm"), asc("entity_id"))

  /** q329 — EXACT LABEL PROPAGATION (the natural second conversion the
    * q328 scaladoc's pattern predicts): q35's deterministic weighted
    * LPA dynamics — each round every vertex adopts the label with the
    * greatest incident edge-weight sum among its neighbors' labels,
    * ties to the lexicographically smallest label, [[lpaIters]]
    * synchronous rounds — with NOTHING float anywhere (weights are
    * counts, the argmax a (sum DESC, label ASC) rank), so the whole
    * fixpoint replays in DuckDB as one chained CTE round per
    * iteration. q35 and q75 run these same rounds ([[lpaLabels]]) over
    * the fanren relation graph and emit member lists; output here is
    * per-vertex (entity_id, community = adopted label)
    * — the assignment grain, hash-gated.
    *
    * Scale: q328's argument — one [[inOneTask]] kernel over the
    * lexicon-bounded aggregated graph.
    */
  def lpaExact(spark: SparkSession, dir: String): DataFrame =
    lpaExactCore(CooccurrenceGraph.edgeCounts(spark, dir))

  /** Core over any (src, dst, weight) edge frame — fixture seam. */
  private[graft] def lpaExactCore(edges: DataFrame): DataFrame =
    inOneTask(edges, vertexSchema(edges, "community", StringType, nullable = true)) { es =>
      lpaLabels(es).iterator.map { case (v, l) => Row(v, l) }
    }.sortWithinPartitions("entity_id")

  /** The label rounds q329, q35 and q75 share: each vertex's label after
    * [[lpaIters]] synchronous rounds over `es` symmetrized with
    * duplicates kept, starting from its own name.
    */
  private def lpaLabels(es: Seq[(String, String, Long)]): Map[String, String] = {
    val sym = symmetric(es)
    var lbl = sym.map(t => t._1 -> t._1).toMap
    for (_ <- 1 to lpaIters) {
      lbl = sym.groupMapReduce { case (a, b, _) => (b, lbl(a)) }(_._3)(Math.addExact)
        .groupBy(_._1._1).map { case (v, sums) =>
          // (Σ weight desc, label asc) — Spark's string order is UTF-8 bytes
          v -> sums.minBy { case ((_, l), w) => (-w, UTF8String.fromString(l)) }._1._2 }
    }
    lbl
  }

  /** q337 — MODULARITY OF THE EXACT-LPA PARTITION, fully oracle-gated
    * (r16 verdict task 2: the cheapest remaining no-oracle conversion):
    * q75's composition — community detection, then the partition's
    * modularity decomposition — built from the two pieces that are
    * ALREADY hash-gated individually: [[lpaExactCore]]'s deterministic
    * integer label fixpoint (q329) feeds [[modularity]]'s
    * decimal(38,0)/HUGEINT integer metric (q74's arithmetic), so the
    * whole composition replays in DuckDB as the q329 CTE chain plus
    * the q74 modularity tail (membership MATERIALIZED — the chain is
    * referenced three times downstream, and DuckDB 1.0 inlines
    * non-materialized CTEs per reference). q75 runs the same rounds
    * over the fanren relation graph; the partition here is grouped by
    * the ADOPTED LABEL (q329's grain) — the same partition, without
    * the member-list rep rename. q74 has the same shape over
    * [[components]].
    *
    * Scale: q329's lexicon-bounded iteration + q74's three hash aggs
    * and one broadcast single-row 2m — nothing new.
    */
  def lpaModularity(spark: SparkSession, dir: String): DataFrame = {
    val edges = CooccurrenceGraph.edgeCounts(spark, dir).localCheckpoint(true)
    modularity(edges,
      lpaExactCore(edges).select(col("entity_id"), col("community")))
  }

  /** q335's fixed-point unit (score ceiling after each rescale) and
    * round count (shared with q281 so the two rankings read the same
    * recursion).
    */
  private[graft] val hitsScale = 1000000L

  /** q335 — EXACT-INTEGER HITS (the third fixpoint pattern converted,
    * after q328/q329): q281's mutual-reinforcement recursion over the
    * directed customer→part purchase graph, with float normalization
    * replaced by integer RENORMALIZATION — after each half-step the
    * scores rescale to s' = (s·10⁶) div max(s), so every quantity is
    * an exact integer and all [[hitsIters]] rounds replay in DuckDB as
    * chained CTEs (two agg+max+rescale triplets per round). Rescaling
    * by the max is the power method's standard normalization choice
    * (the ∞-norm instead of L2); it changes magnitudes, not the
    * direction the iteration converges toward, so the top-k RANKING
    * is the q281 read with every step hash-gated. Ties (possible
    * after quantization) break to the smaller node id. Output: q281's
    * shape — (role, node_id, score_sc) top-10 per role, score in
    * 10⁻⁶ units of the round's max.
    *
    * Scale: q281's argument — one corpus-scale distinct edge build,
    * then per-round edge-frame equi-joins + hash aggs with per-round
    * lineage cuts; the max is a single-row broadcast (sanctioned
    * boundary pattern). Products ride decimal(38,0): s ≤ 10⁶ and
    * corpus-scale degree push s·10⁶ past 2⁶³ together.
    */
  def hitsExact(spark: SparkSession, dir: String): DataFrame =
    hitsExactCore(Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
      .distinct())

  /** Vertex-side join-strategy gate shared by the two HITS cores: the
    * per-round hub/auth frames are vertex-grain, but the
    * `localCheckpoint` that pins each round also resets the frame's
    * size statistics to the conservative default, so the planner never
    * chooses the broadcast build a small vertex side merits and every
    * half-round re-shuffles the full edge frame (r18 StageProbe: a
    * 5.6 MB edge shuffle write + read per half-round at sf0.1). This
    * restores the size-based decision the defaulted stats defeat: one
    * cheap approx-distinct pass over the materialized edge frame bounds
    * both vertex domains, and a domain is broadcast only under the
    * session's own `autoBroadcastJoinThreshold` — data-adaptive, the
    * same choice AQE would make with honest statistics, never pinned to
    * local mode (a 100 TB corpus's customer domain fails the gate and
    * keeps the scale-safe shuffle join).
    */
  private[graft] def hitsVertexGates(edges: DataFrame): (Boolean, Boolean) = {
    val conf = edges.sparkSession.sessionState.conf
    val thresholdRows = conf.autoBroadcastJoinThreshold / 32 // ~32 B/row built
    if (thresholdRows <= 0) (false, false)
    else {
      val r = edges.agg(
        approx_count_distinct("src").as("ns"),
        approx_count_distinct("dst").as("nd")).head()
      (r.getLong(0) < thresholdRows, r.getLong(1) < thresholdRows)
    }
  }

  /** Core over any directed (src, dst) edge frame — fixture seam.
    *
    * r18 half-round shape (fourth probe family; r17's three were all
    * at parity, and a fully-lazy single-query recursion measured WORSE
    * — AQE does not dedupe the identical edge-exchange subtrees across
    * rounds, q281 6.1→9.3 s — so eager per-half-round checkpoints
    * stay): (1) the vertex side joins under the [[hitsVertexGates]]
    * broadcast gate, removing the per-half-round edge shuffle; (2) the
    * checkpoint pins the RAW aggregate and the max-rescale projection
    * stays lazy — consumers read the materialized 15–20k-row frame, so
    * the rescale costs a projection instead of its own materialization
    * job. The integer arithmetic is untouched, so the oracle replay is
    * bit-identical.
    */
  private[graft] def hitsExactCore(edges0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = edges0.localCheckpoint(true)
    val (bcSrc, bcDst) = hitsVertexGates(edges)
    def gated(df: DataFrame, bc: Boolean): DataFrame =
      if (bc) broadcast(df) else df
    def rescaled(df: DataFrame, key: String, c: String): DataFrame = {
      val ck = df.localCheckpoint(true)
      val mx = ck.agg(max(col(c)).as("mx"))
      ck.crossJoin(broadcast(mx))
        .select(col(key),
          expr(s"cast(cast($c as decimal(38,0)) * $hitsScale div mx as bigint)")
            .as(c))
    }
    var hub = edges.select(col("src")).distinct()
      .withColumn("h", lit(hitsScale)).localCheckpoint(true)
    var auth: DataFrame = hub.limit(0)
      .select(col("src").as("dst"), col("h").as("a"))
    for (_ <- 1 to hitsIters) {
      auth = rescaled(edges.join(gated(hub, bcSrc), "src").groupBy("dst")
        .agg(sum("h").as("a")), "dst", "a")
      hub = rescaled(edges.join(gated(auth, bcDst), "dst").groupBy("src")
        .agg(sum("a").as("h")), "src", "h")
    }
    val topA = auth
      .select(lit("authority").as("role"), col("dst").as("node_id"),
        col("a").as("score_sc"))
    val topH = hub
      .select(lit("hub").as("role"), col("src").as("node_id"),
        col("h").as("score_sc"))
    topA.unionByName(topH)
      .withColumn("rk", row_number().over(Window.partitionBy("role")
        .orderBy(desc("score_sc"), asc("node_id"))))
      .filter(col("rk") <= hitsTopK)
      .select("role", "node_id", "score_sc")
      .orderBy(col("role"), desc("score_sc"), col("node_id"))
  }

  /** q281 iteration count — HITS converges geometrically in the
    * principal eigengap; 8 rounds ranks a bipartite purchase graph
    * stably (the spec pins the fixture against an independent replica).
    */
  private[graft] val hitsIters = 8
  private[graft] val hitsTopK = 10

  /** q281 — HITS HUBS/AUTHORITIES over the DIRECTED customer→part
    * purchase graph (lineitem⋈orders, distinct pairs): authority(part)
    * = bought by hub customers, hub(customer) = buys authoritative
    * parts — Kleinberg's mutual-reinforcement recursion, the
    * recommendation-seed read the undirected co-occurrence graph
    * cannot express (on a symmetrized graph hub ≡ authority, which is
    * why q33's PageRank lives there and HITS lives here). Completes
    * the eigenvector family: q33 = stationary flow, q281 = dominant
    * singular pair of the bipartite adjacency.
    *
    * Rows-only gate (like q33/q118: an iterative float fixpoint has no
    * honest SQL oracle — SQL float sums are association-order
    * nondeterministic); the recursion is value-pinned in GraphOpsSpec
    * against an independent plain-Scala replica at 1e-6 and the L2
    * norms are asserted 1.
    *
    * Scale: the ONE corpus-scale stage is the distinct edge build;
    * each round is two edge-frame equi-joins + hash aggs (the q209
    * per-round localCheckpoint discipline — round t never replays
    * rounds 1..t-1) and a single-row L2-norm broadcast (sanctioned
    * boundary-broadcast pattern). The src→dst alternation re-keys the
    * exchange each half-round — inherent to the transpose in the HITS
    * recursion, still linear per round.
    */
  def hitsBipartite(spark: SparkSession, dir: String): DataFrame =
    hitsCore(Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
      .distinct())

  /** Core over any directed (src, dst) edge frame — fixture seam.
    * r18: vertex side joins under the [[hitsVertexGates]] broadcast
    * gate (scaladoc there; removes the per-half-round edge shuffle);
    * the per-half-round eager checkpoints stay — the fully-lazy
    * single-query variant measured 6.1→9.3 s (AQE does not dedupe the
    * repeated edge-exchange subtrees).
    */
  private[graft] def hitsCore(edges0: DataFrame): DataFrame = {
    val edges = edges0.localCheckpoint(true)
    val (bcSrc, bcDst) = hitsVertexGates(edges)
    def gated(df: DataFrame, bc: Boolean): DataFrame =
      if (bc) broadcast(df) else df
    def normed(df: DataFrame, key: String, c: String): DataFrame =
      df.crossJoin(broadcast(
          df.agg(sqrt(sum(col(c) * col(c))).as("nrm"))))
        .select(col(key), (col(c) / col("nrm")).as(c))
    var hub = edges.select(col("src")).distinct()
      .withColumn("h", lit(1.0)).localCheckpoint(true)
    var auth: DataFrame = hub.limit(0)
      .select(col("src").as("dst"), col("h").as("a"))
    // rounds run UNNORMALIZED: normalization is a scalar, and the
    // recursion is linear, so scaling commutes — h_t = (EEᵀ)ᵗh₀ points
    // the same way whether you rescale every round or once at the end;
    // per-round L2 norms would double every checkpoint's subtree (the
    // norm agg re-computes the join) — measured ~2× wall. Headroom:
    // magnitudes grow ≤ nnz per round pair, (10¹² edges)⁸ = 10⁹⁶ ≪
    // double's 1e308 — no overflow at any credible corpus.
    for (_ <- 1 to hitsIters) {
      auth = edges.join(gated(hub, bcSrc), "src").groupBy("dst")
        .agg(sum("h").as("a")).localCheckpoint(true)
      hub = edges.join(gated(auth, bcDst), "dst").groupBy("src")
        .agg(sum("a").as("h")).localCheckpoint(true)
    }
    // Top-k selection orders on the 6dp-ROUNDED score (r12 ADVICE):
    // the un-rounded sums are partition-order-nondeterministic doubles,
    // so a raw-score order could flip boundary membership across runs
    // on ties inside float noise while the emitted (rounded) scores
    // look identical. Rounding first + node-id tie-break makes the
    // selection a pure function of the output's own rounding contract.
    val topA = normed(auth, "dst", "a")
      .select(lit("authority").as("role"), col("dst").as("node_id"),
        round(col("a"), 6).as("score"))
      .orderBy(desc("score"), asc("node_id")).limit(hitsTopK)
    val topH = normed(hub, "src", "h")
      .select(lit("hub").as("role"), col("src").as("node_id"),
        round(col("h"), 6).as("score"))
      .orderBy(desc("score"), asc("node_id")).limit(hitsTopK)
    topA.unionByName(topH).orderBy(col("role"), desc("score"), col("node_id"))
  }

  /** q34 — connected components: entity clusters that ever co-occur,
    * one row per component (component_rep = its smallest member, the
    * sorted members, n_members), largest first. The label-free output
    * is what lets the q34 oracle's recursive CTE reproduce it.
    */
  def connectedComponents(spark: SparkSession, dir: String): DataFrame =
    connectedComponentsCore(CooccurrenceGraph.edgeCounts(spark, dir))

  /** Core over any (src, dst, weight) edge frame — fixture seam: the
    * [[components]] kernel, grouped in the same task.
    */
  private[graft] def connectedComponentsCore(edges: DataFrame): DataFrame =
    inOneTask(edges, groupSchema("component_rep")) { es => grouped(components(es)) }
      .sortWithinPartitions(desc("n_members"), asc("component_rep"))

  /** Runs `kernel` over the whole of `edges` — (src, dst, weight), non-NULL
    * names and Long weights — in ONE executor task and returns its rows
    * under `schema`. Stock Dataset operators only
    * (`coalesce(1).mapPartitions`), so the kernel is one node of the
    * caller's own plan and SQL execution: no collect, no cache, no
    * per-round job or checkpoint, and the output is one partition.
    *
    * Sound only while the edge frame is lexicon-bounded, as the
    * aggregated co-occurrence and relation graphs are (≤ 10 vertices and
    * 36 edges at sf0.1): only the upstream edge aggregation scales with
    * the data, and it stays distributed. Measure the crossover with
    * `GraphScaleBench synth:E1,E2,…` before calling it on another graph;
    * one too big for one task is the regime for the distributed loops
    * (q118, q215, q281).
    */
  private[graft] def inOneTask(edges: DataFrame, schema: StructType)(
      kernel: Seq[(String, String, Long)] => Iterator[Row]): DataFrame =
    edges.toDF("src", "dst", "weight")
      .as[(String, String, Long)](Encoders.product[(String, String, Long)])
      .coalesce(1)
      .mapPartitions(it => kernel(it.toVector))(Encoders.row(schema))

  /** (entity_id, `value`): a per-vertex kernel result over `edges`. */
  private def vertexSchema(edges: DataFrame, value: String, tpe: DataType,
                           nullable: Boolean): StructType = {
    val e = edges.toDF("src", "dst", "weight")
    StructType(Seq(
      StructField("entity_id", StringType, e.schema("src").nullable || e.schema("dst").nullable),
      StructField(value, tpe, nullable)))
  }

  /** Both directions of every edge, duplicates kept (UNION ALL). */
  private def symmetric(es: Seq[(String, String, Long)]): Seq[(String, String, Long)] =
    es.flatMap { case (s, d, w) => Seq((s, d, w), (d, s, w)) }

  /** Spark's string order: UTF-8 bytes, as `min`, `sort_array` and `asc`. */
  private val utf8: Ordering[String] = Ordering.by(UTF8String.fromString)

  /** Each vertex of `es` mapped to the smallest member of its connected
    * component: union-find whose root is always the smaller of the two
    * roots it joins, with path halving.
    */
  private def components(es: Seq[(String, String, Long)]): Map[String, String] = {
    val root = mutable.Map.empty[String, String]
    for ((s, d, _) <- es; v <- Seq(s, d)) root.getOrElseUpdate(v, v)
    def find(v: String): String = {
      var x = v
      while (root(x) != x) { root(x) = root(root(x)); x = root(x) }
      x
    }
    for ((s, d, _) <- es) {
      val (a, b) = (find(s), find(d))
      if (a != b) root(utf8.max(a, b)) = utf8.min(a, b)
    }
    root.keys.toVector.map(v => v -> find(v)).toMap
  }

  /** (`rep`, members, n_members): one group of vertices per label, the
    * schema of `members[0]`, `sort_array(collect_list(…))` and `count`.
    */
  private def groupSchema(rep: String): StructType = StructType(Seq(
    StructField(rep, StringType),
    StructField("members", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("n_members", LongType, nullable = false)))

  /** One row per label of `label`: the members sorted and the smallest
    * as the rep, so no label value leaves the kernel.
    */
  private def grouped(label: Map[String, String]): Iterator[Row] =
    label.groupMap(_._2)(_._1).valuesIterator.map { vs =>
      val members = vs.toVector.sorted(utf8)
      Row(members.head, members, members.size.toLong)
    }

  val bfsMaxHops = 8

  /** The hub and the undirected adjacency of an edge list, or None when
    * it is empty. The hub is the largest Σweight over both endpoint
    * columns (q32's degree convention), ties to the smallest name in
    * UTF-8 byte order (Spark's `asc`); parallel edges keep their largest
    * weight, and a self-loop is its vertex's own neighbour.
    */
  private def hubAndAdjacency(es: Seq[(String, String, Long)])
      : Option[(String, Map[String, Map[String, Long]])] =
    if (es.isEmpty) None
    else {
      val sym = symmetric(es)
      val degree = sym.groupMapReduce(_._1)(_._3)(Math.addExact)
      val hub = degree.minBy { case (v, d) => (-d, UTF8String.fromString(v)) }._1
      val adj = sym.groupMap(_._1)(t => (t._2, t._3)).map { case (v, ns) =>
        v -> ns.groupMapReduce(_._1)(_._2)(math.max) }
      Some((hub, adj))
    }

  /** The hop-bounded relaxation q110, q121 and q147 share — one hub and
    * frontier loop under hop count, maximin and min-plus. Round 1
    * relaxes the hub's own edges (a self-loop included); each later
    * round relaxes the vertices the round before improved, never back
    * into the hub. A vertex takes a value only when it is strictly
    * `better` than the one it holds. Stops after `rounds` rounds or on an
    * empty frontier; returns each reached vertex's value, starting from
    * `init`. `step(s, w)` extends a value `s` over an edge of weight `w`.
    */
  private def relax(adj: Map[String, Map[String, Long]], hub: String, rounds: Int,
                    start: Long, init: Map[String, Long])(
      step: (Long, Long) => Long, better: (Long, Long) => Boolean): Map[String, Long] = {
    val best = mutable.Map(init.toSeq: _*)
    var frontier = Map(hub -> start)
    var round = 0
    while (round < rounds && frontier.nonEmpty) {
      round += 1
      val cand = mutable.Map.empty[String, Long]
      for ((u, s) <- frontier; (v, w) <- adj(u) if round == 1 || v != hub) {
        val x = step(s, w)
        if (cand.get(v).forall(better(x, _))) cand(v) = x
      }
      frontier = cand.filter { case (v, x) => best.get(v).forall(better(x, _)) }.toMap
      best ++= frontier
    }
    best.toMap
  }

  /** One [[inOneTask]] walk from the hub: (entity_id, `value`) rows of
    * `walk(hub, adjacency)`, none for an empty edge frame.
    */
  private def hubWalk(edges: DataFrame, value: String, nullable: Boolean)(
      walk: (String, Map[String, Map[String, Long]]) => Map[String, Long]): DataFrame =
    inOneTask(edges, vertexSchema(edges, value, LongType, nullable)) { es =>
      hubAndAdjacency(es).iterator
        .flatMap { case (hub, adj) => walk(hub, adj) }
        .map { case (v, x) => Row(v, x) }
    }

  /** q110 — BFS hop distance from the graph's hub (the max-weighted-
    * degree entity, the reference data's 韩立 analogue — BASELINE.md
    * records it at >10× the #2 entity). "Degrees of separation from
    * the protagonist" is the canonical relation-graph read the readme's
    * 人物关系 aspiration implies and none of q33-q35 answer.
    *
    * Semantics: the hub is [[hubAndAdjacency]]'s; hops follow the
    * distinct undirected neighbours for at most `maxHops` rounds,
    * stopping early on an empty frontier; unreachable vertices are
    * omitted — hop is a distance, not a status column. An empty edge
    * frame gives an empty result. Output (entity_id string, hop bigint)
    * ordered by (hop, entity_id).
    *
    * Hub selection and the whole bounded BFS run as one [[inOneTask]]
    * kernel, [[relax]] under hop count: a vertex improves only on first
    * discovery, so each round's improved set is the BFS frontier. As
    * distributed DataFrame rounds the same loop cost a job and two
    * checkpoint writes per round for a few rows: 20 jobs and 14 block
    * writes per execution, against 2 jobs and none in one task.
    * BfsHopsSpec pins it row for row against a replica of those rounds.
    *
    * `edges` = (src, dst, weight), one row per undirected pair — the
    * q31/q95 edge-table shape, non-NULL names and Long weights.
    */
  def bfsHops(edges: DataFrame, maxHops: Int = bfsMaxHops): DataFrame =
    hubWalk(edges, "hop", nullable = false) { (hub, adj) =>
      relax(adj, hub, maxHops, 0L, Map(hub -> 0L))((s, _) => s + 1, _ < _)
    }.sortWithinPartitions("hop", "entity_id")

  /** q121 — WIDEST (maximin) paths from the hub: the strength of a
    * relationship chain is its weakest link, so each entity's score is
    * max over ≤ maxHops-hop paths of min edge weight — the "how
    * strongly is X connected to the protagonist" read, where q110's
    * hops only say "how far". Widest-path has optimal substructure for
    * per-node max (extending a weaker prefix through u can never beat
    * extending u's best: least(s, w) is monotone in s), so bounded
    * Bellman-Ford-style relaxation is exact: after round k, `best`
    * holds the optimum over ≤ k hops — precisely what the oracle's
    * hop-bounded recursive walk enumerates. [[relax]] under maximin,
    * in one [[inOneTask]] kernel; all integer arithmetic (weights are
    * counts). Round 1 always runs, so `maxHops` 0 reads as 1.
    */
  def widestPaths(edges: DataFrame, maxHops: Int = bfsMaxHops): DataFrame =
    hubWalk(edges, "strength", nullable = true) { (hub, adj) =>
      relax(adj, hub, maxHops.max(1), Long.MaxValue, Map.empty)(math.min, _ > _)
    }.sortWithinPartitions(desc("strength"), asc("entity_id"))

  /** q147 — SHORTEST STRONG-TIE PATHS from the hub: min-plus distance
    * where each edge costs (maxW + 1 − weight), so strong ties are
    * cheap and the optimum is the "path of least resistance" through
    * the relationship graph — the third member of the path algebra the
    * engine now covers in full (q110 hop-count = unweighted, q121
    * maximin = bottleneck width, this = additive cost), all three the
    * same [[relax]] loop over the same hub and adjacency. Integer costs
    * throughout (weights are counts, the inversion is one subtraction),
    * overflow-checked like ANSI bigint arithmetic, so the oracle's
    * recursive-CTE twin replays it exactly. Round 1 always runs, as in
    * q121.
    */
  def shortestTiePaths(edges: DataFrame, maxHops: Int = bfsMaxHops): DataFrame =
    hubWalk(edges, "cost", nullable = true) { (hub, adj) =>
      val maxW1 = Math.addExact(adj.valuesIterator.flatMap(_.valuesIterator).max, 1L)
      relax(adj, hub, maxHops.max(1), 0L, Map.empty)(
        (s, w) => Math.addExact(s, Math.subtractExact(maxW1, w)), _ < _)
    }.sortWithinPartitions(asc("cost"), asc("entity_id"))

  val kCoreMaxK = 16

  /** q118 — K-CORE DECOMPOSITION: each vertex's core number (the
    * largest k for which it survives in the k-core, the subgraph where
    * every vertex keeps degree ≥ k), the standard graph-density
    * peeling that separates the tightly-knit center from the periphery
    * — the structural complement to q89/q35's communities (who clusters
    * with whom) and q110's hops (how far): how DEEP each entity sits.
    *
    * Classical peeling as distributed DataFrame rounds (the production
    * peel; [[kCoreExact]] is its one-task twin): for k = 1, 2, … repeatedly drop vertices whose current degree < k
    * (cascading — each peel round is one degree aggregation + two
    * anti-joins, all keyed on the vertex); vertices peeled while
    * testing k have core number k−1. Rounds are lineage-cut with eager
    * localCheckpoints; the loop exits when the graph empties or k
    * passes `maxK` (survivors report core = maxK, the documented cap —
    * a denser graph saturates rather than looping unboundedly). Like
    * q33/q34 the iteration runs on the lexicon-bounded aggregated
    * graph; only the upstream edge aggregation scales with corpus.
    *
    * An iterative nested fixpoint has no SQL oracle → rows-only;
    * GraphOpsSpec pins hand-computed core numbers (triangle+tail,
    * 4-clique) and the k-core defining property on the real graph.
    */
  def kCoreNumbers(edges: DataFrame, maxK: Int = kCoreMaxK): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.toDF("src", "dst", "weight")
    var g = e.select(col("src").as("a"), col("dst").as("b"))
      .union(e.select(col("dst"), col("src")))
      .distinct().localCheckpoint(true)
    // the vertex set is tracked EXPLICITLY: a vertex whose last edge
    // disappears in a peel cascade has degree 0 — still < k — but no
    // longer any row in g, so a degree aggregation over g alone would
    // never see it again and it would silently vanish from the output
    // (star-graph center; the review-found drop). Absent-from-g ⇒
    // degree 0 via the left join below.
    var verts = g.select(col("a").as("entity_id")).distinct()
      .localCheckpoint(true)
    var core = Seq.empty[(String, Long)].toDF("entity_id", "core")
    var k = 1L
    while (k <= maxK && !verts.isEmpty) {
      var peeling = true
      while (peeling && !verts.isEmpty) {
        val deg = g.groupBy("a").agg(count(lit(1)).as("n"))
        val low = verts.join(deg, verts("entity_id") === deg("a"), "left_outer")
          .filter(col("n").isNull || col("n") < k)
          .select("entity_id")
          .localCheckpoint(true)
        if (low.isEmpty) peeling = false
        else {
          core = core.union(low.withColumn("core", lit(k - 1)))
            .localCheckpoint(true)
          val rm = low.withColumnRenamed("entity_id", "rm")
          g = g.join(rm, col("a") === col("rm"), "left_anti")
            .join(rm, col("b") === col("rm"), "left_anti")
            .localCheckpoint(true)
          verts = verts.join(rm, col("entity_id") === col("rm"), "left_anti")
            .localCheckpoint(true)
        }
      }
      k += 1
    }
    core
      .union(verts.withColumn("core", lit(maxK.toLong)))
      .orderBy(desc("core"), asc("entity_id"))
  }

  /** q338 fixed-round discipline (the q328 move on the NESTED peel
    * fixpoint): the cascade at each k runs EXACTLY this many
    * simultaneous peel rounds in both engines, so the relation matches
    * by construction; the spec pins that the cap settles the real
    * corpus graph (q338 == q118's run-to-settlement coreness) and the
    * hand fixtures.
    */
  val kCoreCascadeRounds = 8

  /** q338 — EXACT K-CORE DECOMPOSITION, fully oracle-gated (r16
    * verdict task 3): q118's peel with its two data-dependent loops
    * replaced by a FIXED recursion — for k = 1..[[kCoreMaxK]], run
    * exactly [[kCoreCascadeRounds]] simultaneous peel rounds (drop
    * every vertex whose current degree < k, all at once), chaining
    * each k's survivors into the next level; core(v) = the largest k
    * whose peeled subgraph still contains v, 0 for vertices peeled at
    * k = 1. Both engines execute the identical fixed recursion, so
    * the output is rows+schema+hash-comparable regardless of whether
    * the cascade has settled — and the SEMANTIC claim (fixed rounds =
    * true coreness) is what the spec pins against q118's
    * run-to-settlement peel on the corpus graph and the hand fixtures.
    * q118 stays registered as the distributed production path.
    *
    * Scale: the recursion runs on the lexicon-bounded AGGREGATED graph
    * (|V| ≤ lexicon size no matter the corpus volume), so the twin
    * executes it as one [[inOneTask]] kernel over that bounded frame:
    * 128 near-empty distributed rounds would be pure scheduling
    * overhead, and a graph too big for one task is the regime where
    * q118's distributed peel is the right tool anyway. Only the
    * upstream edge aggregation scales with data.
    */
  def kCoreExact(spark: SparkSession, dir: String): DataFrame =
    kCoreExactCore(CooccurrenceGraph.edgeCounts(spark, dir))

  /** Core over any (src, dst, weight) edge frame — fixture seam. */
  private[graft] def kCoreExactCore(edges: DataFrame): DataFrame =
    inOneTask(edges, StructType(Seq(StructField("entity_id", StringType),
        StructField("core", LongType, nullable = false)))) { es =>
      val sym = es.flatMap { case (s, d, _) => Seq((s, d), (d, s)) }.distinct
      val core = mutable.Map(sym.map(_._1 -> 0L): _*)
      var g = sym
      var k = 1
      while (k <= kCoreMaxK && g.nonEmpty) {
        var r = 0
        while (r < kCoreCascadeRounds && g.nonEmpty) {
          val deg = g.groupBy(_._1).view.mapValues(_.size).toMap
          val next = g.filter { case (a, b) =>
            deg.getOrElse(a, 0) >= k && deg.getOrElse(b, 0) >= k }
          // a no-op round fixes the whole remaining cascade at this k
          r = if (next.size == g.size) kCoreCascadeRounds else r + 1
          g = next
        }
        g.foreach(e => core(e._1) = k.toLong)
        k += 1
      }
      core.iterator.map { case (v, c) => Row(v, c) }
    }.sortWithinPartitions(desc("core"), asc("entity_id"))

  val lpaIters = 10

  /** Deterministic WEIGHTED label propagation — community detection,
    * the second of the reference readme's graph aspirations
    * (relation_graph/readme.md:18-19; the reference implements neither).
    * Labels ARE entity names, so the tie-break is a total order a human
    * can replay: each round, every vertex adopts the label with the
    * greatest incident edge-weight sum among its neighbors' labels,
    * ties to the smallest label in UTF-8 byte order. Synchronous
    * rounds + ordered tie-break + fixed iteration count =
    * bit-deterministic output (plain LPA is notoriously
    * run-order-dependent; GraphOpsSpec pins a hand-computed fixture).
    * Output is label-free, like q34: one row per community
    * (community_rep = smallest member, the sorted members, n_members),
    * largest first.
    *
    * `edges` = 3 columns (src, dst, weight), any names, one row per
    * undirected pair — the q95/q31 edge-table shape. Symmetrized here.
    * Scale: q329's [[lpaLabels]] rounds and the grouping run as one
    * [[inOneTask]] kernel over the lexicon-bounded aggregated graph
    * (|V| ≤ lexicon); only the upstream edge-weight aggregation scales
    * with corpus volume.
    */
  def labelPropagation(edges: DataFrame): DataFrame =
    inOneTask(edges, groupSchema("community_rep")) { es => grouped(lpaLabels(es)) }
      .sortWithinPartitions(desc("n_members"), asc("community_rep"))

  val louvainMaxPasses = 5
  val louvainMaxSweeps = 20

  /** Deterministic LOUVAIN community detection — the modularity-
    * OPTIMIZING pass the reference readme claims alongside LPA
    * (relation_graph/readme.md:6,18-19 "Louvain/LPA算法发现人物阵营";
    * the reference implements neither). [[labelPropagation]] optimizes
    * nothing; this climbs exactly the objective [[modularity]] proves
    * oracle-exact (q74), in the same integer arithmetic.
    *
    * Classical sequential Louvain, made bit-deterministic:
    *   - vertices sweep in lexicographic name order;
    *   - a vertex moves only on STRICTLY positive modularity gain,
    *     computed exactly in BigInt on the identity
    *     ΔQ·(2m)²/2 = 2m·(w_ub − w_ua') − k_u·(T_b − T_a + k_u)
    *     (no float ever — ties cannot arise from rounding);
    *   - equal gains break to the candidate community with the
    *     lexicographically smallest representative (min original member
    *     name), the same human-replayable total order LPA uses;
    *   - passes contract communities to supernodes (named by their rep,
    *     so ordering stays deterministic) with self-loops carrying
    *     internal weight, until a pass moves nothing or
    *     [[louvainMaxPasses]] is hit.
    * Every accepted move strictly increases Q and contraction preserves
    * it, so per-pass modularity is NON-DECREASING — property-tested
    * exactly via [[modularityNum]], measurable thanks to q74's integer
    * identity.
    *
    * Scale: like LPA/PageRank the optimization runs on the AGGREGATED
    * co-occurrence graph, which is lexicon-bounded (|V| ≤ lexicon size)
    * no matter the corpus volume — only the upstream edge aggregation
    * scales with data. The sequential climb runs as one [[inOneTask]]
    * kernel over that bounded graph (near-empty partitions would be
    * pure scheduling overhead) — no driver collect, no per-round job
    * scheduling. A graph too big for one task is the regime where
    * sequential Louvain itself stops being meaningful; no community
    * detection here runs distributed ([[labelPropagation]] is a one-task
    * kernel too).
    */
  def louvain(edges: DataFrame): DataFrame =
    inOneTask(edges, StructType(Seq(StructField("entity_id", StringType),
        StructField("community", StringType)))) { es =>
      louvainPasses(es).lastOption.getOrElse(Map.empty)
        .iterator.map { case (v, c) => Row(v, c) }
    }
      .groupBy("community")
      .agg(sort_array(collect_list("entity_id")).as("members"),
        count(lit(1)).as("n_members"))
      // community id IS the rep (min member name) by construction
      .select(col("community").as("community_rep"), col("members"),
        col("n_members"))
      .orderBy(desc("n_members"), asc("community_rep"))

  /** The sequential Louvain climb: membership (entity → community rep)
    * AFTER EACH PASS, so the spec can assert the per-pass modularity
    * monotone. Pure Scala — runs inside one executor task (see
    * [[louvain]]) and directly under ScalaCheck.
    */
  private[graft] def louvainPasses(
      edgeList: Seq[(String, String, Long)],
      maxPasses: Int = louvainMaxPasses,
      maxSweeps: Int = louvainMaxSweeps): Seq[Map[String, String]] = {
    // current contracted graph: node name → (neighbor → weight), plus
    // self-loop weight per node; node names at pass p are community reps
    var adj: Map[String, Map[String, Long]] = {
      val sym = edgeList.filter(e => e._1 != e._2)
        .flatMap { case (s, d, w) => Seq((s, d, w), (d, s, w)) }
      sym.groupBy(_._1).view.mapValues(
        _.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap).toMap
    }
    var self: Map[String, Long] =
      edgeList.filter(e => e._1 == e._2).groupBy(_._1).view
        .mapValues(_.map(_._3).sum).toMap
    var names: Vector[String] =
      (adj.keySet ++ self.keySet).toVector.sorted
    // original entity → current supernode
    var lift: Map[String, String] = names.map(n => n -> n).toMap
    val out = scala.collection.mutable.ArrayBuffer[Map[String, String]]()

    var pass = 0
    var movedInPass = true
    while (pass < maxPasses && movedInPass && names.nonEmpty) {
      val idx = names.zipWithIndex.toMap
      val n = names.size
      val k: Array[BigInt] = Array.tabulate(n) { i =>
        val nm = names(i)
        BigInt(adj.getOrElse(nm, Map.empty).values.sum) +
          2 * BigInt(self.getOrElse(nm, 0L))
      }
      val m2: BigInt = k.sum
      val comm: Array[Int] = Array.tabulate(n)(identity)
      val total: Array[BigInt] = k.clone()
      // community members, for rep maintenance under moves
      val members: Array[scala.collection.mutable.SortedSet[String]] =
        Array.tabulate(n)(i => scala.collection.mutable.SortedSet(names(i)))

      movedInPass = false
      var sweep = 0
      var movedInSweep = true
      while (sweep < maxSweeps && movedInSweep) {
        movedInSweep = false
        for (u <- 0 until n) {
          val nm = names(u)
          val a = comm(u)
          val wTo: Map[Int, BigInt] = adj.getOrElse(nm, Map.empty)
            .groupBy { case (v, _) => comm(idx(v)) }
            .view.mapValues(m => BigInt(m.values.sum)).toMap
          val wUa = wTo.getOrElse(a, BigInt(0))
          // strict-gain candidates among neighbor communities
          val cands = wTo.keysIterator.filter(_ != a).flatMap { b =>
            val g = m2 * (wTo(b) - wUa) - k(u) * (total(b) - total(a) + k(u))
            if (g > 0) Some((b, g)) else None
          }.toSeq
          if (cands.nonEmpty) {
            val best = cands.minBy { case (b, g) => (-g, members(b).head) }._1
            comm(u) = best
            total(a) -= k(u); total(best) += k(u)
            members(a) -= nm; members(best) += nm
            movedInSweep = true
            movedInPass = true
          }
        }
        sweep += 1
      }

      // membership after this pass, in ORIGINAL entity names — recorded
      // only for passes that MOVED something: the terminating no-move
      // pass would re-append an identical map, and the multi-pass spec's
      // "a second pass happened" assertion must mean a second IMPROVING
      // pass, not the convergence check (round-8 review)
      val rep: Map[String, String] =
        names.indices.map(i => names(i) -> members(comm(i)).head).toMap
      lift = lift.view.mapValues(sn => rep(sn)).toMap
      if (movedInPass) out += lift

      if (movedInPass) {
        // contract: supernode per community, self-loops keep internal
        // weight, parallel edges between communities sum
        val newSelf = scala.collection.mutable.Map[String, Long]()
        val newAdj = scala.collection.mutable.Map[String, scala.collection.mutable.Map[String, Long]]()
        for (u <- 0 until n) {
          val ru = rep(names(u))
          newSelf(ru) = newSelf.getOrElse(ru, 0L) + self.getOrElse(names(u), 0L)
          for ((v, w) <- adj.getOrElse(names(u), Map.empty)) {
            val rv = rep(v)
            if (ru == rv) {
              // each internal undirected edge appears twice in adj —
              // halve by counting only the (u < v) orientation
              if (names(u) < v) newSelf(ru) = newSelf.getOrElse(ru, 0L) + w
            } else {
              val row = newAdj.getOrElseUpdate(ru, scala.collection.mutable.Map())
              row(rv) = row.getOrElse(rv, 0L) + w
            }
          }
        }
        adj = newAdj.view.mapValues(_.toMap).toMap
        self = newSelf.toMap
        names = (adj.keySet ++ self.keySet).toVector.sorted
      }
      pass += 1
    }
    // an already-optimal graph (no move ever pays) still has a
    // membership: the identity partition
    if (out.isEmpty && lift.nonEmpty) out += lift
    out.toSeq
  }

  /** q107 — triangle census + local clustering coefficient, the graph
    * metric family PR/CC/communities don't cover (cohesion STRUCTURE:
    * how clique-like each entity's neighborhood is). DataFrame-only —
    * no GraphX: with the canonical a<b edge convention
    * (CooccurrenceGraph sorts per-row entity sets), every triangle
    * a<b<c is enumerated exactly once by the two-hop equi-join
    * (ab)(bc) probed against the closing edge (ac). Clustering =
    * 2·triangles / deg·(deg−1) — one division of exact integers.
    *
    * Scale: the join runs on the AGGREGATED edge table, lexicon-bounded
    * like all the graph family — the corpus-scale work is the upstream
    * edge aggregation. (On an UNBOUNDED graph, triangle enumeration
    * wants the degree-ordered node-iterator so high-degree hubs don't
    * explode the two-hop set; with |V| ≤ lexicon the plain equi-join is
    * already the right plan and Catalyst broadcasts the tiny sides.)
    */
  def triangleCensus(spark: SparkSession, dir: String): DataFrame =
    // lexicon-bounded entry checkpoint (q203 rationale): triangleCore
    // derives ab/bc/ac/deg from the edge frame five times over
    triangleCore(CooccurrenceGraph.edgeCounts(spark, dir).localCheckpoint(true))

  private[graft] def triangleCore(edges: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst", "weight").select("src", "dst")
    val ab = e.select(col("src").as("a"), col("dst").as("b"))
    val bc = e.select(col("src").as("b2"), col("dst").as("c2"))
    val ac = e.select(col("src").as("a3"), col("dst").as("c3"))
    val tri = ab
      .join(bc, col("b") === col("b2"))
      .join(ac, col("a") === col("a3") && col("c2") === col("c3"))
      .select(col("a"), col("b"), col("c2").as("c"))
    val perEntity = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("entity_id"))
      .groupBy("entity_id").agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(col("src").as("entity_id"))
      .unionAll(e.select(col("dst")))
      .groupBy("entity_id").agg(count(lit(1)).as("degree"))
    deg.join(perEntity, Seq("entity_id"), "left_outer")
      .na.fill(0L, Seq("n_triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          round((col("n_triangles") * 2).cast("double")
            / (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)))
      .select("entity_id", "n_triangles", "degree", "clustering")
      .orderBy(desc("n_triangles"), asc("entity_id"))
  }

  /** Exact modularity NUMERATOR Q·(2m)² = Σ_c (2m·I_c − T_c²) of a
    * partition, BigInt end-to-end — the scalar twin of [[modularity]]
    * for the Louvain monotonicity property (same identity the q74
    * oracle proves in HUGEINT; denominator (2m)² is pass-invariant, so
    * comparing numerators compares Q exactly).
    */
  private[graft] def modularityNum(
      edgeList: Seq[(String, String, Long)],
      membership: Map[String, String]): BigInt = {
    val deg = scala.collection.mutable.Map[String, BigInt]()
    for ((s, d, w) <- edgeList) {
      if (s == d) deg(s) = deg.getOrElse(s, BigInt(0)) + 2 * BigInt(w)
      else {
        deg(s) = deg.getOrElse(s, BigInt(0)) + w
        deg(d) = deg.getOrElse(d, BigInt(0)) + w
      }
    }
    val m2 = deg.values.sum
    val iC = scala.collection.mutable.Map[String, BigInt]()
    for ((s, d, w) <- edgeList if membership(s) == membership(d)) {
      val c = membership(s)
      iC(c) = iC.getOrElse(c, BigInt(0)) + 2 * BigInt(w)
    }
    val tC = deg.groupBy { case (v, _) => membership(v) }
      .view.mapValues(_.values.sum).toMap
    tC.keysIterator.map { c =>
      m2 * iC.getOrElse(c, BigInt(0)) - tC(c) * tC(c)
    }.sum
  }

  /** Newman modularity of a partition, per community, in EXACT integer
    * arithmetic. With 2m = Σ degrees, T_c = Σ_{u∈c} k_u and
    * I_c = 2·Σ internal edge weight, the contribution of community c is
    * I_c/2m − (T_c/2m)² = (2m·I_c − T_c²) / (2m)² — numerator and
    * denominator are exact integers (decimal(38,0) here, HUGEINT in
    * the oracle twin — 64 bits would overflow the quadratic terms once
    * 2m passes ~3·10⁹, well inside corpus scale), so the only float op
    * is one final division of exact integers (deterministic in IEEE,
    * identically on both engines), unlike the usual floating
    * accumulation which is order-dependent. This is what makes a metric ON TOP OF an
    * iterative graph algorithm oracle-checkable at all (q74; the CC
    * partition is itself exactly SQL-reproducible).
    *
    * `edges`: one row per undirected pair (src, dst, weight);
    * `membership`: (entity_id, community). All shuffles are on entity
    * or community keys; the single-row 2m frame is broadcast.
    */
  def modularity(edges: DataFrame, membership: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst", "weight")
    val memb = membership.toDF("entity_id", "community")
    val deg = e.select(col("src").as("entity_id"), col("weight"))
      .unionAll(e.select(col("dst"), col("weight")))
      .groupBy("entity_id").agg(sum("weight").as("k"))
    val m2 = deg.agg(sum("k").as("m2")) // = 2m, one row
    // membership drives the rollup (left join): a zero-degree member —
    // legal in the generic contract, a vertex with no incident edge —
    // must still count in n_members and contribute k = 0, not vanish
    val tot = memb.join(deg, Seq("entity_id"), "left_outer")
      .na.fill(0L, Seq("k"))
      .groupBy("community")
      .agg(sum("k").as("t_c"), count(lit(1)).as("n_members"))
    val internal = e
      .join(memb.select(col("entity_id").as("src"), col("community").as("cs")), "src")
      .join(memb.select(col("entity_id").as("dst"), col("community").as("cd")), "dst")
      .filter(col("cs") === col("cd"))
      .groupBy(col("cs").as("community"))
      .agg((sum("weight") * 2).as("i_c"))
    // the quadratic terms leave 64 bits long before the corpus does:
    // weights are corpus-scale co-occurrence counts, so at the design
    // point 2m can pass 3·10⁹ and m2², t_c², m2·i_c overflow Long
    // (ANSI throw, or an out-of-range oracle). decimal(38,0) carries
    // the products exactly to 2m ≈ 10¹⁹ (the oracle twin computes in
    // HUGEINT); the one float op stays a single division of exact
    // integers.
    // q_num is EMITTED as double (exact below 2^53, correctly-rounded
    // from the exact decimal beyond — and identically so in the oracle
    // twin): DECIMAL result columns are banned by the repo's oracle
    // type audit (DuckDB DECIMAL → pandas float64 re-hydration is the
    // round-5 hash-trap class, OracleTypeSpec)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    tot.join(internal, Seq("community"), "left_outer")
      .na.fill(0L, Seq("i_c"))
      .crossJoin(broadcast(m2))
      .withColumn("q_num",
        (col("m2").cast(d38) * col("i_c") - col("t_c").cast(d38) * col("t_c"))
          .cast("double"))
      .withColumn("q_contrib",
        round(col("q_num")
          / (col("m2").cast(d38) * col("m2")).cast("double"), 6))
      .select("community", "n_members", "t_c", "i_c", "m2", "q_num", "q_contrib")
      .orderBy("community")
  }

  /** q74 — modularity of the connected-component partition of the
    * co-occurrence graph (community id = min member name, matching
    * q34's label-free convention so the oracle can reproduce it). q337's
    * shape: the [[components]] kernel's membership feeds [[modularity]].
    */
  def componentModularity(spark: SparkSession, dir: String): DataFrame =
    componentModularityCore(CooccurrenceGraph.edgeCounts(spark, dir).localCheckpoint(true))

  /** Core over any (src, dst, weight) edge frame — fixture seam. */
  private[graft] def componentModularityCore(edges: DataFrame): DataFrame =
    modularity(edges,
      inOneTask(edges, vertexSchema(edges, "community", StringType, nullable = true)) { es =>
        components(es).iterator.map { case (v, c) => Row(v, c) }
      })

  /** q154 — NEIGHBOR-OVERLAP structural similarity: for every entity
    * pair with at least one common neighbor, the Jaccard similarity of
    * their neighbor SETS — the structural-equivalence score under
    * common-neighbor link prediction and role discovery (two entities
    * can be "structurally twins" without ever co-occurring). Pure
    * DataFrame relational algebra, no GraphX: common neighbors are
    * length-2 paths through the symmetrized adjacency (one self-join on
    * the midpoint), degrees one hash agg, |A∪B| by inclusion-exclusion.
    * At 100 TB the join volume is Σ_z deg(z)² over the aggregated
    * lexicon-bounded graph — and `maxMidpointDeg` ENFORCES the standard
    * bound on unbounded graphs: midpoints whose degree exceeds the cap
    * are dropped before the self-join (exactly the df cap q52 applies
    * to shingles), so one super-hub can never quadratically dominate.
    * A dropped hub undercounts n_common for pairs whose only common
    * neighbors are hubs — the standard approximation; pick the cap
    * above the densest legitimate entity. Degree tables join without a
    * broadcast hint: they are vocabulary-sized, so AQE broadcasts them
    * when (and only when) they actually fit.
    *
    * jaccard_ppm = ⌊n_common·10⁶ / |A∪B|⌋ is an exact BIGINT — both
    * engines compute one integer division of exact integers, the same
    * float-free cross-engine contract q153 uses (round(double, 6) can
    * differ by 1 ulp between Spark's BigDecimal HALF_UP and DuckDB's
    * float path on near-halfway quotients).
    */
  def neighborOverlap(edges: DataFrame, maxMidpointDeg: Long = 1000000L): DataFrame = {
    val sym = edges.select(col("src").as("a"), col("dst").as("b"))
      .union(edges.select(col("dst"), col("src")))
    val deg = sym.groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
    // x.b IS the midpoint (join key forces y.a = x.b), so capping the
    // x side alone caps the pair enumeration
    val okMid = deg.filter(col("deg") <= maxMidpointDeg)
      .select(col("v").as("b"))
    val capped = sym.join(okMid, Seq("b"), "left_semi")
    val cn = capped.as("x").join(sym.as("y"),
        col("x.b") === col("y.a") && col("x.a") < col("y.b"))
      .groupBy(col("x.a").as("src"), col("y.b").as("dst"))
      .agg(count(lit(1)).as("n_common"))
    val linked = edges.select("src", "dst").withColumn("is_linked", lit(true))
    cn
      .join(deg.select(col("v").as("src"), col("deg").as("deg_src")), "src")
      .join(deg.select(col("v").as("dst"), col("deg").as("deg_dst")), "dst")
      .join(linked, Seq("src", "dst"), "left_outer")
      .withColumn("is_linked", coalesce(col("is_linked"), lit(false)))
      .withColumn("jaccard_ppm", expr(
        "n_common * 1000000L div (deg_src + deg_dst - n_common)"))
      .select("src", "dst", "n_common", "deg_src", "deg_dst", "is_linked",
        "jaccard_ppm")
      .orderBy(desc("jaccard_ppm"), asc("src"), asc("dst"))
  }

  type Q = (SparkSession, String) => DataFrame

  /** q203 walk length (steps beyond the start node). */
  private[graft] val walkLen = 4

  /** q203 — DETERMINISTIC RANDOM WALKS (node2vec/DeepWalk corpus
    * generation): one L-step walk per node over the symmetrized
    * weighted co-occurrence graph, the sampling pass that turns a graph
    * into sequence training data for embedding models. The "random"
    * choice is a pure hash — neighbor index = md5(walk_id, step, node)
    * mod degree over a deterministically ranked adjacency (weight desc,
    * name asc) — so walks are reproducible across engines and restarts
    * (a resumable 100 TB sampling job needs exactly this: re-running a
    * failed partition regenerates identical walks, and the oracle can
    * replay every step).
    *
    * Scale: the ranked adjacency + degree tables are built ONCE (one
    * window per src partition, graph-sized); each step is TWO
    * equi-joins at walk-count grain (walk ⋈ degree on node to compute
    * the pick, walk ⋈ adjacency on (node, pos) — never a fan-out to
    * all neighbors). L steps = 2L hash joins, all partitioned on the
    * node key; no driver-side state, no RDDs.
    *
    * The walk frame accumulates COLUMNAR — one row per walk carrying
    * the growing node array — and the (walk_id, step, node) rows come
    * from one posexplode at the end. The round-10 shape unioned L
    * per-step frames instead, and because step i's plan contains steps
    * 1..i-1, the union replayed O(L²) joins where the single columnar
    * lineage pays exactly 2L (round-11; also what lets q221 window
    * over the array with no self-join and no walk replay).
    */
  def randomWalks(edgeCounts: DataFrame, len: Int = walkLen): DataFrame =
    walkSequences(edgeCounts, len)
      .select(col("walk_id"), posexplode(col("seq")).as(Seq("step", "node")))
      .orderBy("walk_id", "step")

  /** One row per walk: (walk_id, seq array<string> of len+1 nodes) —
    * the columnar walk accumulator behind q203/q221 (scaladoc above).
    */
  private[graft] def walkSequences(edgeCounts: DataFrame,
                                   len: Int = walkLen): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = edgeCounts.select(col("src"), col("dst"), col("weight"))
      .unionAll(edgeCounts.select(col("dst").as("src"),
        col("src").as("dst"), col("weight")))
    val adj = sym.select(col("src"), col("dst"),
      (row_number().over(
        Window.partitionBy("src").orderBy(desc("weight"), asc("dst")))
        .cast("long") - 1).as("pos"))
    // per-use renames: walks descend FROM adj after step 1, so joining
    // back against adj/deg is a self-join lineage — unambiguous column
    // names sidestep the analyzer's ambiguity failure
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("d_src"), col("deg"))
    val hop = adj.select(col("src").as("a_src"), col("dst").as("a_dst"),
      col("pos").as("a_pos"))
    var cur = deg.select(col("d_src").as("walk_id"),
      array(col("d_src")).as("seq"), col("d_src").as("node"))
    for (i <- 1 to len) {
      val pick = cur.join(deg, col("node") === col("d_src"))
        .withColumn("h",
          conv(substring(md5(concat_ws(":", col("walk_id"), lit(i),
            col("node")).cast("binary")), 1, 8), 16, 10).cast("long"))
        .select(col("walk_id"), col("seq"), col("node"),
          pmod(col("h"), col("deg")).as("ppos"))
      cur = pick.join(hop,
          col("node") === col("a_src") && col("ppos") === col("a_pos"))
        .select(col("walk_id"),
          concat(col("seq"), array(col("a_dst"))).as("seq"),
          col("a_dst").as("node"))
    }
    cur.select("walk_id", "seq")
  }

  val queries: Map[String, Q] = Map(
    "q203_random_walks" -> ((s, d) =>
      // same lexicon-bounded checkpoint rationale as skipgramPairs
      randomWalks(CooccurrenceGraph.edgeCounts(s, d).localCheckpoint(true))),
    "q154_neighbor_overlap" -> ((s, d) =>
      // lexicon-bounded checkpoint (q203 rationale): neighborOverlap
      // derives sym/deg/linked from the edge frame seven times over
      neighborOverlap(CooccurrenceGraph.edgeCounts(s, d).localCheckpoint(true))),
    "q33_pagerank" -> (pagerank(_, _)),
    // the oracle-gated exact-integer twins of q33/q35/q281 (r16)
    "q328_pagerank_exact" -> (pagerankExact(_, _)),
    "q329_lpa_exact" -> (lpaExact(_, _)),
    "q335_hits_exact" -> (hitsExact(_, _)),
    "q337_lpa_modularity" -> (lpaModularity(_, _)),
    "q338_kcore_exact" -> (kCoreExact(_, _)),
    // rows-only like q33: iterative float fixpoint; value-pinned in
    // GraphOpsSpec against an independent plain-Scala replica
    "q281_hits_bipartite" -> (hitsBipartite(_, _)),
    "q110_bfs_hops" -> ((s, d) => bfsHops(CooccurrenceGraph.edgeCounts(s, d))),
    // rows-only like q35: iterative peeling has no SQL oracle; the
    // defining property and fixtures are spec-pinned, and the full
    // decomposition is value-pinned (r13 verdict task 6) against an
    // independent plain-Scala peel replica on the corpus graph
    // (GraphOpsSpec — the q35/q89 replica discipline)
    // q118 measured FLAT under the q203-style entry checkpoint (r18
    // A/B: 2.84 vs 2.80 s warm — the peel loop's own barriers dominate,
    // and the core's first localCheckpoint already bounds the
    // re-extraction to the one union) — left on the simpler form
    "q118_kcore" -> ((s, d) => kCoreNumbers(CooccurrenceGraph.edgeCounts(s, d))),
    "q121_widest_paths" -> ((s, d) => widestPaths(CooccurrenceGraph.edgeCounts(s, d))),
    "q147_shortest_tie_paths" -> ((s, d) => shortestTiePaths(CooccurrenceGraph.edgeCounts(s, d))),
    "q107_triangle_census" -> (triangleCensus(_, _)),
    "q74_component_modularity" -> (componentModularity(_, _)),
    // modularity OF the LPA communities (composition of the two graph
    // ops) over the real fanren relation graph; rows-only like q35 —
    // the partition is an iterative fixpoint, but the metric arithmetic
    // itself is oracle-proven by q74 and fixture-pinned in GraphOpsSpec.
    "q75_community_modularity" -> ((s, _) => {
      // `edges` feeds both LPA and the modularity joins. The aggregated
      // table is lexicon-bounded (≤153 rows), so one eager
      // localCheckpoint pays the corpus extraction ONCE and detaches
      // both consumers from the scan. Round-11 re-measurement
      // (TimeQueries, loadavg 0.0, 3 reps): checkpointed 3.4-3.9 s warm
      // vs 5.5 s with the double extraction — the round-9 numbers that
      // said sharing was slower (cache 20 s / checkpoint 14 s) did not
      // reproduce on an idle host and are superseded.
      val edges = Fidelity.edgesAgg(Fidelity.entityRows(
        s, RefData.fanRenGlob, graft.expr.RefLexicons.fanRen))
        .localCheckpoint(true)
      val memb = labelPropagation(edges)
        .select(explode(col("members")).as("entity_id"),
          col("community_rep").as("community"))
      modularity(edges, memb)
    }),
    // communities over the reference's real relation graph (the q95
    // fanren edge table); members serialized for the driver like q34.
    // Rows-only: an iterative fixpoint has no SQL oracle — the label
    // dynamics are value-pinned (r13) against an independent
    // plain-Scala synchronous replica on the corpus graph (the q33
    // PageRank discipline) plus the hand-computable fixture, in
    // GraphOpsSpec.
    "q35_label_propagation" -> ((s, _) =>
      labelPropagation(Fidelity.edgesAgg(
        Fidelity.entityRows(s, RefData.fanRenGlob, graft.expr.RefLexicons.fanRen)))
        .withColumn("members", array_join(col("members"), ","))),
    // Louvain over the same relation graph — the readme's other claimed
    // community algorithm. Rows-only like q35 (an optimization fixpoint
    // has no SQL oracle); the climb's objective is the q74-oracle-proven
    // integer modularity, its ΔQ identity is value-pinned (r13) against
    // a brute-force global-recompute replica of the pass-1 sweep on the
    // corpus graph, and GraphOpsSpec additionally pins a hand-computed
    // fixture plus exact per-pass monotonicity.
    "q89_louvain_communities" -> ((s, _) =>
      louvain(Fidelity.edgesAgg(
        Fidelity.entityRows(s, RefData.fanRenGlob, graft.expr.RefLexicons.fanRen)))
        .withColumn("members", array_join(col("members"), ","))),
    // members serialized for the driver (pandas can't hash numpy arrays,
    // CORRECTNESS_r02); library API keeps the native array<string>.
    "q34_connected_components" -> ((s, d) =>
      connectedComponents(s, d).withColumn("members", array_join(col("members"), ","))),
    "q209_cc_dataframe" -> ((s, d) =>
      ccDataFrame(s, d).withColumn("members", array_join(col("members"), ","))),
    // rows-only by design: a matroid-greedy fixpoint has no SQL oracle;
    // GraphOpsSpec pins corpus equality vs an in-JVM Prim plus a fixture
    "q215_max_spanning_forest" -> (maxSpanningForest(_, _)),
    "q221_skipgram_pairs" -> (skipgramPairs(_, _)))

  /** Iteration cap for q209's star alternation. Large-star/small-star
    * provably converges in O(log² n) rounds (and O(log n) in practice);
    * on the lexicon-bounded graph the observed fixpoint is ≤ 5 rounds.
    * The cap is a runaway backstop, not a tuning knob — hitting it
    * would mean the fixpoint test itself is broken.
    */
  private val ccMaxRounds = 30

  /** q209 — CONNECTED COMPONENTS WITHOUT GraphX: the alternating
    * large-star/small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) expressed purely
    * in DataFrame operators — the same result contract and the same
    * recursive-CTE oracle as q34, computed by a second, independent
    * algorithm with no RDD/GraphX boundary at all.
    *
    * Why it earns a slot next to q34: q34's union-find runs in one
    * task and is sound only on a lexicon-bounded graph, while every
    * step here is two hash aggregates and an equi-join on the node key
    * — whole-stage-codegen'd, AQE-planned, and shuffle-partitioned like
    * any other query. At 100 TB-scale
    * graphs (the aggregated edge set here is lexicon-bounded, but the
    * same operator runs unchanged on a billion-edge identity graph)
    * the star steps keep every round a bounded number of node-keyed
    * shuffles, converge in O(log² n) rounds, and never materialize a
    * neighborhood cross product — each round's output is ≤ one edge
    * per (node, min-reachable-label) pair, monotonically collapsing
    * toward the star fixpoint.
    *
    * Mechanics per round (labels are the entity strings themselves,
    * min = lexicographic — identical in DuckDB, proven by q34):
    *  - large-star: every node attaches its strictly-LARGER neighbors
    *    to m(u) = min(N(u) ∪ {u}) — long chains halve toward the min;
    *  - small-star: every node attaches its smaller-or-equal neighbors
    *    and itself to m(u) — stars flatten to depth 1.
    * The fixpoint test is the Integrity fingerprint discipline: the
    * canonical pair set is unchanged iff (count, XOR of pair hashes)
    * is unchanged — one tiny action per round over the checkpointed
    * (lineage-cut) edge frame.
    */
  def ccDataFrame(spark: SparkSession, dir: String): DataFrame =
    ccStarCore(CooccurrenceGraph.edgeCounts(spark, dir)
      .select(col("src").as("a"), col("dst").as("b")))

  /** The star alternation over an arbitrary (a, b) string-pair edge
    * frame — fixture seam for the spec.
    */
  private[graft] def ccStarCore(raw: DataFrame): DataFrame = {
    val lbl = starLabels(raw)
    val out = lbl
      .groupBy("rep")
      .agg(sort_array(collect_list("u")).as("members"),
        count(lit(1)).as("n_members"))
      .select(col("members")(0).as("component_rep"), col("members"),
        col("n_members"))
      .orderBy(desc("n_members"), asc("component_rep"))
      .localCheckpoint(true)
    lbl.unpersist(blocking = false)
    out
  }

  /** The star-alternation fixpoint itself, exposed as a (node, rep)
    * label map — q209's engine and q215's contraction subroutine.
    */
  private[graft] def starLabels(raw: DataFrame): DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()

    def sym(e: DataFrame): DataFrame =
      e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))

    // min(N(u) ∪ {u}) per node — one hash aggregate on the node key
    def mins(s: DataFrame): DataFrame =
      s.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))

    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      canon(s.join(mins(s), "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b")))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      canon(s.join(mins(s), "u")
        .filter(col("v") <= col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .unionAll(s.select(col("u")).distinct()
          .join(mins(s), "u")
          .select(col("u").as("a"), col("m").as("b"))))
    }

    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var pairs = canon(raw).localCheckpoint(true)
    var s = sig(pairs)
    var converged = false
    var round = 0
    while (!converged && round < ccMaxRounds) {
      val next = smallStar(largeStar(pairs)).localCheckpoint(true)
      val s2 = sig(next)
      // the (count, XOR) fingerprint is a screen, not a proof — XOR of
      // hashes is a weak set digest (changed pairs can cancel), and a
      // collision here would end iteration early with wrong components.
      // So when the fingerprint reports convergence, confirm once with
      // the exact set check: counts already match, so next ⊆ pairs ⇒
      // next = pairs (both frames are distinct canonical pair sets).
      // One extra join on the final round only (round-11 ADVICE fix).
      converged = s2 == s && next.exceptAll(pairs).isEmpty
      pairs.unpersist(blocking = false)
      pairs = next
      s = s2
      round += 1
    }

    // at the star fixpoint min(N(u) ∪ {u}) IS the component rep
    val lbl = mins(sym(pairs))
      .select(col("u"), col("m").as("rep"))
      .localCheckpoint(true)
    pairs.unpersist(blocking = false)
    lbl
  }

  /** q221 skip-gram context radius (positions within ±W pair up). */
  private[graft] val skipgramWindow = 2

  /** q221 — SKIP-GRAM PAIR CORPUS from the q203 walks: the
    * (center, context) co-occurrence table word2vec/node2vec training
    * actually consumes — q203 generates the walk sequences; this is
    * the windowing pass that turns sequences into weighted training
    * pairs (DeepWalk §4.2's mapping of walks onto the skip-gram
    * objective). Each position pairs with every other position within
    * ±W on the SAME walk, directional (center→context), aggregated to
    * pair counts.
    *
    * Deterministic end to end: the walks are pure-hash (q203), the
    * window is positional, the counts are BIGINT — so unlike most
    * embedding tooling this corpus is bit-reproducible across engines,
    * restarts and cluster layouts, and the oracle re-derives every
    * pair from the replayed walks.
    *
    * Scale: the windowing is a double posexplode WITHIN each walk's
    * node array ([[walkSequences]]) — fan-out is a constant
    * (len+1)² ≤ 25 per walk filtered to |i−j| ≤ W, never data×data,
    * no self-join, no shuffle before the final pair aggregation. The
    * round-10 shape self-joined a replayed walk-row table and eagerly
    * checkpointed the replay (BENCH_r10 flagged it `weak`: walk
    * generation was paid twice plus a materialization job); the array
    * windowing consumes the single columnar walk lineage directly.
    * One hash aggregate on the bounded (center, context) pair domain.
    */
  def skipgramPairs(spark: SparkSession, dir: String): DataFrame =
    // lexicon-bounded edge table checkpointed once (the q75/q337
    // discipline): walkSequences' sym union and the 2L walk joins would
    // otherwise each re-run the corpus extraction (r18 StageProbe: two
    // parallel ~0.6 s extraction stages per query) and drag the full
    // extraction lineage through Catalyst for every step join
    pairsFromSeqs(walkSequences(
      CooccurrenceGraph.edgeCounts(spark, dir).localCheckpoint(true)))

  /** Fixture seam over (walk_id, step, node) rows — reassembles the
    * per-walk arrays (step-ordered), then windows like the corpus path.
    */
  private[graft] def skipgramCore(walks: DataFrame): DataFrame =
    pairsFromSeqs(walks.groupBy("walk_id")
      .agg(expr("transform(sort_array(collect_list(struct(step, node))), x -> x.node)")
        .as("seq")))

  private def pairsFromSeqs(seqs: DataFrame): DataFrame =
    seqs
      .select(col("seq"), posexplode(col("seq")).as(Seq("i", "center")))
      .select(col("i"), col("center"), posexplode(col("seq")).as(Seq("j", "context")))
      .filter(col("i") =!= col("j") &&
        abs(col("i") - col("j")) <= skipgramWindow)
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("center", "context")

  /** Round cap for q215's Borůvka loop: components at least halve per
    * round, so log₂|V| rounds suffice; 20 covers a million-node graph
    * with margin. Backstop, not a knob (the q209 stance). Shared with
    * the oracle (r17): the CTE replay runs exactly this many rounds
    * (post-convergence rounds are empty no-ops), so engine and oracle
    * agree even in the capped regime.
    */
  private[graft] val mstMaxRounds = 20

  /** q215 — MAXIMUM SPANNING FOREST (graph backbone) via Borůvka: per
    * round every component picks its heaviest outgoing edge (ties
    * broken by the total order weight DESC, src ASC, dst ASC — which
    * makes the optimum forest UNIQUE, hence deterministic
    * cross-engine), the picked edges join the forest, and the touched
    * components contract through the q209 star-alternation label map.
    * The backbone is the standard relation-graph summarization — the
    * reference's relation_graph/readme.md:18-19 visualizes exactly
    * this kind of strongest-ties skeleton — and Borůvka is THE
    * spanning-tree algorithm that parallelizes: all components choose
    * simultaneously, so the loop runs O(log |V|) rounds of plain
    * hash-join + window, no priority queue, no sequential frontier
    * (Prim/Kruskal are inherently serial in the edge order).
    *
    * Scale: corpus-sized work is only the edge aggregation feeding it;
    * each round is two label joins (node key), one per-component
    * window over candidate edges (component-bounded), and a
    * contraction over the picked-edge graph (≤ one edge per
    * component). Components at least halve per round. Lineage is cut
    * per round (localCheckpoint, the q35 discipline).
    *
    * FULLY ORACLE-GATED since r17 (the rows-only classification was
    * too pessimistic — r16 verdict task 5): the tie-broken total order
    * makes the optimum forest UNIQUE, every quantity is an exact
    * integer or string, and the round structure replays in DuckDB as
    * [[mstMaxRounds]] fixed Borůvka rounds — per round one
    * cross-component join, one per-component window nomination, and
    * one RECURSIVE-CTE closure over the picked component-edges (the
    * contraction starLabels computes engine-side; min-label in both).
    * Post-convergence rounds are empty no-ops, so the fixed-round
    * replay equals the engine's early-exit loop by construction.
    * GraphOpsSpec additionally pins the result against an independent
    * in-JVM Prim's algorithm on the full corpus edge set plus a
    * hand-computed fixture.
    */
  def maxSpanningForest(spark: SparkSession, dir: String): DataFrame =
    boruvkaCore(spark, CooccurrenceGraph.edgeCounts(spark, dir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        col("weight")))

  private[graft] def boruvkaCore(spark: SparkSession, raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var edges = raw.groupBy("a", "b").agg(max("weight").as("weight"))
      .filter(col("a") =!= col("b"))
      .localCheckpoint(true)
    var comp = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .distinct()
      .withColumn("comp", col("node"))
      .localCheckpoint(true)
    // picked-edge batches accumulate here and union ONCE at the end:
    // each `best` below is already checkpointed, so the per-round
    // `mst = mst.unionAll(...).localCheckpoint(true)` this replaces was
    // a pure materialization job per round with no lineage to cut
    // (round-11 bench fix — the loop's cost is Spark JOB scheduling on
    // a lexicon-bounded frame, not data). `best` is per-component
    // unique within a round and rounds only merge components, so the
    // only cross-batch repeat is both endpoints of one edge picking it
    // in the SAME round — the final distinct() handles it.
    val picked = scala.collection.mutable.ListBuffer.empty[DataFrame]
    // every intermediate this loop checkpoints, released before return
    // (the q35 discipline; leaked blocks made repeated invocations pay
    // growing storage in the round-10 driver sweep)
    val retired = scala.collection.mutable.ListBuffer.empty[DataFrame]
    retired += edges
    var round = 0
    var done = false
    while (!done && round < mstMaxRounds) {
      val ca = comp.select(col("node").as("a"), col("comp").as("comp_a"))
      val cb = comp.select(col("node").as("b"), col("comp").as("comp_b"))
      val cross = edges.join(ca, "a").join(cb, "b")
        .filter(col("comp_a") =!= col("comp_b"))
        .localCheckpoint(true)
      retired += cross
      if (cross.isEmpty) done = true
      else {
        // every touched component nominates its best edge; the picked
        // set is cycle-free because the tie-broken order is total (the
        // only possible repeat is both endpoints picking the SAME edge)
        val cand = cross.select(col("comp_a").as("c"), col("a"), col("b"),
            col("weight"), col("comp_a"), col("comp_b"))
          .unionAll(cross.select(col("comp_b").as("c"), col("a"), col("b"),
            col("weight"), col("comp_a"), col("comp_b")))
        val w = Window.partitionBy("c")
          .orderBy(desc("weight"), asc("a"), asc("b"))
        val best = cand.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .localCheckpoint(true)
        retired += best
        picked += best.select(col("a").as("src"), col("b").as("dst"),
          col("weight"))
        // contract touched components through the star label map
        val relbl = starLabels(
          best.select(col("comp_a").as("a"), col("comp_b").as("b")))
        retired += relbl
        retired += comp
        comp = comp.join(relbl, comp("comp") === relbl("u"), "left")
          .select(col("node"), coalesce(col("rep"), col("comp")).as("comp"))
          .localCheckpoint(true)
        // geometric edge shrink, FREE (round-11 synth-bench fix): an
        // edge internal to a component now is internal forever
        // (components only merge), so next round's candidate set is
        // exactly this round's cross-component survivors — already
        // checkpointed; selecting three columns of `cross` costs
        // nothing. On the corpus-grain graph this is a no-op; on the
        // million-edge synthetic graphs it cut Borůvka's per-round join
        // input geometrically (the giant component swallows most edges
        // within a few rounds).
        edges = cross.select("a", "b", "weight")
      }
      round += 1
    }
    retired += comp
    val mst = picked.reduceOption(_ unionAll _) match {
      case Some(all) => all.distinct()
        .orderBy(desc("weight"), asc("src"), asc("dst"))
        .localCheckpoint(true)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("src",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("dst",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("weight",
            org.apache.spark.sql.types.LongType))))
    }
    retired.foreach(_.unpersist(blocking = false))
    mst
  }

  /** q34 is oracle-able: the output is label-free
    * (component_rep = min member, not an internal id), so a DuckDB
    * recursive-CTE reachability closure over the same symmetrized edge
    * set reproduces it exactly — strings and integers only, no float
    * drift possible. q33's fixed-point doubles stay rows-only (the
    * power-iteration sums are order-dependent in IEEE; invariants
    * Σ rank = |V| and weight-monotone ranking pinned in GraphOpsSpec).
    */
  /** The label-free component closure both q34 (one-task union-find) and q209
    * (DataFrame star alternation) must reproduce: recursive-CTE
    * reachability over the same symmetrized edge set, rep = min member.
    */
  private val ccClosureOracle: String =
    CooccurrenceGraph.entsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, e AS (
           SELECT a.w AS src, b.w AS dst
           FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.w < b.w
           GROUP BY 1, 2
         ), sym AS (
           SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e
         ), vs AS (SELECT DISTINCT a AS w FROM sym),
         reach AS (
           SELECT w AS a, w AS b FROM vs
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
         ), comp AS (
           SELECT a AS w, min(b) AS rep FROM reach GROUP BY 1
         ), grp AS (
           SELECT rep, list_sort(list(w)) AS ms, count(*) AS n_members
           FROM comp GROUP BY 1
         )
         SELECT ms[1] AS component_rep, array_to_string(ms, ',') AS members,
           n_members
         FROM grp ORDER BY n_members DESC, component_rep"""

  /** The q203 walk replay, CTE-prefix form: ranked adjacency, degree
    * table, and one chained CTE per step — shared by the q203 and q221
    * oracles so the walk corpus can never drift between them.
    */
  private val walksCtePrefix: String =
    CooccurrenceGraph.entsCte +
      """, e AS (
           SELECT a.w AS src, b.w AS dst, count(*)::BIGINT AS weight
           FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.w < b.w
           GROUP BY 1, 2
         ), sym AS (
           SELECT src, dst, weight FROM e
           UNION ALL SELECT dst, src, weight FROM e
         ), adj AS (
           SELECT src, dst, row_number() OVER (PARTITION BY src
             ORDER BY weight DESC, dst) - 1 AS pos
           FROM sym
         ), dg AS (
           SELECT src, count(*)::BIGINT AS deg FROM adj GROUP BY 1
         ), s0 AS (
           SELECT src AS walk_id, src AS node FROM dg
         )""" +
      (1 to walkLen).map(i =>
        s""", s$i AS (
           SELECT w.walk_id, a.dst AS node
           FROM s${i - 1} w
           JOIN dg d ON w.node = d.src
           JOIN adj a ON a.src = w.node AND a.pos =
             ('0x' || substr(md5(w.walk_id || ':$i:' || w.node), 1, 8)
             )::BIGINT % d.deg
         )""").mkString

  /** Shared oracle preface for the exact graph fixpoints: the q31 edge
    * derivation, symmetrized, with per-source out-weights.
    */
  /** q329/q337 shared LPA round chain (one CTE per synchronous round;
    * each round references the previous label frame exactly once).
    */
  private def lpaRoundsCtes: String =
    (1 to lpaIters).map { i =>
      s"""l$i AS (
            SELECT entity_id, lbl FROM (
              SELECT s.b AS entity_id, l.lbl,
                row_number() OVER (PARTITION BY s.b
                  ORDER BY sum(s.weight) DESC, l.lbl) AS rn
              FROM sym s JOIN l${i - 1} l ON l.entity_id = s.a
              GROUP BY s.b, l.lbl) WHERE rn = 1)"""
    }.mkString(",\n")

  private def symGraphCtes: String =
    CooccurrenceGraph.entsCte +
      """, e AS (
           SELECT a.w AS src, b.w AS dst, count(*)::BIGINT AS weight
           FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.w < b.w
           GROUP BY 1, 2),
         sym AS (SELECT src AS a, dst AS b, weight FROM e
                 UNION ALL SELECT dst, src, weight FROM e),
         verts AS (SELECT DISTINCT a AS entity_id FROM sym)"""

  val oracles: Map[String, String] = Map(
    // q328: the identical exact-integer recursion, one CTE round per
    // iteration — HUGEINT products, floor division on the non-negative
    // domain (= Spark's truncating div), damping as two integer ops
    "q328_pagerank_exact" -> {
      val rounds = (1 to pageRankIters).map { i =>
        s"""r$i AS (
              SELECT v.entity_id,
                $prReset + (85 * coalesce(f.inflow, 0)) // 100 AS r
              FROM verts v LEFT JOIN (
                SELECT s.b AS entity_id,
                  sum((r.r::HUGEINT * s.weight) // s.ow) AS inflow
                FROM symw s JOIN r${i - 1} r ON r.entity_id = s.a
                GROUP BY 1) f USING (entity_id))"""
      }.mkString(",\n")
      s"""$symGraphCtes,
          ow AS (SELECT a, sum(weight)::HUGEINT AS ow FROM sym GROUP BY 1),
          symw AS (SELECT s.a, s.b, s.weight, o.ow
                   FROM sym s JOIN ow o USING (a)),
          r0 AS (SELECT entity_id, $prScale::HUGEINT AS r FROM verts),
          $rounds
          SELECT entity_id, r::BIGINT AS rank_mm FROM r$pageRankIters
          ORDER BY rank_mm DESC, entity_id"""
    },
    // q329: the identical synchronous min-label dynamics — per-round
    // (Σ weight DESC, label ASC) argmax as a rank over the grouped sums
    "q329_lpa_exact" ->
      s"""$symGraphCtes,
          l0 AS (SELECT entity_id, entity_id AS lbl FROM verts),
          $lpaRoundsCtes
          SELECT entity_id, lbl AS community FROM l$lpaIters
          ORDER BY entity_id""",
    // q215: fixed-round Borůvka replay (r17 — the "no SQL oracle"
    // claim was wrong): mstMaxRounds rounds, each one cross-component
    // join + one per-component (weight DESC, a, b) window nomination +
    // one recursive-CTE min-label closure over the picked
    // component-edges (= the engine's starLabels contraction).
    // cr/bst/cp are MATERIALIZED (each is referenced 2-3 times
    // downstream; DuckDB 1.0 inlines plain CTEs per reference, which
    // would compound 3^rounds); post-convergence rounds are empty
    // no-ops, so the fixed replay equals the engine's early-exit loop
    "q215_max_spanning_forest" -> {
      val rounds = (1 to mstMaxRounds).map { i =>
        s"""cr$i AS MATERIALIZED (
              SELECT e.a, e.b, e.weight,
                ca.comp AS comp_a, cb.comp AS comp_b
              FROM ed e JOIN cp${i - 1} ca ON e.a = ca.node
                        JOIN cp${i - 1} cb ON e.b = cb.node
              WHERE ca.comp <> cb.comp),
            bst$i AS MATERIALIZED (
              SELECT a, b, weight, comp_a, comp_b FROM (
                SELECT c, a, b, weight, comp_a, comp_b,
                  row_number() OVER (PARTITION BY c
                    ORDER BY weight DESC, a, b) AS rn
                FROM (SELECT comp_a AS c, a, b, weight, comp_a, comp_b
                        FROM cr$i
                      UNION ALL
                      SELECT comp_b, a, b, weight, comp_a, comp_b
                        FROM cr$i))
              WHERE rn = 1),
            sy$i AS (SELECT comp_a AS u, comp_b AS v FROM bst$i
                     UNION SELECT comp_b, comp_a FROM bst$i),
            rc$i AS (
              SELECT u AS a, u AS b FROM (SELECT DISTINCT u FROM sy$i)
              UNION
              SELECT r.a, s.v FROM rc$i r JOIN sy$i s ON r.b = s.u),
            rp$i AS (SELECT a AS comp, min(b) AS rep FROM rc$i GROUP BY 1),
            cp$i AS MATERIALIZED (
              SELECT c.node, coalesce(r.rep, c.comp) AS comp
              FROM cp${i - 1} c LEFT JOIN rp$i r USING (comp))"""
      }.mkString(",\n")
      val forest = (1 to mstMaxRounds)
        .map(i => s"SELECT a, b, weight FROM bst$i").mkString(" UNION ALL ")
      CooccurrenceGraph.entsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""", ed AS MATERIALIZED (
              SELECT a.w AS a, b.w AS b, count(*)::BIGINT AS weight
              FROM ents a JOIN ents b
                ON a.doc_id = b.doc_id AND a.w < b.w
              GROUP BY 1, 2),
            cp0 AS MATERIALIZED (
              SELECT v AS node, v AS comp FROM (
                SELECT a AS v FROM ed UNION SELECT b FROM ed)),
            $rounds
            SELECT DISTINCT a AS src, b AS dst, weight
            FROM ($forest)
            ORDER BY weight DESC, src, dst"""
    },
    // q338: the identical fixed recursion — kCoreMaxK levels ×
    // kCoreCascadeRounds simultaneous peel rounds, each round one
    // two-window degree filter over the previous edge frame (single
    // reference → linear inlining); each level's LAST round is
    // MATERIALIZED because it is referenced twice (the next level's
    // chain + the final survivor union), which would otherwise double
    // the whole prefix per level (DuckDB 1.0 inlines per reference)
    "q338_kcore_exact" -> {
      val levels = (1 to kCoreMaxK).flatMap { k =>
        (1 to kCoreCascadeRounds).map { r =>
          val prev =
            if (r == 1) { if (k == 1) "sym0" else s"c${k - 1}_$kCoreCascadeRounds" }
            else s"c${k}_${r - 1}"
          val mat = if (r == kCoreCascadeRounds) " MATERIALIZED" else ""
          s"""c${k}_$r AS$mat (
                SELECT a, b FROM (
                  SELECT a, b,
                    count(*) OVER (PARTITION BY a) AS da,
                    count(*) OVER (PARTITION BY b) AS db
                  FROM $prev)
                WHERE da >= $k AND db >= $k)"""
        }
      }.mkString(",\n")
      val surv = (1 to kCoreMaxK).map(k =>
        s"SELECT DISTINCT a AS entity_id, $k AS k FROM c${k}_$kCoreCascadeRounds")
        .mkString(" UNION ALL ")
      s"""$symGraphCtes,
          sym0 AS (SELECT a, b FROM sym),
          $levels,
          cores AS (
            SELECT entity_id, max(k)::BIGINT AS core
            FROM ($surv) GROUP BY 1)
          SELECT v.entity_id, coalesce(c.core, 0)::BIGINT AS core
          FROM verts v LEFT JOIN cores c USING (entity_id)
          ORDER BY core DESC, entity_id"""
    },
    // q337: the q329 label chain (MATERIALIZED — memb is referenced
    // three times below, and DuckDB 1.0 inlines plain CTEs per
    // reference) feeding q74's HUGEINT modularity decomposition tail,
    // grouped by the adopted label
    "q337_lpa_modularity" ->
      s"""$symGraphCtes,
          l0 AS (SELECT entity_id, entity_id AS lbl FROM verts),
          $lpaRoundsCtes,
          memb AS MATERIALIZED (
            SELECT entity_id AS w, lbl AS community FROM l$lpaIters),
          deg AS MATERIALIZED (
            SELECT a AS w, sum(weight)::BIGINT AS k FROM sym GROUP BY 1),
          m2t AS (SELECT sum(k)::BIGINT AS m2 FROM deg),
          tot AS (
            SELECT m.community, sum(d.k)::BIGINT AS t_c,
                   count(*)::BIGINT AS n_members
            FROM memb m JOIN deg d USING (w) GROUP BY 1),
          intr AS (
            SELECT ca.community, (2 * sum(e.weight))::BIGINT AS i_c
            FROM e
            JOIN memb ca ON e.src = ca.w
            JOIN memb cb ON e.dst = cb.w
            WHERE ca.community = cb.community GROUP BY 1)
          SELECT t.community, t.n_members, t.t_c,
            coalesce(i.i_c, 0)::BIGINT AS i_c, m.m2,
            (m.m2::HUGEINT * coalesce(i.i_c, 0)
              - t.t_c::HUGEINT * t.t_c)::DOUBLE AS q_num,
            round((m.m2::HUGEINT * coalesce(i.i_c, 0)
                - t.t_c::HUGEINT * t.t_c)::DOUBLE
              / (m.m2::HUGEINT * m.m2)::DOUBLE, 6) AS q_contrib
          FROM tot t
          LEFT JOIN intr i ON t.community = i.community
          CROSS JOIN m2t m
          ORDER BY t.community""",
    // q335: the identical integer power iteration — HUGEINT sums, the
    // same (s·10⁶) // max(s) renormalization per half-step (as an
    // unpartitioned window max, NOT a second CTE reference: DuckDB 1.0
    // inlines non-materialized CTEs per reference, and a separate
    // max-CTE per half-step quadruples the chain per round — 4⁸
    // re-evaluations of the edge scan, measured as an fd explosion),
    // top-10 per role by (score DESC, id)
    "q335_hits_exact" -> {
      val rounds = (1 to hitsIters).map { i =>
        s"""a$i AS (
              SELECT e.dst, sum(h.s)::HUGEINT AS a
              FROM e JOIN h${i - 1} h ON h.src = e.src GROUP BY 1),
            as$i AS (
              SELECT dst, ((a * $hitsScale) // max(a) OVER ())::BIGINT AS a
              FROM a$i),
            hh$i AS (
              SELECT e.src, sum(a.a)::HUGEINT AS s
              FROM e JOIN as$i a ON a.dst = e.dst GROUP BY 1),
            h$i AS (
              SELECT src, ((s * $hitsScale) // max(s) OVER ())::BIGINT AS s
              FROM hh$i)"""
      }.mkString(",\n")
      s"""WITH e AS (
            SELECT DISTINCT o_custkey AS src, l_partkey AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          h0 AS (SELECT DISTINCT src, $hitsScale::BIGINT AS s FROM e),
          $rounds,
          scored AS (
            SELECT 'authority' AS role, dst AS node_id, a AS score_sc
            FROM as$hitsIters
            UNION ALL
            SELECT 'hub', src, s FROM h$hitsIters)
          SELECT role, node_id, score_sc FROM (
            SELECT role, node_id, score_sc,
              row_number() OVER (PARTITION BY role
                ORDER BY score_sc DESC, node_id) AS rk
            FROM scored) WHERE rk <= $hitsTopK
          ORDER BY role, score_sc DESC, node_id"""
    },
    // q203: every step replayed — same ranked adjacency (weight desc,
    // dst asc), same md5-mod-degree pick, chained CTE per step
    "q203_random_walks" ->
      (walksCtePrefix +
        " SELECT walk_id, 0 AS step, node FROM s0" +
        (1 to walkLen).map(i =>
          s" UNION ALL SELECT walk_id, $i, node FROM s$i").mkString +
        " ORDER BY walk_id, step"),
    // q221: q203's walks verbatim, then the same bounded-window
    // self-join per walk — both engines derive the identical corpus
    "q221_skipgram_pairs" ->
      (walksCtePrefix +
        ", walks AS (SELECT walk_id, 0 AS step, node FROM s0" +
        (1 to walkLen).map(i =>
          s" UNION ALL SELECT walk_id, $i, node FROM s$i").mkString +
        s""") SELECT a.node AS center, b.node AS context,
             count(*)::BIGINT AS n_pairs
           FROM walks a JOIN walks b
             ON a.walk_id = b.walk_id AND a.step <> b.step
            AND abs(a.step - b.step) <= $skipgramWindow
           GROUP BY 1, 2 ORDER BY 1, 2"""),
    // q154: the same midpoint self-join re-derived from the raw entity
    // rows — including the super-hub midpoint cap, so the two engines
    // implement the same contract on ANY graph; counts, degrees and the
    // ppm score all exact BIGINT (integer division both sides — no
    // float rounding in the comparison at all)
    "q154_neighbor_overlap" ->
      (CooccurrenceGraph.entsCte +
        """, e AS (
             SELECT a.w AS src, b.w AS dst
             FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.w < b.w
             GROUP BY 1, 2
           ), sym AS (
             SELECT src AS a, dst AS b FROM e
             UNION ALL SELECT dst, src FROM e
           ), deg AS (
             SELECT a AS v, count(*)::BIGINT AS deg FROM sym GROUP BY 1
           ), cn AS (
             SELECT x.a AS src, y.b AS dst, count(*)::BIGINT AS n_common
             FROM sym x JOIN sym y ON x.b = y.a AND x.a < y.b
             JOIN deg dm ON x.b = dm.v AND dm.deg <= 1000000
             GROUP BY 1, 2
           )
           SELECT cn.src, cn.dst, n_common,
             da.deg AS deg_src, db.deg AS deg_dst,
             (el.src IS NOT NULL) AS is_linked,
             ((n_common * 1000000)
               // (da.deg + db.deg - n_common))::BIGINT AS jaccard_ppm
           FROM cn
           JOIN deg da ON cn.src = da.v
           JOIN deg db ON cn.dst = db.v
           LEFT JOIN e el ON el.src = cn.src AND el.dst = cn.dst
           ORDER BY jaccard_ppm DESC, cn.src, cn.dst"""),
    // q107: the same canonical a<b<c enumeration re-derived from the
    // raw entity rows; counts and degrees exact BIGINT, clustering one
    // float division of exact integers
    "q107_triangle_census" ->
      (CooccurrenceGraph.entsCte +
        """, e AS (
             SELECT a.w AS src, b.w AS dst
             FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.w < b.w
             GROUP BY 1, 2
           ), tri AS (
             SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
             FROM e ab
             JOIN e bc ON ab.dst = bc.src
             JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst
           ), pe AS (
             SELECT w AS entity_id, count(*)::BIGINT AS n FROM (
               SELECT a AS w FROM tri
               UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri)
             GROUP BY 1
           ), deg AS (
             SELECT w AS entity_id, count(*)::BIGINT AS degree FROM (
               SELECT src AS w FROM e UNION ALL SELECT dst FROM e)
             GROUP BY 1
           )
           SELECT d.entity_id, coalesce(pe.n, 0)::BIGINT AS n_triangles,
             d.degree,
             CASE WHEN d.degree >= 2 THEN
               round((coalesce(pe.n, 0) * 2)::DOUBLE
                 / (d.degree * (d.degree - 1))::DOUBLE, 6)
             ELSE 0.0::DOUBLE END AS clustering
           FROM deg d LEFT JOIN pe ON d.entity_id = pe.entity_id
           ORDER BY n_triangles DESC, d.entity_id"""),
    // q121: the same hop-bounded recursive walk carrying least(s, w);
    // UNION dedups (vertex, strength, hop) triples (strengths live in
    // the finite edge-weight set, hops bounded → terminates); max(s)
    // per vertex = the maximin optimum over ≤ maxHops-hop paths
    "q121_widest_paths" ->
      (CooccurrenceGraph.entsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""", e AS (
             SELECT a.w AS src, b.w AS dst, count(*)::BIGINT AS weight
             FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.w < b.w
             GROUP BY 1, 2
           ), sym AS (
             SELECT src AS a, dst AS b, max(weight) AS wt FROM (
               SELECT src, dst, weight FROM e
               UNION ALL SELECT dst, src, weight FROM e)
             GROUP BY 1, 2
           ), hub AS (
             SELECT entity_id FROM (
               SELECT entity_id, sum(weight)::BIGINT AS degree FROM (
                 SELECT src AS entity_id, weight FROM e
                 UNION ALL SELECT dst, weight FROM e)
               GROUP BY 1)
             ORDER BY degree DESC, entity_id LIMIT 1
           ), walk AS (
             SELECT s.b AS w, s.wt AS st, 1 AS hop
             FROM sym s JOIN hub ON s.a = hub.entity_id
             UNION
             SELECT s2.b, least(walk.st, s2.wt), walk.hop + 1
             FROM walk JOIN sym s2 ON walk.w = s2.a
             WHERE walk.hop < ${bfsMaxHops}
               AND s2.b NOT IN (SELECT entity_id FROM hub)
           )
           SELECT w AS entity_id, max(st)::BIGINT AS strength
           FROM walk GROUP BY 1 ORDER BY strength DESC, entity_id"""),
    // q147: the same walk carrying an ADDITIVE cost (mw + 1 − wt per
    // edge); costs live in a finite set (sums of ≤ maxHops edge costs),
    // hops bounded → terminates; min(c) per vertex = the min-plus
    // optimum over ≤ maxHops-hop paths
    "q147_shortest_tie_paths" ->
      (CooccurrenceGraph.entsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""", e AS (
             SELECT a.w AS src, b.w AS dst, count(*)::BIGINT AS weight
             FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.w < b.w
             GROUP BY 1, 2
           ), sym AS (
             SELECT src AS a, dst AS b, max(weight) AS wt FROM (
               SELECT src, dst, weight FROM e
               UNION ALL SELECT dst, src, weight FROM e)
             GROUP BY 1, 2
           ), mw AS (SELECT max(wt) AS mw FROM sym),
           hub AS (
             SELECT entity_id FROM (
               SELECT entity_id, sum(weight)::BIGINT AS degree FROM (
                 SELECT src AS entity_id, weight FROM e
                 UNION ALL SELECT dst, weight FROM e)
               GROUP BY 1)
             ORDER BY degree DESC, entity_id LIMIT 1
           ), walk AS (
             SELECT s.b AS w, (SELECT mw FROM mw) + 1 - s.wt AS c, 1 AS hop
             FROM sym s JOIN hub ON s.a = hub.entity_id
             UNION
             SELECT s2.b, walk.c + (SELECT mw FROM mw) + 1 - s2.wt,
               walk.hop + 1
             FROM walk JOIN sym s2 ON walk.w = s2.a
             WHERE walk.hop < ${bfsMaxHops}
               AND s2.b NOT IN (SELECT entity_id FROM hub)
           )
           SELECT w AS entity_id, min(c)::BIGINT AS cost
           FROM walk GROUP BY 1 ORDER BY cost, entity_id"""),
    // q110: min-hop BFS as a hop-bounded recursive walk — UNION dedups
    // (vertex, hop) pairs so the hop<maxHops guard terminates it on the
    // cyclic graph; min(hop) per vertex IS the BFS distance because
    // every hop count up to the bound is enumerated. Integers and
    // strings only.
    "q110_bfs_hops" ->
      (CooccurrenceGraph.entsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""", e AS (
             SELECT a.w AS src, b.w AS dst, count(*)::BIGINT AS weight
             FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.w < b.w
             GROUP BY 1, 2
           ), sym AS (
             SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e
           ), hub AS (
             SELECT entity_id FROM (
               SELECT entity_id, sum(weight)::BIGINT AS degree FROM (
                 SELECT src AS entity_id, weight FROM e
                 UNION ALL SELECT dst, weight FROM e)
               GROUP BY 1)
             ORDER BY degree DESC, entity_id LIMIT 1
           ), walk AS (
             SELECT entity_id AS w, 0 AS hop FROM hub
             UNION
             SELECT s.b, walk.hop + 1 FROM walk
             JOIN sym s ON walk.w = s.a WHERE walk.hop < ${bfsMaxHops}
           )
           SELECT w AS entity_id, min(hop)::BIGINT AS hop
           FROM walk GROUP BY 1 ORDER BY hop, entity_id"""),
    "q34_connected_components" -> ccClosureOracle,
    // q209: the SAME closure oracle as q34 — the point of the query is
    // that an independent algorithm (star alternation vs Pregel)
    // reproduces the identical label-free component table
    "q209_cc_dataframe" -> ccClosureOracle,
    // q74: the same recursive reachability closure, weighted, feeding
    // the exact-integer modularity identity (2m·I_c − T_c²)/(2m)².
    // Every aggregate is ::BIGINT-cast (DuckDB sums BIGINT → HUGEINT);
    // the single float division of exact integers matches IEEE-exactly.
    "q74_component_modularity" ->
      (CooccurrenceGraph.entsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, we AS (
             SELECT a.w AS src, b.w AS dst, count(*)::BIGINT AS weight
             FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.w < b.w
             GROUP BY 1, 2
           ), sym AS (
             SELECT src AS a, dst AS b FROM we UNION SELECT dst, src FROM we
           ), vs AS (SELECT DISTINCT a AS w FROM sym),
           reach AS (
             SELECT w AS a, w AS b FROM vs
             UNION
             SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
           ), comp AS (
             SELECT a AS w, min(b) AS community FROM reach GROUP BY 1
           ), deg AS (
             SELECT w, sum(weight)::BIGINT AS k FROM (
               SELECT src AS w, weight FROM we
               UNION ALL SELECT dst, weight FROM we)
             GROUP BY 1
           ), m2t AS (SELECT sum(k)::BIGINT AS m2 FROM deg),
           tot AS (
             SELECT c.community, sum(d.k)::BIGINT AS t_c,
                    count(*)::BIGINT AS n_members
             FROM comp c JOIN deg d ON c.w = d.w GROUP BY 1
           ), intr AS (
             SELECT ca.community, (2 * sum(e.weight))::BIGINT AS i_c
             FROM we e
             JOIN comp ca ON e.src = ca.w
             JOIN comp cb ON e.dst = cb.w
             WHERE ca.community = cb.community GROUP BY 1
           )
           SELECT t.community, t.n_members, t.t_c,
             coalesce(i.i_c, 0)::BIGINT AS i_c, m.m2,
             (m.m2::HUGEINT * coalesce(i.i_c, 0)
               - t.t_c::HUGEINT * t.t_c)::DOUBLE AS q_num,
             round((m.m2::HUGEINT * coalesce(i.i_c, 0)
                 - t.t_c::HUGEINT * t.t_c)::DOUBLE
               / (m.m2::HUGEINT * m.m2)::DOUBLE, 6) AS q_contrib
           FROM tot t
           LEFT JOIN intr i ON t.community = i.community
           CROSS JOIN m2t m
           ORDER BY t.community"""))
}
