package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Generic relational surface over the driver's star schema: joins (all
  * flavors), set ops, rollup/cube, window functions and frames, dedup,
  * binning. The reference itself has no joins (SURVEY.md §2.8); this
  * module is the north-star generic capability, designed Spark-first:
  * dimension joins broadcast, aggregations partial+final, top-k as
  * TakeOrderedAndProject, everything whole-stage-codegen friendly.
  *
  * Float-output discipline (driver hash-compares against DuckDB): sums of
  * decimal-quantized inputs are rounded at the input quantum (exact in
  * both engines); continuous values (averages, ratios) are rounded to 6
  * places.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  /** Money-sum discipline: a double sum over millions of rows is
    * order-dependent (parallel partials vs any other order drift by
    * ~1e-3 absolute at ~1e10 magnitude — observed at sf0.1), so every
    * large-count money sum quantizes each term to DECIMAL first: the
    * per-row cast is deterministic, the decimal sum is exact and
    * order-independent in both engines, and the output returns to
    * double after rounding.
    */
  private def moneySum(term: Column, scale: Int): Column =
    sum(term.cast(org.apache.spark.sql.types.DecimalType(18, scale)))
      .cast("double")

  /** TPC-H Q1-style pricing summary: partial+final hash aggregation over
    * the fact table, no shuffle beyond the group-by exchange.
    */
  val pricingSummary: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(moneySum(col("l_extendedprice"), 2), 2).as("sum_base_price"),
        round(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4), 4).as("sum_disc_price"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        round(avg("l_extendedprice"), 6).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Fact⋈dim equi-join + agg. Customer is the small side at every sf the
    * driver ships, but it scales with sf — so no hard-coded broadcast
    * hint; AQE picks broadcast when it fits
    * (spark.sql.autoBroadcastJoinThreshold).
    */
  val revenueBySegment: Q = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        round(moneySum(col("o_totalprice"), 2), 2).as("revenue"))
      .orderBy("c_mktsegment")

  /** Top-k join: Catalyst plans TakeOrderedAndProject — no global sort. */
  val topOrders: Q = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(10)

  /** Left outer join preserving customers with zero orders. */
  val custOrderCounts: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey", "c_name")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total_spend"))
      .orderBy("c_custkey")

  /** Left-semi join (EXISTS): customers with at least one 400k+ order. */
  val bigSpenders: Q = (s, d) =>
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d).filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** Left-anti join (NOT EXISTS): customers with no finished order. */
  val neverFinished: Q = (s, d) =>
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** UNION (distinct) + EXCEPT over derived key sets. */
  val setOps: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val pending = o.filter(col("o_orderstatus") === "P").select("o_custkey")
    val open = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    val huge = o.filter(col("o_totalprice") > 450000.0).select("o_custkey")
    pending.union(open).distinct().except(huge).orderBy("o_custkey")
  }

  /** ROLLUP with null-indicator coalescing (subtotal rows → 'ALL'). */
  val rollupStatusPriority: Q = (s, d) =>
    Tables.orders(s, d)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), round(moneySum(col("o_totalprice"), 2), 2).as("revenue"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("revenue"))
      .orderBy("status", "priority")

  /** CUBE over the region⋈nation⋈customer star arm. nation/region are
    * bounded dimensions (25/5 rows at any scale) → broadcast hints.
    *
    * Expressed via spark.sql: the DataFrame `cube().agg()` path trips
    * Spark 4's ambiguous-self-join detector (cube's Expand duplicates
    * the join output's attributes under the same dataset-id, a false
    * positive even with freshly-aliased columns); the SQL path carries
    * no dataset-id metadata and analyzes cleanly — same logical plan
    * otherwise.
    */
  val cubeRegionNation: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("g_customer")
    Tables.nation(s, d).createOrReplaceTempView("g_nation")
    Tables.region(s, d).createOrReplaceTempView("g_region")
    s.sql(
      """SELECT /*+ BROADCAST(g_nation, g_region) */
           coalesce(r_name, 'ALL') AS region,
           coalesce(n_name, 'ALL') AS nation,
           count(*) AS n_cust,
           round(sum(c_acctbal), 2) AS acctbal_sum
         FROM g_customer
         JOIN g_nation ON c_nationkey = n_nationkey
         JOIN g_region ON n_regionkey = r_regionkey
         GROUP BY CUBE (r_name, n_name)
         ORDER BY region, nation""")
  }

  /** q186 — explicit GROUPING SETS (the third grouping-lattice shape:
    * q08 proves ROLLUP's prefix chain, q09 CUBE's full lattice; real
    * reporting queries usually want a HAND-PICKED set of levels —
    * here detail, each single-dimension margin, and the grand total,
    * exactly the q158 margins computed in ONE pass). Spark's Expand
    * turns the four sets into a 4× row replication feeding one hash
    * aggregate — one scan, one exchange, however many levels; the
    * alternative (four queries + union) scans four times. `gid` is the
    * engine-computed grouping_id bit vector — DuckDB's GROUPING_ID
    * has identical bit order (first listed column = MSB), so the
    * oracle checks the level tagging itself, not just the numbers.
    */
  val groupingSetsTypeHour: Q = (s, d) => {
    val ev = Tables.eventsMicros(s, d)
      .select(col("event_type"),
        expr("(tsu % 86400000000) div 3600000000").as("hour"),
        col("user_id"))
    ev.groupingSets(
        Seq(Seq(col("event_type"), col("hour")), Seq(col("event_type")),
          Seq(col("hour")), Seq()),
        col("event_type"), col("hour"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("hour"), lit(-1L)).as("hour"),
        col("gid"), col("n_events"), col("n_users"))
      .orderBy("gid", "event_type", "hour")
  }

  private[graft] val topKPerGroup = 3

  /** q189 — grouped top-k through a custom typed `Aggregator`
    * (expr/TopKAggregator.scala) registered with `functions.udaf`: the
    * k smallest (milli-value, event_id) pairs per event type. The
    * window formulation (q10's shape) sorts every row of every group;
    * the aggregator is an algebraic fold, so partial aggregation caps
    * the shuffled state at k pairs per group per partition — the
    * scale-correct shape for "top/bottom k per group" when group
    * cardinality is bounded. The spec asserts the plan really is a
    * two-phase ObjectHashAggregate (partial before the exchange); the
    * oracle replays the contract with a plain row_number, so the
    * custom code path is hash-checked against the declarative one.
    */
  val groupedTopKAgg: Q = (s, d) => {
    val topk = udaf(new graft.expr.TopKMinAggregator(topKPerGroup),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
    Tables.eventsMicros(s, d).filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("floor(value * 1000.0D)").as("vm"), col("event_id"))
      .groupBy("event_type")
      .agg(topk(col("vm"), col("event_id")).as("tops"))
      .select(col("event_type"), posexplode(col("tops")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
        col("col._1").as("vm"), col("col._2").as("event_id"))
      .orderBy("event_type", "rank")
  }

  /** Ranking window with total ordering (tie-broken by key). */
  val segmentTopAccounts: Q = (s, d) => {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(desc("c_acctbal"), asc("c_custkey"))
    Tables.customer(s, d)
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .select("c_mktsegment", "rnk", "c_custkey", "c_acctbal")
      .orderBy("c_mktsegment", "rnk", "c_custkey")
  }

  /** Running total — rowsBetween frame, deterministic via unique-key
    * tie-break in the frame ordering.
    */
  val runningRevenue: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("running_spend", round(sum("o_totalprice").over(w), 2))
      .select("o_custkey", "o_orderkey", "running_spend")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** lag(): days between consecutive orders of a customer. */
  val orderGaps: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .withColumn("prev_date", lag("o_orderdate", 1).over(w))
      .select(
        col("o_custkey"), col("o_orderkey"),
        coalesce(datediff(col("o_orderdate"), col("prev_date")).cast("long"), lit(-1L))
          .as("gap_days"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Exact distinct cardinality per group. */
  val distinctUsersByType: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** Detail seam: the raw HLL++ estimate next to the exact count —
    * spec-pinned (RelationalSpec asserts the ±5% contract numerically).
    */
  private[graft] val approxDistinctDetail: Q = (s, d) =>
    // dedup (type, user) BEFORE aggregating (r17): countDistinct beside
    // a non-distinct agg triggers the Expand multi-distinct rewrite,
    // whose phase-1 grouping runs at (type, user) grain — and the
    // rsd=0.01 HLL++ then allocates its 2¹⁴-register sketch PER USER
    // GROUP (measured: 1.9 s vs 0.2 s exact-only on 100k rows at
    // sf0.1). Both aggregates are multiplicity-invariant — count over
    // deduped pairs IS the distinct count, and HLL registers are a max,
    // so insertion multiplicity never changes the estimate — hence the
    // rewrite is bit-identical, with sketches only at type grain.
    Tables.events(s, d)
      .select("event_type", "user_id").distinct()
      .groupBy("event_type")
      .agg(
        count("user_id").as("n_users"),
        approx_count_distinct("user_id", 0.01).as("approx_users"))
      .orderBy("event_type")

  /** q14 — approx_count_distinct (HLL++) AUDITED against the exact
    * count. ORACLE-GATED since r13 (r12 verdict task 5 — formerly
    * rows-only): the estimate itself is implementation-specific (no
    * DuckDB twin), but the row can carry the EXACT count plus the
    * sketch's accuracy contract as a boolean — DuckDB recomputes the
    * exact side and expects the boolean TRUE, so a sketch drifting
    * past ±5% (20·|approx−exact| > exact, exact-integer arithmetic)
    * flips the bit and fails the hash. The raw estimate stays visible
    * through [[approxDistinctDetail]] and its spec pin.
    */
  val approxDistinctUsers: Q = (s, d) =>
    approxDistinctDetail(s, d)
      .select(col("event_type"), col("n_users"),
        (abs(col("approx_users") - col("n_users")) * 20 <= col("n_users"))
          .as("hll_within_5pct"))
      .orderBy("event_type")

  val cmsEps = 0.001
  val cmsConfidence = 0.99
  val cmsSeed = 42
  val cmsTopK = 20

  /** q114 — count-min-sketch heavy hitters: the frequency sketch
    * companion to q14's HLL cardinality sketch. One pass builds a
    * mergeable CMS over user_id (`count_min_sketch` is a codegen'd
    * TypedImperativeAggregate: map-side partial sketches, counter-wise
    * merge at the exchange — fixed memory regardless of key
    * cardinality, the whole point at 10⁹ distinct users), then the
    * exact top-k user frequencies are probed against it, emitting
    * estimate and overcount side by side so the ε·N error contract is
    * auditable row by row.
    *
    * Driver-side work is strictly bounded: one sketch blob (w·d
    * counters, a few KB) and k candidate rows — the candidate SET at
    * production scale comes from whatever cheap source exists
    * (per-partition local top-k, a prior day's leaderboard); the probe
    * cost is O(d) per candidate wherever it runs.
    *
    * ORACLE-GATED since r13 (r12 verdict task 5 — formerly rows-only):
    * the raw estimate is seed-dependent implementation detail DuckDB
    * cannot recompute, but the emitted row carries the EXACT top-k
    * frequency (DuckDB recomputes it, ordering included) plus the two
    * published CMS contracts as booleans — never-underestimates and
    * overcount ≤ ⌈ε·N⌉ — which the oracle expects TRUE; a sketch
    * violating either fails the hash. The raw estimate/overcount stay
    * visible through [[cmsHeavyHittersDetail]] and its spec pins
    * (merge ≡ whole, fixed-seed determinism).
    */
  private[graft] val cmsHeavyHittersDetail: Q = (s, d) => {
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
    val bytes = ev
      .agg(expr(s"count_min_sketch(user_id, ${cmsEps}D, ${cmsConfidence}D, $cmsSeed)"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      .orderBy(desc("exact_n"), asc("user_id")).limit(cmsTopK).collect()
    // the sketch records exactly how many items it absorbed, so ε·N's
    // N rides along for free — the former separate events.count() was
    // a third full scan per invocation (r13 review)
    val rows = top.map { r =>
      val (u, n) = (r.getLong(0), r.getLong(1))
      val est = cms.estimateCount(u)
      org.apache.spark.sql.Row(u, n, est, est - n, cms.totalCount())
    }
    s.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("exact_n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cms_n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("overcount",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_total",
          org.apache.spark.sql.types.LongType))))
      .orderBy(desc("exact_n"), asc("user_id"))
  }

  val cmsHeavyHitters: Q = (s, d) =>
    cmsHeavyHittersDetail(s, d)
      .select(col("user_id"), col("exact_n"),
        (col("cms_n") >= col("exact_n")).as("cms_never_under"),
        (col("overcount") <=
          expr(s"cast(ceil(${cmsEps}D * n_total) as bigint)"))
          .as("cms_within_eps_n"))
      .orderBy(desc("exact_n"), asc("user_id"))

  val minhashUnionK = 64

  /** q297 — MERGEABLE MINHASH UNION audit: the property that makes
    * sketches work at 100 TB is MERGEABILITY — build small per-slice
    * states (per day, per partition, per datacenter), merge the
    * states, never touch the raw union. This query PROVES the engine's
    * merge path on real data: per-(event_type, day) MinHash signatures
    * (k independent min-hash registers — exactly q53's signature
    * scheme, over users instead of shingles) are min-merged across
    * days and compared register-for-register against the signature
    * computed directly over the whole event stream. min is
    * associative/commutative, so ANY disagreement means the engine
    * broke partial aggregation — emitted as a boolean the oracle
    * expects TRUE. The k-min estimator k/Σuᵢ − 1 (uᵢ the unit-
    * normalized register) audits the merged sketch against the exact
    * distinct count, gated at ±50% — 4σ for k = 64's ~12.5% relative
    * SE, and deterministic on any fixed dataset (seeded hashes).
    *
    * ORACLE-GATED in the q14/q114 style: DuckDB recomputes the exact
    * side (count DISTINCT per type) and expects both contract booleans
    * TRUE; the raw estimate stays visible through
    * [[minhashUnionDetail]] and its spec pins.
    *
    * Scale: three hash aggregates (per-(type, day) signatures, their
    * type-grain merge, the direct signature), all map-side
    * combinable — per-group state is k longs regardless of user
    * cardinality, the whole point; the exact count-distinct is the
    * audit side's honest cost (same stance as q14's exact twin).
    */
  private[graft] def minhashUnionDetail(s: SparkSession, d: String): DataFrame =
    minhashUnionCore(Tables.eventsMicros(s, d)
      // NULL event_type is excluded symmetrically with the oracle (the
      // q280 discipline): the null-unsafe equi-joins on event_type
      // below would silently drop the NULL group the oracle's GROUP BY
      // keeps (r13 review)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("user_id"),
        expr(s"tsu div ${Behavior.dayUs2}").as("day")))

  /** Core over any (event_type, user_id, day) frame — fixture seam. */
  private[graft] def minhashUnionCore(ev: DataFrame): DataFrame = {
    val k = minhashUnionK
    def sig(prefix: String) = (0 until k).map(i =>
      min(xxhash64(col("user_id"), lit(i))).as(s"$prefix$i"))
    val daily = ev.groupBy("event_type", "day")
      .agg(sig("h").head, sig("h").tail: _*)
    val mergeAggs = (0 until k).map(i => min(col(s"h$i")).as(s"m$i"))
    val merged = daily.groupBy("event_type")
      .agg(mergeAggs.head, mergeAggs.tail: _*)
    val direct = ev.groupBy("event_type").agg(sig("d").head, sig("d").tail: _*)
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"))
    val mergeOk = (0 until k)
      .map(i => col(s"m$i") === col(s"d$i")).reduce(_ && _)
    // uᵢ = h/2⁶⁴ + 0.5 maps the signed register to [0, 1); each min is
    // ~Uniform's first order statistic with mean 1/(n+1), so
    // k/Σuᵢ − 1 estimates n with ~1/√k relative SE
    val sumU = (0 until k)
      .map(i => col(s"m$i").cast("double") / 1.8446744073709552e19 + 0.5)
      .reduce(_ + _)
    merged.join(direct, "event_type").join(exact, "event_type")
      .withColumn("est", lit(k.toDouble) / sumU - 1.0)
      .select(col("event_type"), col("n_exact"),
        mergeOk.as("merge_matches_direct"),
        // NOTE (oracle contract, r13 ADVICE): est_within_50pct bakes a
        // statistical bound into the order-sensitive oracle hash (q14/
        // q149 have the same shape). If this gate ever flips after a
        // DELIBERATE change to k, the seed, or the hash function — or a
        // future low-cardinality event_type — re-derive the expectation
        // (the q96 regeneration rule), do not debug the engine.
        (abs(col("est") - col("n_exact")) * 2 <= col("n_exact"))
          .as("est_within_50pct"),
        col("est"))
      .orderBy("event_type")
  }

  val minhashUnion: Q = (s, d) => minhashUnionDetail(s, d).drop("est")

  /** q122 — SCD2-style STATE TIMELINE: collapse each user's event
    * stream into runs of consecutive identical states with half-open
    * validity intervals [valid_from_us, valid_to_us), valid_to NULL
    * for the current (open) run — the slowly-changing-dimension
    * history shape every warehouse keeps for "what was this user's
    * state at time T" point-in-time joins. Change detection is one
    * lag + running-sum window, run collapse one aggregate, interval
    * closing one lead — all three on the same user_id-grained
    * exchange (the q27 argument: one shuffle serves the lot).
    * Exact integers and strings only.
    *
    * Open (current) runs close at Long.MaxValue — the classic SCD2
    * "9999-12-31" end-of-time sentinel, and deliberately NOT NULL:
    * a nullable BIGINT column re-hydrates as float64+NaN in the
    * driver's pandas compare (the q104-class trap — NaN breaks the
    * hash), and the sentinel also keeps BETWEEN point-in-time
    * predicates branch-free.
    */
  val scd2StateTimeline: Q = (s, d) => scd2Core(Tables.eventsMicros(s, d))

  private[graft] def scd2Core(ev: DataFrame): DataFrame =
    scd2Runs(ev)
      .select("user_id", "state", "valid_from_us", "valid_to_us", "n_events")
      // `state` breaks the zero-width-run tie (two same-µs changes
      // share a valid_from but consecutive runs never share a state)
      .orderBy("user_id", "valid_from_us", "state")

  /** The run table WITH run_id — q123's point-in-time probe needs the
    * run order to disambiguate zero-width runs (two state changes in
    * the same µs share a valid_from; the later run wins the instant).
    */
  private[graft] def scd2Runs(ev: DataFrame): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    val running = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byRun = Window.partitionBy("user_id").orderBy("run_id")
    ev.select("user_id", "event_id", "event_type", "tsu")
      .withColumn("prev_type", lag("event_type", 1).over(byTime))
      .withColumn("chg",
        when(col("prev_type").isNull
          || col("prev_type") =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("run_id", sum("chg").over(running))
      .groupBy("user_id", "run_id")
      .agg(min("event_type").as("state"), // constant within the run
        min("tsu").as("valid_from_us"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to_us",
        coalesce(lead("valid_from_us", 1).over(byRun), lit(Long.MaxValue)))
  }

  /** q123 — POINT-IN-TIME join: each purchase enriched with the user's
    * q122-style state AT purchase time (valid_from ≤ t < valid_to),
    * where the state timeline is built from the user's NON-purchase
    * activity — the "what did we know then" join that makes SCD2
    * history useful and that training-data pipelines need to avoid
    * feature leakage (joining TODAY's state onto YESTERDAY's example
    * teaches the model the future). Probes and states share the
    * events time range, so the gate exercises real containment, not
    * just the no-match path (an orders-based probe would be vacuous
    * here: every o_orderdate predates every event).
    *
    * Physically NOT an interval join: the q36 union-tag trick — state
    * boundaries and probes merge into one user_id-grained stream,
    * sorted (tsu, tag, run_id) so a state change sorts before a
    * same-µs probe and the later of two same-µs runs wins the instant
    * (exactly the half-open containment the oracle evaluates), then
    * one running `last(ignoreNulls)` carries the state. ONE exchange,
    * zero pair blowup however many probes land inside one run — the
    * naive BETWEEN join is quadratic per user. Probes before any
    * state stay null (left-join semantics; strings re-hydrate as
    * None, not the q104-class NaN trap).
    */
  val pointInTimeJoin: Q = (s, d) => {
    val ev = Tables.eventsMicros(s, d)
    pitCore(ev.filter(col("event_type") =!= "purchase"),
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("probe_id"), col("user_id"),
          col("tsu").as("ptsu")))
  }

  /** Core over (state events, probes(probe_id, user_id, ptsu)) —
    * fixture seam for the spec.
    */
  private[graft] def pitCore(ev: DataFrame, probes0: DataFrame): DataFrame = {
    val runs = scd2Runs(ev)
    val states = runs.select(col("user_id"),
      col("valid_from_us").as("tsu"), col("state"),
      lit(0).as("tag"), col("run_id"),
      lit(null).cast("long").as("probe_id"))
    val probes = probes0.select(
      col("user_id"),
      col("ptsu").as("tsu"),
      lit(null).cast("string").as("state"),
      lit(1).as("tag"), lit(Long.MaxValue).as("run_id"),
      col("probe_id"))
    val w = Window.partitionBy("user_id").orderBy("tsu", "tag", "run_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    states.unionByName(probes)
      .withColumn("state_at", last("state", ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("probe_id"), col("user_id"),
        col("tsu").as("probe_tsu"), col("state_at"))
      .orderBy("probe_id")
  }

  val bloomFpp = 0.01

  /** q126 — explicit BLOOM-FILTER SEMI-JOIN prefilter: revenue by
    * nation for one customer segment, with the fact side pre-filtered
    * by a bloom filter built over the segment's keys BEFORE the join —
    * the runtime-filter pattern (Spark's InjectRuntimeFilter, Trino's
    * dynamic filters) made explicit and verifiable. At 100 TB this is
    * the difference between shuffling the whole fact table into the
    * join and shuffling ~1/|segments| of it (plus the fpp): the filter
    * is a few hundred KB broadcast into a codegen'd scan-stage
    * predicate (the engine-internal `BloomFilterMightContain`, reached
    * through GraftColumnBridge — no UDF), and the join itself then
    * removes the false positives.
    *
    * The hash gate proves the PATTERN's contract: blooms have no false
    * negatives, so prefilter + join ≡ plain join — the oracle runs the
    * plain join. Build cost: one pass over the DIM side only
    * (`stat.bloomFilter`, an aggregate job; the sketch returns to the
    * driver sized expectedKeys·~10 bits). RelationalSpec pins the
    * mechanics: measurable fact-side reduction, zero false negatives,
    * and the predicate sitting in the scan stage before the exchange.
    */
  val bloomPrejoinRevenue: Q = (s, d) => {
    val dim = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "AUTOMOBILE")
      .select("c_custkey", "c_nationkey")
    bloomPrejoinCore(s, d, Tables.events(s, d).filter(col("ts").isNotNull), dim)
  }

  private[graft] def bloomFilterOf(keys: DataFrame, column: String): Array[Byte] = {
    val n = keys.count() max 1 // dim-side count: one small aggregate job
    val bf = keys.stat.bloomFilter(column, n, bloomFpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  private[graft] def bloomMightContain(bytes: Array[Byte], value: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bytes,
          org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.GraftColumnBridge.expression(value)))

  private[graft] def bloomPrejoinCore(s: SparkSession, d: String,
                                      facts: DataFrame, dim: DataFrame): DataFrame = {
    val bytes = bloomFilterOf(dim.select("c_custkey"), "c_custkey")
    facts
      .filter(bloomMightContain(bytes, col("user_id")))
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
          .as("value_sum"))
      .orderBy("n_name")
  }

  /** The q175 join, built declaratively with no manual filter — the
    * optimizer is the one that must inject the runtime filter. Seam
    * for the spec's plan assert.
    */
  private[graft] def runtimeBloomJoined(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double"), 4).as("revenue"))
      .orderBy("l_returnflag")

  /** The confs, scoped with [[Tables.withConfs]], that make
    * InjectRuntimeFilter fire at test scale: broadcast off (both sides
    * big → the shuffle join the rewrite targets) and the
    * application-side scan floor dropped to 0 (its 10 GB default
    * assumes a cluster; the REWRITE under test is size-independent).
    */
  private[graft] val runtimeBloomConfs = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** q175 — OPTIMIZER-INJECTED runtime bloom filter: q126's pattern,
    * but the ENGINE does the rewriting. The plan is a plain declarative
    * join of the full lineitem against the urgent slice of orders;
    * Spark's InjectRuntimeFilter sees a selective creation-side filter
    * and plants a BloomFilterMightContain over l_orderkey into the
    * fact scan stage, so the fact side is thinned BEFORE its shuffle —
    * at 100 TB the exchange shrinks ~5× (the slice's selectivity)
    * without the query author writing a filter at all. This completes
    * the runtime-filtering family: q166 prunes PARTITIONS through a
    * join at runtime, q175 prunes ROWS through a join at runtime, q126
    * is the same lever made explicit when the optimizer's thresholds
    * can't see the opportunity. Hash-gated against the plain join
    * (blooms have no false negatives; the join removes the false
    * positives), executed UNDER the scoped confs (localCheckpoint) so
    * the verified run is the injected plan. RelationalSpec asserts the
    * injection: bloom_filter_agg + might_contain in the optimized
    * plan, absent with the rewrite disabled.
    */
  val runtimeBloomJoin: Q = (s, d) =>
    Tables.withConfs(s, runtimeBloomConfs: _*) {
      runtimeBloomJoined(s, d).localCheckpoint(true)
    }

  /** q127 — COLUMN PROFILE: per-column row/null/distinct counts over
    * `events`, the data-quality survey every ingest pipeline runs
    * before trusting a new drop (null-rate spikes and cardinality
    * collapses are the first symptoms of an upstream schema break).
    * ONE pass: all 6×(count, count distinct) pairs in a single
    * aggregate (Spark plans the multi-distinct via Expand — one scan
    * multiplied by the distinct-column count, the standard profiling
    * plan), then an explode pivots the wide row into the
    * (column, metric) shape. Exact integers only.
    */
  val columnProfile: Q = (s, d) => {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c =>
      Seq(count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c")))
    Tables.events(s, d)
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column_name"),
        col("n_rows"),
        (col("n_rows") - col(s"nn_$c")).as("n_null"),
        col(s"nd_$c").as("n_distinct"))): _*)).as("p"))
      .select("p.*")
      .orderBy("column_name")
  }

  /** CASE-tiering + numeric binning (histogram). */
  val valueHistogram: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("bin", (floor(col("value") / 50.0) * 50).cast("long"))
      .withColumn("tier",
        when(col("value") >= 150.0, "high")
          .when(col("value") >= 50.0, "mid")
          .otherwise("low"))
      .groupBy("bin", "tier")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("value_sum"))
      .orderBy("bin", "tier")

  /** Regex extraction from a JSON-ish payload + cast + agg (the
    * reference's "123.4万" regex-parse pattern, tag/main.py:53-54).
    */
  val propsKeyStats: Q = (s, d) =>
    Tables.events(s, d)
      // no-match regexp_extract returns '' (not null) and ANSI cast('')
      // THROWS — nullif + try_cast realize the intended drop-the-row
      // semantic for payloads without a "k" key
      .withColumn("k",
        expr("""try_cast(nullif(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') AS BIGINT)"""))
      .filter(col("k").isNotNull)
      .groupBy("event_type")
      .agg(
        round(avg("k"), 6).as("k_avg"),
        min("k").as("k_min"),
        max("k").as("k_max"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Calendar bucketing: orders per month. Output cast to DATE so both
    * engines compare identically (timestamp tz semantics differ).
    */
  val monthlyOrders: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("month", date_trunc("month", col("o_orderdate")).cast("date"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_orders"), round(moneySum(col("o_totalprice"), 2), 2).as("revenue"))
      .orderBy("month")

  /** Exact dedup on a key subset — dropDuplicates projected to the key so
    * the result is deterministic (the non-key columns of dropDuplicates
    * are arbitrary-survivor and must not be emitted).
    */
  val eventsDedup: Q = (s, d) =>
    Tables.events(s, d)
      .dropDuplicates("user_id", "event_type")
      .select("user_id", "event_type")
      .orderBy("user_id", "event_type")

  /** 5-table star join: lineitem⋈orders⋈customer⋈nation⋈region revenue
    * rollup to region. The two bounded dims broadcast; the fact-side
    * joins shuffle on their keys and AQE handles skew/coalescing.
    */
  val starJoinRevenue: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        round(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4), 4).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("r_name")

  /** ntile + first/last over a range frame: customer spend quartiles
    * within segment, with the segment's floor/ceiling alongside.
    */
  val spendQuartiles: Q = (s, d) => {
    val byBal = Window.partitionBy("c_mktsegment")
      .orderBy(desc("c_acctbal"), asc("c_custkey"))
    val whole = byBal.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.customer(s, d)
      .withColumn("quartile", ntile(4).over(byBal))
      .withColumn("seg_top", first("c_acctbal").over(whole))
      .withColumn("seg_bottom", last("c_acctbal").over(whole))
      .select("c_mktsegment", "c_custkey", "quartile", "seg_top", "seg_bottom")
      .orderBy("c_mktsegment", "c_custkey")
  }

  /** The closed event_type domain for the pivot/unpivot pair. Given
    * EXPLICITLY at the pivot: an unlisted `pivot("event_type")` runs a
    * driver-side distinct() job over the whole fact table before
    * planning even starts — a scan-before-the-scan at 100 TB.
    */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Wide per-user event-type count matrix shared by q38/q39. One
    * partial+final hash agg on user_id (PivotFirst folds the type
    * columns map-side); absent cells are 0, not null.
    */
  private def eventMatrix(s: SparkSession, d: String): DataFrame = {
    val wide = Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
    eventTypes.foldLeft(wide)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
  }

  /** q38 — pivot (long → wide): the operator class the surface lacked.
    */
  val eventTypePivot: Q = (s, d) =>
    eventMatrix(s, d)
      .withColumn("n_total", eventTypes.map(col).reduce(_ + _))
      .orderBy("user_id")

  /** q39 — unpivot (wide → long): round-trips the q38 matrix back to
    * (user_id, event_type, n) including the explicit zero cells the
    * wide form materialized. `unpivot` is a zero-shuffle projection
    * (each input row expands to |domain| rows in place).
    */
  val eventTypeUnpivot: Q = (s, d) =>
    eventMatrix(s, d)
      .unpivot(Array(col("user_id")), eventTypes.map(col).toArray,
        "event_type", "n")
      .orderBy("user_id", "event_type")

  /** Exact interpolated percentiles per group. Scale note: exact
    * percentile sorts every group member — right for bounded groups
    * (5 event types here); an unbounded-cardinality rollup at 100 TB
    * would use `percentile_approx` (KLL-sketch, mergeable) instead,
    * trading the oracle for a tolerance spec.
    */
  val valuePercentiles: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      .orderBy("event_type")

  /** Deterministic latest-record-per-key (CDC compaction): row_number
    * over (key, recency) with a total order, keep rank 1 — unlike
    * `dropDuplicates`, the survivor is well-defined, so the result is
    * oracle-checkable and stable across shuffles.
    */
  val latestEventPerUser: Q = (s, d) => {
    // recency at µs precision (what any external reader of the nanos
    // parquet can see — see Sessionization), ties on event_id
    val w = Window.partitionBy("user_id")
      .orderBy(desc("ts_us"), desc("event_id"))
    Tables.events(s, d)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "ts_us", "event_type")
      .orderBy("user_id")
  }

  /** q104 — FULL OUTER reconciliation, the one join shape q02-q09 leave
    * out: per-user event activity against the customer dimension, keeping
    * BOTH unmatched sides (users streaming events with no account row;
    * accounts with no activity) with an explicit presence tag. The
    * classic data-quality/reconciliation report — at warehouse scale this
    * is how orphaned keys on either side of a supposedly-FK relationship
    * get found. Shuffle on the join key both sides; the aggregation
    * collapses events to one row per user BEFORE the join.
    */
  val fullOuterReconciliation: Q = (s, d) =>
    fullOuterCore(
      Tables.eventsMicros(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("n_events")),
      Tables.customer(s, d).select("c_custkey", "c_mktsegment"))

  /** Core over (user_id, n_events) × (c_custkey, c_mktsegment) — seam
    * for the spec: the sf testdata's user domain is a subset of the
    * customer keys, so the events_only branch needs a fixture to fire.
    */
  private[graft] def fullOuterCore(activity: DataFrame, cust: DataFrame): DataFrame =
    activity.join(cust, activity("user_id") === cust("c_custkey"), "full_outer")
      .select(
        coalesce(col("user_id"), col("c_custkey")).as("uid"),
        when(col("user_id").isNull, lit("customer_only"))
          .when(col("c_custkey").isNull, lit("events_only"))
          .otherwise(lit("both")).as("presence"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("c_mktsegment"))
      .orderBy("uid")

  /** q105 — TYPED JSON extraction via `from_json`: the schema'd
    * semi-structured path (q16 is the regex path — both are standard,
    * this one validates structure and yields typed nulls for
    * missing/corrupt payloads instead of string surgery). All aggregates
    * exact BIGINT; the single avg is one division of exact integers.
    */
  /** The q105 extraction, shared with the spec that pins its strictness
    * matrix (integer-typed k only; string/double/corrupt/missing → null
    * — what the oracle's json_type guard mirrors).
    */
  private[graft] def propsK(props: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    from_json(props,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))).getField("k")

  /** q251 — VARIANT-TYPED semi-structured extraction: the Spark 4
    * native path through `VariantType` (`parse_json` → binary variant
    * encoding → `variant_get` with a target type), completing the
    * semi-structured triple: q16 string surgery, q105 static-schema
    * `from_json`, and this — schema-ON-READ per row, the open-schema
    * form a lakehouse stores when payloads evolve faster than table
    * DDL. `try_parse_json` (not `parse_json`): corrupt payloads become
    * typed nulls, never task failures — the q105 strictness stance.
    * `variant_get(v, '$.k', 'bigint')` casts inside the variant
    * decoder (codegen'd, no string round-trip); `schema_of_variant`
    * audits the per-row inferred shape and the distinct-shape count
    * guards against payload drift.
    *
    * Scale: map-only projection into the same event_type hash agg as
    * q105 — the variant decode adds no shuffle.
    */
  val variantPropsStats: Q = (s, d) =>
    Tables.eventsMicros(s, d)
      .withColumn("v", expr("try_parse_json(props)"))
      .withColumn("k", expr("try_variant_get(v, '$.k', 'bigint')"))
      .groupBy("event_type")
      .agg(
        count(col("v")).as("n_variant"),
        count(col("k")).as("n_with_k"),
        coalesce(sum("k"), lit(0L)).as("k_sum"),
        min("k").as("k_min"),
        max("k").as("k_max"),
        countDistinct(expr("schema_of_variant(v)")).as("n_shapes"))
      .orderBy("event_type")

  val jsonPropsStats: Q = (s, d) =>
    Tables.eventsMicros(s, d)
      .withColumn("k", propsK(col("props")))
      .groupBy("event_type")
      .agg(
        count(col("k")).as("n_with_k"),
        count(lit(1)).as("n"),
        coalesce(sum("k"), lit(0L)).as("k_sum"),
        min("k").as("k_min"),
        max("k").as("k_max"),
        // guarded: a group with zero extracted keys must yield null,
        // not a 0/0 NaN (NaN is not hash-comparable across engines)
        when(count(col("k")) > 0,
          round(coalesce(sum("k"), lit(0L)).cast("double")
            / count(col("k")).cast("double"), 6)).as("k_avg"))
      .orderBy("event_type")

  /** q138 — PARETO FRONTIER (2-D skyline) per market segment: the
    * orders no other same-segment order dominates on (price, recency)
    * — "at least as expensive AND at least as recent, strictly better
    * in one". The multi-criteria shortlist read (best-offer mining,
    * benchmark frontiers) that a plain top-k can't express.
    *
    * NOT the quadratic NOT-EXISTS formulation: for 2-D the skyline is
    * a sweep — collapse duplicate points first (groupBy, so equal
    * points can't strictly dominate each other and multiplicity
    * survives as n_orders), then order each segment by (day DESC,
    * price DESC) and keep rows whose price strictly exceeds the
    * running max over all LATER-or-equal days. One exchange + one
    * per-segment sort; the frontier check is O(1) per point. The
    * same-day tie works because higher price sorts first: an equal-day
    * higher-price row lands in the prefix max and correctly kills the
    * cheaper one, while cross-day equal prices die via the non-strict
    * prefix (later day, same price dominates).
    */
  val paretoFrontier: Q = (s, d) => {
    val cust = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
    paretoCore(Tables.orders(s, d)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice").as("price"),
        expr("cast(o_orderdate as long) div 86400").as("day")))
  }

  /** The collapse→sweep kernel over any (c_mktsegment, price, day)
    * point frame — fixture-injection seam for the spec.
    */
  private[graft] def paretoCore(points: DataFrame): DataFrame = {
    val pts = points.groupBy("c_mktsegment", "price", "day")
      .agg(count(lit(1)).as("n_orders"))
    val sweep = Window.partitionBy("c_mktsegment")
      .orderBy(desc("day"), desc("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.withColumn("prev_max", max("price").over(sweep))
      .filter(col("prev_max").isNull || col("price") > col("prev_max"))
      .select("c_mktsegment", "day", "price", "n_orders")
      .orderBy("c_mktsegment", "day")
  }

  val queries: Map[String, Q] = Map(
    "q104_full_outer_reconciliation" -> fullOuterReconciliation,
    "q138_pareto_frontier" -> paretoFrontier,
    "q105_json_props_stats" -> jsonPropsStats,
    "q251_variant_props_stats" -> variantPropsStats,
    "q28_value_percentiles" -> valuePercentiles,
    "q29_latest_event_per_user" -> latestEventPerUser,
    "q26_spend_quartiles" -> spendQuartiles,
    "q01_pricing_summary" -> pricingSummary,
    "q02_revenue_by_segment" -> revenueBySegment,
    "q03_top_orders" -> topOrders,
    "q04_cust_order_counts" -> custOrderCounts,
    "q05_big_spenders_semi" -> bigSpenders,
    "q06_never_finished_anti" -> neverFinished,
    "q07_set_ops" -> setOps,
    "q08_rollup_status_priority" -> rollupStatusPriority,
    "q09_cube_region_nation" -> cubeRegionNation,
    "q186_grouping_sets" -> groupingSetsTypeHour,
    "q189_grouped_topk_agg" -> groupedTopKAgg,
    "q10_segment_top_accounts" -> segmentTopAccounts,
    "q11_running_revenue" -> runningRevenue,
    "q12_order_gaps" -> orderGaps,
    "q13_distinct_users_by_type" -> distinctUsersByType,
    "q14_approx_distinct_users" -> approxDistinctUsers,
    "q114_cms_heavy_hitters" -> cmsHeavyHitters,
    "q297_minhash_union" -> minhashUnion,
    "q122_scd2_state_timeline" -> scd2StateTimeline,
    "q123_point_in_time_join" -> pointInTimeJoin,
    "q126_bloom_prejoin_revenue" -> bloomPrejoinRevenue,
    "q175_runtime_bloom_join" -> runtimeBloomJoin,
    "q127_column_profile" -> columnProfile,
    "q15_value_histogram" -> valueHistogram,
    "q16_props_key_stats" -> propsKeyStats,
    "q17_monthly_orders" -> monthlyOrders,
    "q18_events_dedup" -> eventsDedup,
    "q19_star_join_revenue" -> starJoinRevenue,
    "q38_event_type_pivot" -> eventTypePivot,
    "q39_event_type_unpivot" -> eventTypeUnpivot)

  val oracles: Map[String, String] = Map(
    // q189: the aggregator's contract stated declaratively — the k
    // smallest (vm, event_id) per type by row_number — so the custom
    // partial/merge/finish path is verified against the plain window
    "q189_grouped_topk_agg" ->
      s"""SELECT event_type, rank, vm, event_id FROM (
            SELECT event_type, vm, event_id,
              row_number() OVER (PARTITION BY event_type
                ORDER BY vm, event_id) AS rank
            FROM (
              SELECT event_type,
                CAST(floor(value * CAST(1000.0 AS DOUBLE)) AS BIGINT) AS vm,
                event_id
              FROM events WHERE ts IS NOT NULL AND value IS NOT NULL))
          WHERE rank <= ${topKPerGroup} ORDER BY event_type, rank""",
    // q186: same four grouping sets; GROUPING_ID bit order matches
    // Spark's (first listed column = MSB), verified, not assumed
    "q186_grouping_sets" ->
      """WITH ev AS (
           SELECT event_type,
             (epoch_ns(ts) // 1000 % 86400000000) // 3600000000 AS hour,
             user_id
           FROM events WHERE ts IS NOT NULL)
         SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(hour, -1) AS hour,
           GROUPING_ID(event_type, hour)::BIGINT AS gid,
           count(*) AS n_events,
           count(DISTINCT user_id)::BIGINT AS n_users
         FROM ev
         GROUP BY GROUPING SETS ((event_type, hour), (event_type),
                                 (hour), ())
         ORDER BY gid, event_type, hour""",
    // q122: identical lag→running-sum→collapse→lead chain at µs
    // precision; first-row change via IS DISTINCT FROM (event_type is
    // non-null, so it equals Spark's isNull-or-≠)
    "q122_scd2_state_timeline" ->
      """WITH ev AS (
           SELECT user_id, event_id, event_type,
             epoch_ns(ts) // 1000 AS tsu
           FROM events WHERE ts IS NOT NULL),
         m AS (
           SELECT *, CASE WHEN lag(event_type) OVER w
               IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
         r AS (
           SELECT *, sum(chg) OVER (PARTITION BY user_id
             ORDER BY tsu, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             AS run_id
           FROM m),
         runs AS (
           SELECT user_id, run_id, min(event_type) AS state,
             min(tsu) AS valid_from_us, count(*) AS n_events
           FROM r GROUP BY 1, 2)
         SELECT user_id, state, valid_from_us,
           coalesce(lead(valid_from_us) OVER (PARTITION BY user_id
             ORDER BY run_id), 9223372036854775807) AS valid_to_us,
           n_events
         FROM runs ORDER BY user_id, valid_from_us, state""",
    // q127: one UNION ALL branch per column — count(DISTINCT) excludes
    // nulls in both engines, timestamps profile bijectively with their
    // nanos-long twins
    "q127_column_profile" ->
      """SELECT 'event_id' AS column_name, count(*) AS n_rows,
           count(*) - count(event_id) AS n_null,
           count(DISTINCT event_id)::BIGINT AS n_distinct FROM events
         UNION ALL SELECT 'event_type', count(*),
           count(*) - count(event_type),
           count(DISTINCT event_type)::BIGINT FROM events
         UNION ALL SELECT 'props', count(*), count(*) - count(props),
           count(DISTINCT props)::BIGINT FROM events
         UNION ALL SELECT 'ts', count(*), count(*) - count(ts),
           count(DISTINCT ts)::BIGINT FROM events
         UNION ALL SELECT 'user_id', count(*), count(*) - count(user_id),
           count(DISTINCT user_id)::BIGINT FROM events
         UNION ALL SELECT 'value', count(*), count(*) - count(value),
           count(DISTINCT value)::BIGINT FROM events
         ORDER BY column_name""",
    // q126: the oracle is the PLAIN join — no false negatives means the
    // bloom prefilter must be semantically invisible
    "q126_bloom_prejoin_revenue" ->
      """SELECT n_name,
           count(*) AS n_events,
           round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
         FROM events
         JOIN customer ON user_id = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE ts IS NOT NULL AND c_mktsegment = 'AUTOMOBILE'
         GROUP BY 1 ORDER BY 1""",
    // q175: the plain join — the injected bloom filter must be
    // semantically invisible (no false negatives; the join removes
    // the false positives)
    "q175_runtime_bloom_join" ->
      """SELECT l_returnflag, count(*) AS n_lines,
           round(sum(CAST(l_extendedprice * (1.0 - l_discount)
             AS DECIMAL(18,4)))::DOUBLE, 4) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY 1 ORDER BY 1""",
    // q123: the oracle evaluates the DECLARATIVE half-open interval
    // containment over the non-purchase run table — an independent
    // formulation of the union-tag running-last the Spark plan
    // executes; the shared epoch_ns // 1000 µs convention throughout
    "q123_point_in_time_join" ->
      """WITH base AS (
           SELECT user_id, event_id, event_type,
             epoch_ns(ts) // 1000 AS tsu
           FROM events WHERE ts IS NOT NULL),
         ev AS (SELECT * FROM base WHERE event_type <> 'purchase'),
         m AS (
           SELECT *, CASE WHEN lag(event_type) OVER w
               IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
         r AS (
           SELECT *, sum(chg) OVER (PARTITION BY user_id
             ORDER BY tsu, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             AS run_id
           FROM m),
         runs AS (
           SELECT user_id, run_id, min(event_type) AS state,
             min(tsu) AS valid_from_us
           FROM r GROUP BY 1, 2),
         iv AS (
           SELECT user_id, state, valid_from_us,
             coalesce(lead(valid_from_us) OVER (PARTITION BY user_id
               ORDER BY run_id), 9223372036854775807) AS valid_to_us
           FROM runs)
         SELECT p.event_id AS probe_id, p.user_id, p.tsu AS probe_tsu,
           iv.state AS state_at
         FROM base p
         LEFT JOIN iv ON p.user_id = iv.user_id
           AND iv.valid_from_us <= p.tsu AND p.tsu < iv.valid_to_us
         WHERE p.event_type = 'purchase'
         ORDER BY p.event_id""",
    // q138: identical collapse→sweep (same window frame); price is a
    // carried stored double, day is exact BIGINT
    "q138_pareto_frontier" ->
      """WITH pts AS (
           SELECT c.c_mktsegment, o.o_totalprice AS price,
             epoch_ms(o.o_orderdate) // 1000 // 86400 AS day,
             count(*) AS n_orders
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           GROUP BY 1, 2, 3),
         sweep AS (
           SELECT *, max(price) OVER (PARTITION BY c_mktsegment
             ORDER BY day DESC, price DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
           FROM pts)
         SELECT c_mktsegment, day, price, n_orders FROM sweep
         WHERE prev_max IS NULL OR price > prev_max
         ORDER BY c_mktsegment, day""",
    "q104_full_outer_reconciliation" ->
      """WITH a AS (
           SELECT user_id, count(*) AS n_events
           FROM events WHERE ts IS NOT NULL GROUP BY 1)
         SELECT coalesce(a.user_id, c.c_custkey) AS uid,
           CASE WHEN a.user_id IS NULL THEN 'customer_only'
                WHEN c.c_custkey IS NULL THEN 'events_only'
                ELSE 'both' END AS presence,
           coalesce(a.n_events, 0) AS n_events,
           c.c_mktsegment
         FROM a FULL OUTER JOIN customer c ON a.user_id = c.c_custkey
         ORDER BY 1""",
    // q105: DuckDB's native JSON operators as the independent
    // re-implementation. The json_valid + json_type guard mirrors
    // Spark's from_json(LongType) strictness EXACTLY (probed on the
    // full matrix: {"k":12}→12; string "12", double 12.5, corrupt
    // JSON, missing key, NULL → all NULL) — a bare CAST(props->>'k')
    // would coerce string-typed "12" and ABORT on corrupt JSON
    // (round-8 review)
    // q251: the variant path replayed through DuckDB JSON — json_valid
    // mirrors try_parse_json, the integer-type guard mirrors the
    // variant decoder on this corpus's integer payloads (string/double
    // cast edges are pinned fixture-side in RelationalSpec), and
    // json_structure stands in for schema_of_variant at equal
    // distinct-cardinality
    "q251_variant_props_stats" ->
      """WITH x AS (
           SELECT event_type,
             CASE WHEN json_valid(props) THEN props END AS vp,
             CASE WHEN json_valid(props)
                    AND json_type(json_extract(props, '$.k'))
                        IN ('BIGINT', 'UBIGINT')
               THEN CAST(props->>'k' AS BIGINT) END AS k
           FROM events WHERE ts IS NOT NULL)
         SELECT event_type,
           count(vp) AS n_variant,
           count(k) AS n_with_k,
           coalesce(sum(k), 0)::BIGINT AS k_sum,
           min(k) AS k_min,
           max(k) AS k_max,
           count(DISTINCT json_structure(vp))::BIGINT AS n_shapes
         FROM x GROUP BY 1 ORDER BY 1""",
    "q105_json_props_stats" ->
      """WITH x AS (
           SELECT event_type,
             CASE WHEN json_valid(props)
                    AND json_type(json_extract(props, '$.k'))
                        IN ('BIGINT', 'UBIGINT')
               THEN CAST(props->>'k' AS BIGINT) END AS k
           FROM events WHERE ts IS NOT NULL)
         SELECT event_type,
           count(k) AS n_with_k,
           count(*) AS n,
           coalesce(sum(k), 0)::BIGINT AS k_sum,
           min(k) AS k_min,
           max(k) AS k_max,
           CASE WHEN count(k) > 0 THEN
             round(coalesce(sum(k), 0)::DOUBLE / count(k)::DOUBLE, 6)
           END AS k_avg
         FROM x GROUP BY 1 ORDER BY 1""",
    "q28_value_percentiles" ->
      """SELECT event_type,
         round(quantile_cont(value, 0.5), 6) AS p50,
         round(quantile_cont(value, 0.95), 6) AS p95,
         round(quantile_cont(value, 0.99), 6) AS p99
         FROM events GROUP BY 1 ORDER BY 1""",
    "q29_latest_event_per_user" ->
      """SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, event_type
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    "q26_spend_quartiles" ->
      """SELECT c_mktsegment, c_custkey,
         ntile(4) OVER w AS quartile,
         first_value(c_acctbal) OVER
           (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS seg_top,
         last_value(c_acctbal) OVER
           (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS seg_bottom
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
         ORDER BY c_mktsegment, c_custkey""",
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity),2) AS sum_qty,
         round(sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE,2) AS sum_base_price,
         round(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4)))::DOUBLE,4) AS sum_disc_price,
         round(avg(l_quantity),6) AS avg_qty,
         round(avg(l_extendedprice),6) AS avg_price,
         count(*) AS count_order
         FROM lineitem GROUP BY 1,2 ORDER BY 1,2""",
    "q02_revenue_by_segment" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         round(sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE,2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    "q03_top_orders" ->
      """SELECT o_orderkey, c_name, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q04_cust_order_counts" ->
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
         round(coalesce(sum(o_totalprice),0),2) AS total_spend
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY 1,2 ORDER BY 1""",
    "q05_big_spenders_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
         ORDER BY c_custkey""",
    "q06_never_finished_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         ORDER BY c_custkey""",
    "q07_set_ops" ->
      """SELECT o_custkey FROM (
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
           UNION
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         )
         EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0
         ORDER BY o_custkey""",
    "q08_rollup_status_priority" ->
      """SELECT coalesce(o_orderstatus,'ALL') AS status,
         coalesce(o_orderpriority,'ALL') AS priority,
         count(*) AS n,
         round(sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE,2) AS revenue
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY 1,2""",
    "q09_cube_region_nation" ->
      """SELECT coalesce(r_name,'ALL') AS region, coalesce(n_name,'ALL') AS nation,
         count(*) AS n_cust, round(sum(c_acctbal),2) AS acctbal_sum
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY CUBE (r_name, n_name) ORDER BY 1,2""",
    "q10_segment_top_accounts" ->
      """SELECT c_mktsegment, rnk, c_custkey, c_acctbal FROM (
           SELECT c_mktsegment, c_custkey, c_acctbal,
             rank() OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal DESC, c_custkey) AS rnk
           FROM customer)
         WHERE rnk <= 3 ORDER BY c_mktsegment, rnk, c_custkey""",
    "q11_running_revenue" ->
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_spend
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q12_order_gaps" ->
      """SELECT o_custkey, o_orderkey,
         coalesce(date_diff('day',
           (lag(o_orderdate) OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey))::DATE,
           o_orderdate::DATE), -1)::BIGINT AS gap_days
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q13_distinct_users_by_type" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM events GROUP BY 1 ORDER BY 1""",
    // q14: the exact side is recomputed; the HLL estimate has no DuckDB
    // twin, so its ±5% contract is gated as a boolean the oracle
    // expects TRUE — a drifting sketch flips it and fails the hash
    "q14_approx_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
           TRUE AS hll_within_5pct
         FROM events GROUP BY 1 ORDER BY 1""",
    // q114: exact top-k recomputed (ordering included); the CMS
    // contracts (never underestimates, overcount <= ceil(eps*N)) gated
    // as booleans expected TRUE
    "q114_cms_heavy_hitters" ->
      """WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL)
         SELECT user_id, count(*)::BIGINT AS exact_n,
           TRUE AS cms_never_under, TRUE AS cms_within_eps_n
         FROM ev GROUP BY 1
         ORDER BY exact_n DESC, user_id LIMIT 20""",
    // q297: exact distinct recomputed; the merge identity (a
    // mathematical certainty unless partial aggregation breaks) and
    // the k-min estimator's 4σ bound gated as booleans expected TRUE
    "q297_minhash_union" ->
      """SELECT event_type,
           count(DISTINCT user_id)::BIGINT AS n_exact,
           TRUE AS merge_matches_direct, TRUE AS est_within_50pct
         FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
         GROUP BY 1 ORDER BY 1""",
    "q15_value_histogram" ->
      """SELECT (floor(value/50.0)*50)::BIGINT AS bin,
         CASE WHEN value >= 150.0 THEN 'high'
              WHEN value >= 50.0 THEN 'mid' ELSE 'low' END AS tier,
         count(*) AS n, round(sum(value),2) AS value_sum
         FROM events GROUP BY 1,2 ORDER BY 1,2""",
    "q16_props_key_stats" ->
      """SELECT event_type, round(avg(k),6) AS k_avg, min(k) AS k_min,
         max(k) AS k_max, count(*) AS n
         FROM (SELECT event_type,
                 TRY_CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS BIGINT) AS k
               FROM events)
         WHERE k IS NOT NULL GROUP BY 1 ORDER BY 1""",
    "q17_monthly_orders" ->
      """SELECT date_trunc('month', o_orderdate)::DATE AS month,
         count(*) AS n_orders,
         round(sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE,2) AS revenue
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q18_events_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events ORDER BY 1,2""",
    "q19_star_join_revenue" ->
      """SELECT r_name,
         round(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4)))::DOUBLE,4) AS revenue,
         count(*) AS n_lines
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1 ORDER BY 1""",
    "q38_event_type_pivot" ->
      """SELECT user_id,
         count(*) FILTER (WHERE event_type = 'click') AS click,
         count(*) FILTER (WHERE event_type = 'error') AS error,
         count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
         count(*) FILTER (WHERE event_type = 'signup') AS signup,
         count(*) FILTER (WHERE event_type = 'view') AS view,
         count(*) FILTER (WHERE event_type IN
           ('click','error','purchase','signup','view')) AS n_total
         FROM events GROUP BY 1 ORDER BY 1""",
    "q39_event_type_unpivot" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
         t AS (SELECT unnest(['click','error','purchase','signup','view'])
                 AS event_type),
         c AS (SELECT user_id, event_type, count(*) AS n
               FROM events GROUP BY 1, 2)
         SELECT u.user_id, t.event_type, coalesce(c.n, 0) AS n
         FROM u CROSS JOIN t
         LEFT JOIN c ON u.user_id = c.user_id AND t.event_type = c.event_type
         ORDER BY 1, 2""")
}
