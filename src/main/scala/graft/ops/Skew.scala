package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Skew-safe aggregation patterns + the statistics aggregates the
  * reference computes pandas-side (tag/main.py:140,163 — mean and
  * correlation), done engine-side.
  *
  * The reference's data has >10× key skew (BASELINE.md: top entity
  * 331,867 mentions vs 30,435 for #2). For associative aggregates Spark
  * already combines map-side, so a hot GROUP BY key is usually fine;
  * the salting pattern below is for the residual cases (huge per-key
  * state, or AQE disabled) and is oracle-checked to produce results
  * identical to the direct aggregation.
  */
object Skew {

  val saltBuckets = 16

  /** Two-phase salted aggregation over a skewed key: phase 1 aggregates
    * (key, salt) — spreading one hot key over `saltBuckets` reducers —
    * phase 2 merges the partials per key. Identical result to a direct
    * groupBy (sum/count are associative; avg is re-derived from the
    * merged sums, never averaged-of-averages).
    */
  def saltedTypeStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(saltBuckets)))
      // per-row DECIMAL quantization (the repo's money-sum discipline):
      // double sums over full per-type groups are order-dependent and
      // would drift from the oracle at larger scale factors
      .withColumn("value_q",
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .groupBy("event_type", "salt")
      .agg(
        count(lit(1)).as("n_part"),
        sum("value_q").as("sum_part"))
      .groupBy("event_type")
      .agg(
        sum("n_part").as("n"),
        round(sum("sum_part").cast("double"), 2).as("value_sum"),
        // divide in double (exact decimal sum → deterministic cast →
        // one fp division), avoiding engine-specific decimal-division
        // scale rules
        round(sum("sum_part").cast("double") / sum("n_part").cast("double"), 6)
          .as("value_avg"))
      .orderBy("event_type")

  /** Pearson correlation + sample stddev per group (A7's corr matrix,
    * engine-side). Spark and DuckDB both use the numerically-stable
    * one-pass co-moment formulation.
    */
  def corrStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qty_price"),
        round(stddev_samp("l_quantity"), 6).as("sd_qty"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** The registered q102 probability cuts. */
  val quantilePs: Seq[Double] = Seq(0.5, 0.9, 0.99)

  /** q102 — EXACT per-group quantiles (p50/p90/p99 of `value` per event
    * type), discrete semantics: each percentile is the smallest actual
    * data value whose cumulative share reaches the cut (SQL
    * `percentile_disc`). No interpolation ever happens, so the result
    * is an element of the input — which is what makes an exact-quantile
    * query HASH-oracle-checkable at all: both engines pick the same
    * stored double via the same comparison, rather than re-deriving a
    * float midpoint whose arithmetic could differ in the last ulp.
    * (The built-in `percentile_disc`/`quantile_disc` aggregates are NOT
    * used for exactly that reason: the two engines' index arithmetic —
    * ceil(n·p) vs floor((n−1)·p) conventions — disagrees on some (n, p),
    * so the selection rule is spelled out once and run identically.)
    *
    * Scale shape: the value domain is COLLAPSED first — groupBy
    * (type, value) with map-side partial counts — so the ordered pass
    * (one running-sum window per type) runs over distinct values, not
    * rows; a 100 TB stream of a quantized metric (prices, latencies in
    * ms, ratings) reduces to its value histogram before anything sorts.
    * The cumulative/total comparison is one double division of exact
    * longs per distinct value, identical in both engines. For a truly
    * continuous unquantized column at extreme scale the exact ordered
    * pass is inherently per-group sequential — that regime wants the
    * built-in `approx_percentile` sketch (mergeable, one pass), which
    * this query deliberately is not: q102 is the exact gate the sketch
    * gets judged against.
    */
  def valueQuantiles(spark: SparkSession, dir: String): DataFrame =
    quantilesCore(Tables.eventsMicros(spark, dir)
      .filter(col("value").isNotNull))

  /** THE discrete-selection kernel (one histogram collapse + one
    * running-share window per call): per event_type, each cut is the
    * smallest stored value whose cumulative share reaches p. q102's
    * quantiles and q119's two median selections all run through here —
    * one definition of the rule the engine quantile builtins disagree
    * on, so a future tweak can't silently diverge the call sites.
    */
  /** `preBounds`: None → the classic per-group window (one exchange, no
    * probe job — right for the small per-group cardinalities every
    * consumer but q161 has; a two-phase rewrite measured 2–4× SLOWER
    * for them, r17: the boundary probe is an extra pass and the
    * value-grain agg ran twice). Some(bounds) → two-phase per-group
    * running counts over deterministic value-buckets (the
    * GlobalIndex.prefixSummedBy discipline) for callers whose hottest
    * group's value cardinality is corpus-sized — q161's stacked
    * l_extendedprice put ~600k distinct values through ONE window task.
    * Boundaries are balance-only; the cut selection reads the identical
    * exact (cum, n) integers either way, so outputs are bit-identical.
    */
  private[graft] def cumeCuts(df: DataFrame, valCol: String,
                              cuts: Seq[(String, Double)],
                              extras: Seq[Column] = Nil,
                              groupCol: String = "event_type",
                              preBounds: Option[Seq[Double]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cutOf = { (cumC: Column, nC: Column) =>
      cuts.map { case (name, p) =>
        min(when(cumC.cast("double") / nC.cast("double") >= p,
          col(valCol))).as(name)
      }
    }
    val grain = df.groupBy(groupCol, valCol).agg(count(lit(1)).as("c"))
    val cum = preBounds match {
      case None =>
        val run = Window.partitionBy(groupCol).orderBy(valCol)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val whole = Window.partitionBy(groupCol)
        grain
          .withColumn("cum", sum("c").over(run))
          .withColumn("n", sum("c").over(whole))
      case Some(bounds) =>
        val ranged = GlobalIndex.rangedDeterministic(grain, Seq(valCol),
          Some(bounds))
        val run = Window.partitionBy(groupCol, "pid").orderBy(valCol)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val local = ranged.withColumn("lcum", sum("c").over(run))
        val offW = Window.partitionBy(groupCol).orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)
        val totW = Window.partitionBy(groupCol)
        // null-safe group equality: a NULL group key is a legitimate
        // window partition and must not fall out of the join
        val offsets = local.groupBy(groupCol, "pid").agg(sum("c").as("pc"))
          .withColumn("off", coalesce(sum("pc").over(offW), lit(0L)))
          .withColumn("n", sum("pc").over(totW))
          .select(col(groupCol).as("__g"), col("pid").as("__p"),
            col("off"), col("n"))
        local.join(broadcast(offsets),
            col(groupCol) <=> col("__g") && col("pid") === col("__p"))
          .withColumn("cum", col("off") + col("lcum"))
    }
    val cutCols = cutOf(col("cum"), col("n"))
    cum.groupBy(groupCol)
      .agg(cutCols.head, (cutCols.tail ++ extras): _*)
  }

  private[graft] def quantilesCore(ev: DataFrame): DataFrame =
    cumeCuts(ev, "value",
      quantilePs.map(p => s"p${(p * 100).round}" -> p),
      Seq(min("value").as("v_min"), max("value").as("v_max"),
        max("n").as("n")))
      .orderBy("event_type")

  /** q119 — ROBUST outlier accounting per event type: median + MAD
    * (median absolute deviation) instead of mean + stddev, the
    * data-quality gate that doesn't let the outliers it hunts poison
    * the threshold itself (one bot burst drags a mean/σ fence wide
    * open; the median pair shrugs). Flags |x − med| > 3·MAD.
    *
    * Everything is EXACT: both medians are order statistics selected by
    * the q102 cume-share rule (engine quantile builtins disagree on
    * index conventions — the rule is spelled out identically on both
    * sides), deviations are single IEEE subtractions of data values,
    * and the 3·MAD fence is one exact multiply — no accumulated float
    * anywhere, so the count hash-matches. Same distinct-value collapse
    * before the per-type windows as q102 (and the same deliberate
    * exactness: this is the gate a sketched variant would be judged
    * against). Three passes over events, all exchanges on event_type.
    */
  def madOutliers(spark: SparkSession, dir: String): DataFrame =
    madCore(Tables.eventsMicros(spark, dir).filter(col("value").isNotNull))

  /** The same kernel, single 0.5 cut — q119's two medians. */
  private def medianOf(df: DataFrame, valCol: String, outName: String): DataFrame =
    cumeCuts(df, valCol, Seq(outName -> 0.5))

  private[graft] def madCore(ev0: DataFrame): DataFrame = {
    val ev = ev0.select("event_type", "value")
    val med = medianOf(ev, "value", "med")
    val withDev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = medianOf(withDev.select("event_type", "dev"), "dev", "mad")
    withDev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min("med").as("med"), min("mad").as("mad"), // constant per group
        sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_ratio",
        round(col("n_outliers").cast("double") / col("n").cast("double"), 6))
      .select("event_type", "n", "med", "mad", "n_outliers", "outlier_ratio")
      .orderBy("event_type")
  }

  /** q213 — FEATURE-SCALING PARAMETER TABLE (z-score normalization
    * stats): per event type, n, mean and sample variance of the value
    * column as exact scaled integers — the "fit" half of a
    * StandardScaler, exported as a model table the serving side joins
    * against (the training-pipeline twin of q119: that one FENCES with
    * robust stats, this one NORMALIZES with moments). Consumers derive
    * σ = √(var) themselves — no square root enters the gated surface
    * (the q69 no-transcendentals stance).
    *
    * One pass, algebraic: (n, Σv, Σv²) map-side-combine like any sum
    * (q201's sufficient-statistics argument applied to moments), then
    * two truncating divisions. DECIMAL(38,0) sums: Σvm² reaches 1e22
    * at 100 TB magnitudes — far past 2⁶³, decimal or wrong. Sample
    * variance via the exact integer identity
    * (n·Σv² − (Σv)²) div (n·(n−1)); single-row groups → null via
    * nullif rather than a division error.
    */
  def zscoreParams(spark: SparkSession, dir: String): DataFrame =
    zscoreCore(Tables.eventsMicros(spark, dir)
      .filter(col("value").isNotNull))

  private[graft] def zscoreCore(ev: DataFrame): DataFrame =
    ev.select(col("event_type"),
        expr("cast(floor(value * 1000.0D) as bigint)").as("vm"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_values"),
        sum(expr("cast(vm as decimal(38,0))")).as("sv"),
        sum(expr("cast(vm as decimal(38,0)) * vm")).as("svv"))
      // n=1 is the one honest NULL for the sample variance (its own
      // predicate); any other NULL — a sum or the sv·sv square passing
      // DECIMAL(38,0), or a quotient passing 2⁶³ on the bigint cast —
      // is overflow and raises rather than shipping a silent NULL the
      // oracle's HUGEINT would contradict (round-11 ADVICE)
      .select(col("event_type"), col("n_values"),
        Exact.orOverflowError(expr("cast(sv div n_values as bigint)"),
          "q213 mean_milli").as("mean_milli"),
        when(col("n_values") <= 1, lit(null).cast("long"))
          .otherwise(Exact.orOverflowError(
            expr("""cast((n_values * svv - sv * sv)
                    div (n_values * cast(n_values - 1 as decimal(38,0)))
                    as bigint)"""), "q213 var_milli2")).as("var_milli2"))
      .orderBy("event_type")

  /** q149 sketch accuracy (approx_percentile's rank-error knob). */
  val approxAccuracy = 10000

  /** q149 — the MERGEABLE-SKETCH quantile path q102's scaladoc promises
    * ("for a truly continuous column at extreme scale the exact ordered
    * pass wants approx_percentile"): the same three cuts per event
    * type via Spark's built-in KLL-style sketch — one pass, map-side
    * mergeable, no ordered pass at all.
    *
    * ORACLE-GATED since r13 (r12 verdict task 5 — formerly rows-only):
    * the sketch's picks are engine-specific (DuckDB's approx_quantile
    * is a different sketch), but the ACCURACY CONTRACT is checkable —
    * each pick's true-rank interval must sit within max(1, ⌈n/acc⌉) of
    * the target rank ⌈p·n⌉. The registered shape emits the exact row
    * count (DuckDB recomputes it) plus one contract boolean per cut,
    * expected TRUE by the oracle; a sketch past its published rank
    * error flips a bit and fails the hash. The raw picks stay visible
    * through [[approxQuantilesCore]] and its SkewSpec pin.
    *
    * Scale: the rank audit is one broadcast join of the ≤(types×3)
    * pick rows against the value scan + one hash agg — the same
    * single-pass shape as the sketch build it audits.
    */
  def approxQuantiles(spark: SparkSession, dir: String): DataFrame =
    approxQuantilesGate(Tables.eventsMicros(spark, dir)
      // NULL event_type excluded symmetrically with the oracle (the
      // q280 discipline): the gate's null-unsafe broadcast join on
      // event_type would otherwise drop the NULL group the oracle's
      // GROUP BY keeps (r13 review)
      .filter(col("value").isNotNull && col("event_type").isNotNull))

  private[graft] def approxQuantilesGate(ev0: DataFrame): DataFrame = {
    val ev = ev0.select("event_type", "value")
    val detail = approxQuantilesCore(ev)
    val picks = detail.select(col("event_type"), col("n"),
      explode(array(quantilePs.map { p =>
        val q = (p * 100).round
        struct(lit(q).as("pq"), col(s"p${q}_approx").as("pick"))
      }: _*)).as("pp"))
      .select(col("event_type"), col("n"),
        col("pp.pq").as("pq"), col("pp.pick").as("pick"))
    val ranks = ev.join(broadcast(picks), Seq("event_type"))
      .groupBy("event_type", "n", "pq", "pick")
      .agg(
        count(when(col("value") < col("pick"), 1)).as("cnt_lt"),
        count(when(col("value") <= col("pick"), 1)).as("cnt_le"))
    // pick's true-rank interval is (cnt_lt, cnt_le]; it must come
    // within tol of the target rank ceil(p*n) — all exact integers
    val ok = ranks
      .withColumn("target", expr("(n * pq + 99) div 100"))
      .withColumn("tol", greatest(lit(1L),
        expr(s"(n + ${approxAccuracy - 1}) div $approxAccuracy")))
      .withColumn("ok",
        col("cnt_le") + col("tol") >= col("target") &&
          col("cnt_lt") + 1 <= col("target") + col("tol"))
    val aggs = max("n").as("n") +: quantilePs.map { p =>
      val q = (p * 100).round
      max(when(col("pq") === q, col("ok"))).as(s"p${q}_ok")
    }
    ok.groupBy("event_type")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("event_type")
  }

  private[graft] def approxQuantilesCore(ev: DataFrame): DataFrame = {
    val ps = quantilePs.mkString("array(", ", ", ")")
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr(s"approx_percentile(value, $ps, $approxAccuracy)").as("aps"))
      .select(col("event_type") +: col("n") +:
        quantilePs.zipWithIndex.map { case (p, i) =>
          col("aps").getItem(i).as(s"p${(p * 100).round}_approx")
        }: _*)
      .orderBy("event_type")
  }

  /** q150 clip percentiles (the winsorization fences). */
  val winsorPs: Seq[(String, Double)] = Seq("p01" -> 0.01, "p99" -> 0.99)

  /** q150 — WINSORIZED feature statistics: per event type, clip `value`
    * at the exact p01/p99 order statistics (the q102 discrete rule) and
    * report what training-data preprocessing needs to know — how many
    * rows each fence clipped and the moments of the clipped feature.
    * The standard tail-taming transform before model fitting: unlike
    * q119's MAD fence (which COUNTS outliers), this one REWRITES them
    * to the fence value, so the emitted sum is the post-transform
    * feature the pipeline would actually train on.
    *
    * Exact throughout: fences are stored data values selected by the
    * shared cume-share rule; clipping is a comparison; the clipped sum
    * quantizes per-row to DECIMAL before summing (the money-sum
    * discipline — order-independent, so it hashes), and returns to
    * double rounded at the end.
    */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame =
    winsorizedCore(Tables.eventsMicros(spark, dir)
      .filter(col("value").isNotNull))

  private[graft] def winsorizedCore(ev0: DataFrame): DataFrame = {
    val ev = ev0.select("event_type", "value")
    val fences = cumeCuts(ev, "value", winsorPs)
    ev.join(broadcast(fences), "event_type")
      .withColumn("clipped",
        when(col("value") < col("p01"), col("p01"))
          .when(col("value") > col("p99"), col("p99"))
          .otherwise(col("value")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("p01"), 1L).otherwise(0L))
          .as("n_clipped_low"),
        sum(when(col("value") > col("p99"), 1L).otherwise(0L))
          .as("n_clipped_high"),
        min("p01").as("fence_low"), min("p99").as("fence_high"),
        round(sum(col("clipped")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double"), 2).as("clipped_sum"))
      .orderBy("event_type")
  }

  /** q160 — HLL SKETCH MERGEABILITY: per-type HyperLogLog sketches of
    * the user set (Apache DataSketches via hll_sketch_agg, lgK=12 ≈
    * 0.8 % standard error), UNIONED into the global cardinality WITHOUT
    * rescanning — plus the exact counts alongside, so every row carries
    * its own observed err_ppm. Mergeability is the entire reason
    * sketches exist at 100 TB: partial sketches from yesterday's
    * partitions union with today's in O(sketch) instead of re-reading
    * the year; the `__all__` row here is computed from the per-type
    * sketch column, proving the union path (q14's plain
    * approx_count_distinct can't do this — its estimate is terminal).
    * Rows-only by design: sketch estimates are engine-specific; the
    * error contract vs exact and union-equals-rescan are pinned in
    * SkewSpec.
    */
  def hllMergeability(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val perType = ev.groupBy("event_type").agg(
      hll_sketch_agg(col("user_id"), lit(12)).as("sk"),
      countDistinct(col("user_id")).as("exact_users"))
    val typed = perType.select(
      col("event_type").as("scope"),
      hll_sketch_estimate(col("sk")).as("approx_users"),
      col("exact_users"))
    // global row: union of the per-type sketches — no second scan of ev
    val global = perType.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"), lit(true)))
        .as("approx_users"),
      lit(null).cast("long").as("exact_users"))
      .select(lit("__all__").as("scope"), col("approx_users"),
        col("exact_users"))
    val globalExact = ev.agg(countDistinct(col("user_id")).as("ge"))
    typed.unionByName(global.crossJoin(broadcast(globalExact)) // single-row
      .withColumn("exact_users", col("ge")).drop("ge"))
      .withColumn("err_ppm",
        expr("abs(approx_users - exact_users) * 1000000 div exact_users"))
      .orderBy("scope")
  }

  /** q339 register count (2⁸ — the md5 twin's lgK=8; small enough that
    * the oracle's register table stays readable, large enough that the
    * fixture exercises real collisions and the merge law non-vacuously).
    */
  val hllMd5M = 256L

  /** q339 — MD5-DERIVED HLL REGISTERS + THE MERGE LAW, fully
    * oracle-gated (r16 verdict task 4: the q330-move for sketches).
    * q160's DataSketches HLL is rows-only by design — its register
    * hashing is engine-specific — but the MERGEABILITY PATTERN only
    * needs SOME shared hash: here each user's register comes from md5
    * (bit-identical in both engines), so the whole sketch RELATION
    * replays: register idx = the digest's first byte (lgK=8, m=256),
    * rho = leading-zero count of the next 32 bits + 1 (33 for zero —
    * the standard HLL register value, computed cross-engine as
    * `33 - length(bin(v))`), per-(scope, idx) max.
    *
    * The LAW becomes the hash gate itself: the engine's `__all__` row
    * max-MERGES the per-type register tables (no second scan of
    * events — the entire point of sketches at 100 TB); the oracle
    * recomputes the global registers from SCRATCH. Row equality is
    * exactly merge-equals-rescan, register by register — far stronger
    * than q160's err-bound check. Integer columns only (nz, Σrho, and
    * the estimate's harmonic denominator in parts-per-billion —
    * Σ 10⁹ div 2^M over all m registers) so every value is exact in
    * both engines; q160 stays registered for the production
    * DataSketches path.
    *
    * Scale: one codegen'd md5 projection over the scan, one hash agg
    * to the (type, 256)-bounded register table, then O(sketch)
    * merges — the register table is checkpointed once and feeds both
    * the per-type stats and the merge, so events is scanned exactly
    * once for the sketch side (plus the exact-count scan the law is
    * being compared against).
    */
  def hllMd5(spark: SparkSession, dir: String): DataFrame =
    hllMd5Core(Tables.events(spark, dir))

  private[graft] def hllMd5Core(ev0: DataFrame): DataFrame = {
    val ev = ev0.filter(col("user_id").isNotNull
      && col("event_type").isNotNull)
    val reg = ev
      .select(col("event_type"),
        md5(col("user_id").cast("string").cast("binary")).as("h"))
      .select(col("event_type"),
        expr("cast(conv(substring(h, 1, 2), 16, 10) as int)").as("idx"),
        expr("cast(conv(substring(h, 3, 8), 16, 10) as bigint)").as("v"))
      .groupBy(col("event_type"), col("idx"))
      .agg(max(expr("if(v = 0, 33L, 33L - length(bin(v)))")).as("m"))
      .localCheckpoint(true) // (type × ≤256)-bounded; feeds stats + merge
    def stats(grouped: org.apache.spark.sql.RelationalGroupedDataset) =
      grouped.agg(
        count(lit(1)).as("nz"),
        sum("m").as("sum_rho"),
        ((lit(hllMd5M) - count(lit(1))) * lit(1000000000L)
          + sum(expr("1000000000L div shiftleft(1L, cast(m as int))")))
          .as("denom_ppb"))
    val typed = stats(reg.groupBy(col("event_type").as("scope")))
      .join(ev.groupBy(col("event_type").as("scope"))
        .agg(countDistinct("user_id").as("exact_users")), "scope")
    val merged = reg.groupBy("idx").agg(max("m").as("m"))
    val global = stats(merged.groupBy())
      .select(lit("__all__").as("scope"), col("nz"), col("sum_rho"),
        col("denom_ppb"))
      .crossJoin(broadcast( // single-row global exact total (q160's pattern)
        ev.agg(countDistinct("user_id").as("exact_users"))))
    typed.unionByName(global).orderBy("scope")
  }

  /** Replication factor for the manually salted JOIN (q168): the hot
    * key's rows spread over this many reducers, the compact side is
    * replicated this many times. 8 bounds the replication blowup while
    * cutting the hot partition ~8×.
    */
  val joinSaltFactor = 8L

  /** The deliberately skewed q168 join key, applied to BOTH sides:
    * ~30 % of rows collapse onto key 0 (ids ending 0/1/2), the rest
    * keep their id. Content-derived — the oracle re-derives it with the
    * same CASE, and the fixture-free skew is real: one key carries
    * 30 % of a table that hash-partitions everything else uniformly.
    */
  private[graft] def skewedKeySql(idCol: String): String =
    s"CASE WHEN $idCol % 10 < 3 THEN 0 ELSE $idCol END"

  /** The two-phase replicate-and-salt join — seam for the spec's plan
    * and balance asserts. `ev` carries the skewed key `k` plus a unique
    * `event_id`; `compact` is key-unique on `k`. Phase 1: each fact row
    * gets a deterministic salt (hash of its unique id — no rand(), so
    * retries and the oracle comparison stay stable). Phase 2: the
    * compact side is replicated once per salt value with one explode.
    * The join key becomes (k, salt), so the hot key's rows land on
    * `joinSaltFactor` reducers instead of one. Semantically invisible:
    * every fact row still matches exactly its key's one compact row —
    * via the single replica carrying that row's salt.
    */
  private[graft] def saltedJoin(ev: DataFrame, compact: DataFrame): DataFrame = {
    val salted = ev.withColumn("salt",
      pmod(xxhash64(col("event_id")), lit(joinSaltFactor)))
    val replicated = compact.withColumn("salt",
      explode(sequence(lit(0L), lit(joinSaltFactor - 1))))
    salted.join(replicated, Seq("k", "salt"))
  }

  /** q168 — MANUALLY SALTED SKEW JOIN: the proactive fallback for the
    * fact-fact join AQE's reactive skew split can't fix (pre-bucketed
    * or pre-sorted inputs pin the partitioning, and AQE only splits
    * SMJ/SHJ post-shuffle stats it's allowed to re-plan). q24 salts an
    * AGGREGATION and q164 audits which keys would need this; q168 is
    * the join itself: events (30 % of rows on one hot key) joined to a
    * per-key compact frame, with broadcast disabled to exercise the
    * shuffle path the pattern exists for. At 100 TB the unsalted
    * version puts the hot key's entire row set on ONE reducer — the
    * straggler that holds the stage; salting bounds every partition at
    * ~1/joinSaltFactor of the hot key. The oracle runs the PLAIN join —
    * salting must be semantically invisible.
    */
  def saltedSkewJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val ev = Tables.eventsMicros(spark, dir).select(
        expr(skewedKeySql("user_id")).as("k"),
        col("event_id"), col("event_type"), col("value"))
      val compact = Tables.orders(spark, dir)
        .groupBy(expr(skewedKeySql("o_custkey")).as("k"))
        .agg(count(lit(1)).as("n_orders"))
      val out = saltedJoin(ev, compact)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          sum("n_orders").as("orders_sum"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("value_sum"))
        .orderBy("event_type")
      // materialize while broadcast is still pinned off
      out.localCheckpoint(true)
    }

  /** The q161 audited columns. */
  private[graft] val statColumns =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** The q169 audited string columns, (table, column) — two tables,
    * one stacked scan each. c_name is the high-NDV contrast to the
    * enum-like flag/segment columns.
    */
  private[graft] val stringStatColumns: Seq[(String, Seq[String])] = Seq(
    "customer" -> Seq("c_name", "c_mktsegment"),
    "lineitem" -> Seq("l_returnflag", "l_linestatus"))

  /** One table's contribution to q169: stack the string columns into
    * (column_name, value) rows so the whole audit is a single scan and
    * one hash agg — the q161 discipline, string branch. avg length is
    * exact integer ppm (len_sum·10⁶ div n_values, DECIMAL-widened).
    */
  private[graft] def stringStatsOne(df: DataFrame, table: String,
                                    cols: Seq[String]): DataFrame = {
    val stacked = df.select(expr(
      s"stack(${cols.size}, " +
        cols.map(c => s"'$c', $c").mkString(", ") +
        ") AS (column_name, value)"))
    val total = df.agg(count(lit(1)).as("n_rows"))
    stacked.filter(col("value").isNotNull)
      .groupBy("column_name")
      .agg(
        count(lit(1)).as("n_values"),
        countDistinct(col("value")).as("ndv"),
        min("value").as("v_min"),
        max("value").as("v_max"),
        sum(length(col("value"))).as("len_sum"))
      .crossJoin(broadcast(total)) // single-row frame (sanctioned)
      .select(
        concat(lit(s"$table."), col("column_name")).as("column_name"),
        col("n_rows"),
        col("n_values"),
        (col("n_rows") - col("n_values")).as("n_null"),
        col("ndv"), col("v_min"), col("v_max"), col("len_sum"),
        expr("cast(len_sum as decimal(38,0)) * 1000000 div n_values")
          .as("avg_len_ppm"))
  }

  /** q169 — STRING-COLUMN TABLE STATISTICS: the companion to q161's
    * numeric ANALYZE — real optimizer stats also profile strings (NDV
    * for join-size estimates, min/max for range pruning on
    * lexicographic predicates, average length for row-width and
    * shuffle-size estimates). All-integer contract: counts, exact NDV,
    * lexicographic min/max are data values, and average length is an
    * exact ppm division — nothing floats, so the gate is exact.
    */
  def stringStats(spark: SparkSession, dir: String): DataFrame =
    stringStatColumns.map { case (table, cols) =>
      stringStatsOne(Tables.load(spark, dir, table), table, cols)
    }.reduce(_ unionByName _).orderBy("column_name")

  /** q161 — ANALYZE-style OPTIMIZER TABLE STATISTICS: per numeric
    * column of lineitem, row/null accounting, exact NDV, min/max and
    * exact quartile order statistics — the stats a cost-based optimizer
    * (and a human debugging one) feeds on for selectivity and join-size
    * estimates. One `stack` unpivot turns C columns into (column_name,
    * value) rows so ALL columns share a single scan and ONE
    * cume-selection kernel invocation (the q102 kernel, groupCol =
    * column_name) — per-column passes would scan the table C times.
    * NDV falls out free: the kernel's first stage is exactly the
    * distinct-value histogram, so counting its rows per group costs
    * nothing extra. The quartiles are data values selected by the
    * shared cume rule, never interpolated — no arithmetic on doubles
    * anywhere, so the gate is exact.
    */
  def tableStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val stacked = li.select(expr(
      s"stack(${statColumns.size}, " +
        statColumns.map(c => s"'$c', $c").mkString(", ") +
        ") AS (column_name, value)"))
    val total = li.agg(count(lit(1)).as("n_rows"))
    // one row-grain boundary probe over the stacked relation feeds the
    // two-phase cume path (r17): q161's hottest group (l_extendedprice)
    // carries ~600k distinct values — the default per-group window ran
    // them through one task (~5 s warm; 5.04 s in BENCH r17pre)
    val nn = stacked.filter(col("value").isNotNull)
    cumeCuts(nn, "value",
      Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75),
      extras = Seq(count(lit(1)).as("ndv"), max("n").as("n_values"),
        min("value").as("v_min"), max("value").as("v_max")),
      groupCol = "column_name",
      preBounds = Some(GlobalIndex.probeBounds(nn, Seq("value"))("value")))
      .crossJoin(broadcast(total)) // single-row frame (sanctioned)
      .withColumn("n_null", col("n_rows") - col("n_values"))
      .select("column_name", "n_rows", "n_values", "n_null", "ndv",
        "v_min", "v_max", "p25", "p50", "p75")
      .orderBy("column_name")
  }

  /** One audited shuffle key for q164: the group-size DISTRIBUTION of
    * `key` in `df` — the pre-flight a 100 TB join runs before picking a
    * strategy. Collapse to (key, group size) first (map-side-combined,
    * the only pass over the table), then the q102 cume kernel over the
    * SIZE HISTOGRAM: the ordered pass runs over distinct group sizes
    * (tiny — sizes are heavily repeated), never over keys or rows.
    */
  private[graft] def skewAuditOne(df: DataFrame, relation: String,
                                  key: String): DataFrame = {
    val sizes = df.groupBy(col(key).as("k")).agg(count(lit(1)).as("grp_size"))
      .withColumn("relation", lit(relation))
    cumeCuts(sizes, "grp_size",
      Seq("p50_group" -> 0.5, "p99_group" -> 0.99),
      extras = Seq(max("n").as("n_keys"),
        sum(col("grp_size") * col("c")).as("n_rows"),
        max("grp_size").as("max_group")),
      groupCol = "relation")
      // DECIMAL(38,0) intermediate (the q158 pattern): max_group*1e6
      // overflows Long once the hottest key passes ~9.2e12 rows — and
      // this audit's whole purpose is tables that big. div → BIGINT.
      .withColumn("top_share_ppm",
        expr("cast(max_group as decimal(38,0)) * 1000000 div n_rows"))
      .select("relation", "n_rows", "n_keys", "p50_group", "p99_group",
        "max_group", "top_share_ppm")
  }

  /** q164 — JOIN-KEY SKEW AUDIT across the star's shuffle keys: per
    * candidate key, total rows, distinct keys, the p50/p99 of the
    * group-size distribution, the single largest group and its row
    * share in ppm. This is the observability half of what q24 (salted
    * agg) and AQE skew-join handle reactively: the audit that tells an
    * operator WHICH keys need salting before the 100 TB shuffle, not
    * after it straggles. All exact integers (sizes, counts, one ppm
    * division); each relation is one map-side-combined pass plus an
    * ordered pass over its distinct group sizes.
    */
  def joinKeySkewAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    Seq(
      skewAuditOne(li, "lineitem.l_orderkey", "l_orderkey"),
      skewAuditOne(li, "lineitem.l_partkey", "l_partkey"),
      skewAuditOne(li, "lineitem.l_suppkey", "l_suppkey"),
      skewAuditOne(Tables.events(spark, dir), "events.user_id", "user_id"),
      skewAuditOne(Tables.orders(spark, dir), "orders.o_custkey",
        "o_custkey"))
      .reduce(_ unionByName _).orderBy("relation")
  }

  type Q = (SparkSession, String) => DataFrame

  private[graft] val usPerDayQ204 = graft.ops.Changelog.usPerDay

  /** The q204 anonymization rule: every 5th event carries no user key —
    * the logged-out-traffic shape that puts 20% of a clickstream on the
    * NULL join key. Shared with the spec and re-derived by the oracle.
    */
  private[graft] def withUserKey(ev: DataFrame): DataFrame =
    ev.withColumn("user_key",
      expr("CASE WHEN event_id % 5 = 0 THEN NULL ELSE user_id END"))

  /** q204 — NULL-BYPASS OUTER JOIN: enrich events with a per-user
    * profile through a LEFT join whose key is null for anonymous
    * traffic. The naive plan hashes every null-key row to the SAME
    * shuffle partition (nulls are one key); at 100 TB with 20%
    * logged-out traffic that is one executor receiving a fifth of the
    * table — the classic outer-join skew killer that AQE's skew split
    * mitigates but the bypass ELIMINATES: null-key rows can never
    * match, so they skip the join entirely (a narrow filter + union),
    * and only keyed rows enter the exchange. Inner-join null filtering
    * is automatic in Spark; for OUTER joins preserving the null rows
    * this split is the manual rewrite, and the gate proves it is
    * semantically invisible (the oracle runs the plain LEFT JOIN).
    *
    * Scale: the profile is built at user grain from the keyed slice
    * (one hash agg); the join is key-unique on the profile side (no
    * fan-out); the bypass branch is a scan-local projection with no
    * exchange at all.
    */
  def nullBypassJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = withUserKey(Tables.eventsMicros(spark, dir))
    val keyed = ev.filter(col("user_key").isNotNull)
    val profile = keyed
      .groupBy(col("user_key").as("p_user"))
      .agg(countDistinct(expr(s"tsu div $usPerDayQ204")).as("days_active"))
    val joined = keyed
      .join(profile, col("user_key") === col("p_user"), "left")
      .drop("p_user")
    val bypass = ev.filter(col("user_key").isNull)
      .withColumn("days_active", lit(null).cast("long"))
    joined.unionByName(bypass)
      .groupBy(col("user_key").isNull.as("is_anon"),
        coalesce(col("days_active"), lit(0L)).as("days_active"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
          .as("value_sum"))
      .orderBy("is_anon", "days_active")
  }

  val queries: Map[String, Q] = Map(
    "q213_zscore_params" -> (zscoreParams(_, _)),
    "q204_null_bypass_join" -> (nullBypassJoin(_, _)),
    "q168_salted_skew_join" -> (saltedSkewJoin(_, _)),
    "q169_string_stats" -> (stringStats(_, _)),
    "q164_join_key_skew" -> (joinKeySkewAudit(_, _)),
    "q161_table_stats" -> (tableStats(_, _)),
    // rows-only by design: HLL estimates are engine-specific; the
    // union-equals-rescan and error contracts are pinned in SkewSpec
    "q160_hll_mergeability" -> (hllMergeability(_, _)),
    // the md5-derived oracle-gated twin: merge-equals-rescan as a
    // register-exact relation (r16 verdict task 4)
    "q339_hll_md5" -> (hllMd5(_, _)),
    "q119_mad_outliers" -> (madOutliers(_, _)),
    "q150_winsorized_stats" -> (winsorizedStats(_, _)),
    // rows-only by design: the sketch's picks are engine-specific; the
    // rank-error contract vs q102-exact is pinned in SkewSpec
    "q149_approx_quantiles" -> (approxQuantiles(_, _)),
    "q24_salted_type_stats" -> (saltedTypeStats(_, _)),
    "q25_corr_stats" -> (corrStats(_, _)),
    "q102_value_quantiles" -> (valueQuantiles(_, _)))

  val oracles: Map[String, String] = Map(
    // q339: identical register derivation (md5 byte 1 = idx, leading
    // zeros of the next 32 bits + 1 = rho, per-scope max), but the
    // GLOBAL row is recomputed from scratch where the engine
    // max-merges the per-type tables — row equality IS the merge law.
    // reg MATERIALIZED: referenced twice (typed stats + direct global)
    "q339_hll_md5" ->
      s"""WITH ev AS (
            SELECT event_type, user_id FROM events
            WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
          rg AS (
            SELECT event_type,
              ('0x' || substr(h, 1, 2))::INT AS idx,
              ('0x' || substr(h, 3, 8))::BIGINT AS v
            FROM (SELECT event_type, md5(user_id::VARCHAR) AS h FROM ev)),
          reg AS MATERIALIZED (
            SELECT event_type, idx,
              max(CASE WHEN v = 0 THEN 33
                       ELSE 33 - length(bin(v)) END)::BIGINT AS m
            FROM rg GROUP BY 1, 2),
          typed AS (
            SELECT event_type AS scope, count(*)::BIGINT AS nz,
              sum(m)::BIGINT AS sum_rho,
              (($hllMd5M - count(*)) * 1000000000
                + sum(1000000000 // (1::BIGINT << m::INT)))::BIGINT
                AS denom_ppb
            FROM reg GROUP BY 1),
          texact AS (
            SELECT event_type AS scope,
              count(DISTINCT user_id)::BIGINT AS exact_users
            FROM ev GROUP BY 1),
          greg AS (
            SELECT idx,
              max(CASE WHEN v = 0 THEN 33
                       ELSE 33 - length(bin(v)) END)::BIGINT AS m
            FROM rg GROUP BY 1),
          gall AS (
            SELECT '__all__' AS scope, count(*)::BIGINT AS nz,
              sum(m)::BIGINT AS sum_rho,
              (($hllMd5M - count(*)) * 1000000000
                + sum(1000000000 // (1::BIGINT << m::INT)))::BIGINT
                AS denom_ppb,
              (SELECT count(DISTINCT user_id) FROM ev)::BIGINT
                AS exact_users
            FROM greg)
          SELECT t.scope, t.nz, t.sum_rho, t.denom_ppb, x.exact_users
          FROM typed t JOIN texact x USING (scope)
          UNION ALL SELECT * FROM gall
          ORDER BY scope""",
    // q149: the sketch picks have no DuckDB twin; the exact row count
    // is recomputed and the published rank-error contract is gated as
    // one boolean per cut, expected TRUE (see approxQuantilesGate)
    "q149_approx_quantiles" ->
      """SELECT event_type, count(*)::BIGINT AS n,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
         FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
           AND event_type IS NOT NULL
         GROUP BY 1 ORDER BY 1""",
    // q213: same moment sums in HUGEINT, same two truncating divisions
    "q213_zscore_params" ->
      """WITH v AS (
           SELECT event_type,
             CAST(floor(value * CAST(1000.0 AS DOUBLE)) AS BIGINT) AS vm
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
         a AS (
           SELECT event_type, count(*)::HUGEINT AS n,
             sum(vm::HUGEINT) AS sv, sum(vm::HUGEINT * vm) AS svv
           FROM v GROUP BY 1)
         SELECT event_type, n::BIGINT AS n_values,
           (sv // n)::BIGINT AS mean_milli,
           ((n * svv - sv * sv) // nullif(n * (n - 1), 0))::BIGINT
             AS var_milli2
         FROM a ORDER BY event_type""",
    // q204: the oracle runs the PLAIN LEFT JOIN (nulls straight through
    // the join operator) — the bypass split must be invisible
    "q204_null_bypass_join" ->
      """WITH ev AS (
           SELECT *, CASE WHEN event_id % 5 = 0 THEN NULL
                          ELSE user_id END AS user_key,
             epoch_ns(ts) // 1000 AS tsu
           FROM events),
         p AS (
           SELECT user_key AS p_user,
             count(DISTINCT tsu // 86400000000)::BIGINT AS days_active
           FROM ev WHERE user_key IS NOT NULL GROUP BY 1)
         SELECT user_key IS NULL AS is_anon,
           coalesce(days_active, 0) AS days_active,
           count(*)::BIGINT AS n_events,
           round(sum(value::DECIMAL(18,6))::DOUBLE, 2) AS value_sum
         FROM ev LEFT JOIN p ON ev.user_key = p.p_user
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // q168: the oracle runs the PLAIN join on the same derived key —
    // the salt-and-replicate mechanics must be semantically invisible
    "q168_salted_skew_join" -> {
      val evKey = skewedKeySql("user_id")
      val ordKey = skewedKeySql("o_custkey")
      s"""WITH ev AS (
            SELECT $evKey AS k, event_type, value
            FROM events WHERE ts IS NOT NULL),
          os AS (
            SELECT $ordKey AS k, count(*) AS n_orders
            FROM orders GROUP BY 1)
          SELECT event_type, count(*) AS n_events,
            sum(n_orders)::BIGINT AS orders_sum,
            round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
          FROM ev JOIN os USING (k)
          GROUP BY 1 ORDER BY 1"""
    },
    // q169: same per-table stack, exact NDV / lexicographic min-max /
    // integer-ppm average length; HUGEINT intermediates cast back
    "q169_string_stats" -> {
      val branches = stringStatColumns.flatMap { case (table, cols) =>
        cols.map { c =>
          s"""SELECT '$table.$c' AS column_name,
             (SELECT count(*) FROM $table)::BIGINT AS n_rows,
             count($c)::BIGINT AS n_values,
             ((SELECT count(*) FROM $table) - count($c))::BIGINT AS n_null,
             count(DISTINCT $c)::BIGINT AS ndv,
             min($c) AS v_min, max($c) AS v_max,
             sum(length($c))::BIGINT AS len_sum,
             (sum(length($c))::HUGEINT * 1000000 // count($c))::BIGINT
               AS avg_len_ppm
           FROM $table"""
        }
      }
      branches.mkString("", "\n UNION ALL\n ", "\n ORDER BY column_name")
    },
    // q164: same size-histogram collapse and cume selection per
    // relation; all integers, HUGEINT sums cast back
    "q164_join_key_skew" -> {
      def branch(rel: String, table: String, key: String) =
        s"""SELECT '$rel' AS relation,
           sum(grp_size * c)::BIGINT AS n_rows,
           sum(c)::BIGINT AS n_keys,
           min(grp_size) FILTER (WHERE cum::DOUBLE / n::DOUBLE >= 0.5::DOUBLE)
             AS p50_group,
           min(grp_size) FILTER (WHERE cum::DOUBLE / n::DOUBLE >= 0.99::DOUBLE)
             AS p99_group,
           max(grp_size)::BIGINT AS max_group,
           (max(grp_size) * 1000000 // sum(grp_size * c))::BIGINT
             AS top_share_ppm
         FROM (
           SELECT grp_size, c,
             sum(c) OVER (ORDER BY grp_size) AS cum,
             sum(c) OVER () AS n
           FROM (SELECT grp_size, count(*) AS c
                 FROM (SELECT count(*) AS grp_size
                       FROM $table GROUP BY $key) g0
                 GROUP BY 1) g1) g2"""
      Seq(
        branch("lineitem.l_orderkey", "lineitem", "l_orderkey"),
        branch("lineitem.l_partkey", "lineitem", "l_partkey"),
        branch("lineitem.l_suppkey", "lineitem", "l_suppkey"),
        branch("events.user_id", "events", "user_id"),
        branch("orders.o_custkey", "orders", "o_custkey"))
        .mkString("", "\n UNION ALL\n ", "\n ORDER BY relation")
    },
    // q161: same unpivot, same distinct-value histogram, same cume
    // selection rule; quartiles are stored data values (no
    // interpolation), counts cast back from HUGEINT
    "q161_table_stats" -> {
      val longRows = statColumns
        .map(c => s"SELECT '$c' AS column_name, $c AS value FROM lineitem")
        .mkString("\n           UNION ALL ")
      val cuts = Seq(25 -> 0.25, 50 -> 0.5, 75 -> 0.75)
        .map { case (nm, p) =>
          s"min(value) FILTER (WHERE cum::DOUBLE / n::DOUBLE >= ${p}::DOUBLE) AS p$nm" }
        .mkString(",\n           ")
      s"""WITH long AS (
           $longRows),
         t AS (SELECT count(*) AS n_rows FROM lineitem),
         g AS (
           SELECT column_name, value, count(*) AS c FROM long
           WHERE value IS NOT NULL GROUP BY 1, 2),
         cum AS (
           SELECT column_name, value,
                  sum(c) OVER (PARTITION BY column_name ORDER BY value) AS cum,
                  sum(c) OVER (PARTITION BY column_name) AS n
           FROM g)
         SELECT column_name, t.n_rows::BIGINT AS n_rows,
           max(n)::BIGINT AS n_values,
           (t.n_rows - max(n))::BIGINT AS n_null,
           count(*)::BIGINT AS ndv,
           min(value) AS v_min, max(value) AS v_max,
           $cuts
         FROM cum, t GROUP BY column_name, t.n_rows ORDER BY column_name"""
    },
    // q119: the same two cume-share median selections + exact fence;
    // `mad * 3` (int × double) and the abs-subtractions are single IEEE
    // ops identical in both engines
    "q119_mad_outliers" ->
      """WITH ev AS (
           SELECT event_type, value FROM events
           WHERE ts IS NOT NULL AND value IS NOT NULL),
         g AS (
           SELECT event_type, value, count(*) AS c FROM ev GROUP BY 1, 2),
         cum AS (
           SELECT event_type, value,
                  sum(c) OVER (PARTITION BY event_type ORDER BY value) AS cum,
                  sum(c) OVER (PARTITION BY event_type) AS n
           FROM g),
         med AS (
           SELECT event_type,
             min(value) FILTER (WHERE cum::DOUBLE / n::DOUBLE >= 0.5::DOUBLE)
               AS med
           FROM cum GROUP BY 1),
         dv AS (
           SELECT ev.event_type, abs(ev.value - med.med) AS dev
           FROM ev JOIN med ON ev.event_type = med.event_type),
         dg AS (
           SELECT event_type, dev, count(*) AS c FROM dv GROUP BY 1, 2),
         dcum AS (
           SELECT event_type, dev,
                  sum(c) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
                  sum(c) OVER (PARTITION BY event_type) AS n
           FROM dg),
         mad AS (
           SELECT event_type,
             min(dev) FILTER (WHERE cum::DOUBLE / n::DOUBLE >= 0.5::DOUBLE)
               AS mad
           FROM dcum GROUP BY 1)
         SELECT ev.event_type, count(*) AS n,
           min(med.med) AS med, min(mad.mad) AS mad,
           (count(*) FILTER (WHERE abs(ev.value - med.med) > mad.mad * 3))::BIGINT
             AS n_outliers,
           round((count(*) FILTER (WHERE abs(ev.value - med.med) > mad.mad * 3))::DOUBLE
             / count(*)::DOUBLE, 6) AS outlier_ratio
         FROM ev
         JOIN med ON ev.event_type = med.event_type
         JOIN mad ON ev.event_type = mad.event_type
         GROUP BY 1 ORDER BY 1""",
    // the oracle is the DIRECT aggregation — proving salt+merge is
    // semantically invisible
    "q24_salted_type_stats" ->
      """SELECT event_type, count(*) AS n,
         round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum,
         round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE / count(*), 6) AS value_avg
         FROM events GROUP BY 1 ORDER BY 1""",
    "q25_corr_stats" ->
      """SELECT l_returnflag, round(corr(l_quantity, l_extendedprice),6) AS corr_qty_price,
         round(stddev_samp(l_quantity),6) AS sd_qty,
         round(avg(l_quantity),6) AS avg_qty, count(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    // q102: the same spelled-out discrete selection rule (NOT the
    // engine's quantile_disc — index-convention differences), so both
    // sides pick stored doubles via identical long-ratio comparisons
    // q150: fences via the identical cume-share rule; clipping is a
    // CASE comparison; the clipped sum follows the money-sum discipline
    // (per-row DECIMAL quantization → exact order-independent sum)
    "q150_winsorized_stats" -> {
      val fences = winsorPs.map { case (name, p) =>
        s"min(value) FILTER (WHERE cum::DOUBLE / n::DOUBLE >= ${p}::DOUBLE) AS $name"
      }.mkString(",\n            ")
      s"""WITH ev AS (
           SELECT event_type, value FROM events
           WHERE ts IS NOT NULL AND value IS NOT NULL),
         g AS (
           SELECT event_type, value, count(*) AS c FROM ev GROUP BY 1, 2),
         cum AS (
           SELECT event_type, value,
                  sum(c) OVER (PARTITION BY event_type ORDER BY value) AS cum,
                  sum(c) OVER (PARTITION BY event_type) AS n
           FROM g),
         f AS (SELECT event_type,
            $fences
          FROM cum GROUP BY 1)
         SELECT e.event_type, count(*) AS n,
           sum(CASE WHEN e.value < f.p01 THEN 1 ELSE 0 END)::BIGINT
             AS n_clipped_low,
           sum(CASE WHEN e.value > f.p99 THEN 1 ELSE 0 END)::BIGINT
             AS n_clipped_high,
           min(f.p01) AS fence_low, min(f.p99) AS fence_high,
           round(sum(CAST(CASE WHEN e.value < f.p01 THEN f.p01
                               WHEN e.value > f.p99 THEN f.p99
                               ELSE e.value END AS DECIMAL(18,6)))::DOUBLE, 2)
             AS clipped_sum
         FROM ev e JOIN f ON e.event_type = f.event_type
         GROUP BY 1 ORDER BY 1"""
    },
    "q102_value_quantiles" -> {
      val cuts = quantilePs.map(p =>
        s"min(value) FILTER (WHERE cum::DOUBLE / n::DOUBLE >= ${p}::DOUBLE) AS p${(p * 100).round}")
        .mkString(",\n           ")
      s"""WITH ev AS (
           SELECT event_type, value FROM events
           WHERE ts IS NOT NULL AND value IS NOT NULL),
         g AS (
           SELECT event_type, value, count(*) AS c FROM ev GROUP BY 1, 2),
         cum AS (
           SELECT event_type, value,
                  sum(c) OVER (PARTITION BY event_type ORDER BY value) AS cum,
                  sum(c) OVER (PARTITION BY event_type) AS n
           FROM g)
         SELECT event_type,
           $cuts,
           min(value) AS v_min, max(value) AS v_max, max(n)::BIGINT AS n
         FROM cum GROUP BY 1 ORDER BY 1"""
    })
}
