package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Relational

/** Relational-surface pins that the DuckDB oracle can't express:
  * approx_count_distinct accuracy, plan-shape assertions (broadcast for
  * bounded dims, TakeOrderedAndProject for top-k), AQE presence.
  */
class RelationalSpec extends AnyFunSuite with SparkTestBase {

  test("q105 extraction strictness matrix: only integer-typed k survives") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the oracle's json_valid + json_type guard mirrors exactly this —
    // if Spark's from_json coercion rules ever change, this pin fails
    // before the hash gate does
    val got = Seq("""{"k": 12}""", """{"k": "12"}""", """{"k": 12.5}""",
      """{bad""", """{"x": 1}""", null)
      .toDF("props")
      .select(Relational.propsK(col("props")).as("k"))
      .as[Option[Long]].collect().toSeq
    assert(got === Seq(Some(12L), None, None, None, None, None))
  }

  test("q251 variant path: decode/cast matrix and where it differs " +
      "from q105's static-schema strictness") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq("""{"k": 12}""", """{"k": "12"}""", """{"k": 12.5}""",
      """{bad""", """{"x": 1}""", null).toDF("props")
      .select(expr("try_parse_json(props)").as("v"))
      .select(col("v").isNotNull.as("valid"),
        expr("try_variant_get(v, '$.k', 'bigint')").as("k"))
      .collect().map(r => (r.getBoolean(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1))))
    // variant CASTS on read — string "12" and decimal 12.5 both land
    // (12.5 truncates), unlike q105's type-strict from_json; corrupt
    // JSON nulls at parse, missing path nulls at get
    assert(rows.toSeq === Seq(
      (true, Some(12L)), (true, Some(12L)), (true, Some(12L)),
      (false, None), (true, None), (false, None)))
    // the corpus payloads are uniformly integer-typed, which is what
    // lets the oracle's type-guarded JSON path stand in for the
    // variant decoder (scaladoc caveat); one shape corpus-wide
    val shapes = graft.Tables.eventsMicros(spark, sf)
      .filter(col("props").isNotNull)
      .select(expr("schema_of_variant(try_parse_json(props))").as("s"))
      .distinct().collect().map(_.getString(0)).toSeq
    assert(shapes == Seq("OBJECT<k: BIGINT>"))
  }

  test("full outer reconciliation tags all three presence classes") {
    import spark.implicits._
    // the sf testdata's user domain ⊆ customer keys, so events_only
    // never fires there — this fixture covers every branch
    val activity = Seq((1L, 5L), (3L, 2L)).toDF("user_id", "n_events")
    val cust = Seq((1L, "AUTO"), (2L, "HOUSE")).toDF("c_custkey", "c_mktsegment")
    val out = Relational.fullOuterCore(activity, cust)
      .select("uid", "presence", "n_events")
      .as[(Long, String, Long)].collect().toSeq
    assert(out === Seq(
      (1L, "both", 5L),
      (2L, "customer_only", 0L),
      (3L, "events_only", 2L)))
  }

  test("approx_count_distinct within 5% of exact per event_type") {
    val detail = Relational.approxDistinctDetail(spark, sf).collect()
    assert(detail.nonEmpty)
    detail.foreach { r =>
      val (e, a) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) / e <= 0.05, s"approx $a vs exact $e")
    }
    // the registered (oracle-gated) audit shape carries the same
    // contract as a boolean — all TRUE on this corpus
    val gated = Relational.queries("q14_approx_distinct_users")(spark, sf)
      .collect()
    assert(gated.map(_.getLong(1)).toSeq === detail.map(_.getLong(1)).toSeq)
    assert(gated.forall(_.getBoolean(2)))
  }

  test("scd2 timeline: runs collapse, intervals chain, open run has null end") {
    import spark.implicits._
    // user 1: a,a,b,a → runs (a,[0,20),2) (b,[20,30),1) (a,[30,null),1)
    // user 2: single run stays open from its first event
    val ev = Seq(
      (1L, 1L, "a", 0L), (2L, 1L, "a", 10L), (3L, 1L, "b", 20L),
      (4L, 1L, "a", 30L), (5L, 2L, "x", 5L), (6L, 2L, "x", 7L))
      .toDF("event_id", "user_id", "event_type", "tsu")
    val got = graft.ops.Relational.scd2Core(ev)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, "a", 0L, 20L, 2L),
      (1L, "b", 20L, 30L, 1L),
      (1L, "a", 30L, Long.MaxValue, 1L),
      (2L, "x", 5L, Long.MaxValue, 2L)))
    // intervals tile: every non-final run's end is the next run's
    // start; open runs close at the end-of-time sentinel
  }

  test("point-in-time join: boundary inclusivity, pre-history null, leakage-free") {
    import spark.implicits._
    // user 1 states: a@[10,30), b@[30,∞)
    val ev = Seq(
      (1L, 1L, "a", 10L), (2L, 1L, "b", 30L))
      .toDF("event_id", "user_id", "event_type", "tsu")
    // probes: before history → null; inside a; exactly AT the boundary
    // → the NEW state (half-open intervals); far future → still b
    val probes = Seq(
      (100L, 1L, 5L), (101L, 1L, 10L), (102L, 1L, 29L),
      (103L, 1L, 30L), (104L, 1L, 999L), (105L, 2L, 50L))
      .toDF("probe_id", "user_id", "ptsu")
    val got = graft.ops.Relational.pitCore(ev, probes)
      .as[(Long, Long, Long, Option[String])].collect().toSeq
    assert(got === Seq(
      (100L, 1L, 5L, None),
      (101L, 1L, 10L, Some("a")),
      (102L, 1L, 29L, Some("a")),
      (103L, 1L, 30L, Some("b")),
      (104L, 1L, 999L, Some("b")),
      (105L, 2L, 50L, None)))
  }

  test("bloom prejoin: no false negatives, real fact-side reduction, scan-stage predicate") {
    val seg = Tables.customer(spark, sf)
      .filter(col("c_mktsegment") === "AUTOMOBILE")
      .select("c_custkey", "c_nationkey")
    val bytes = graft.ops.Relational.bloomFilterOf(
      seg.select("c_custkey"), "c_custkey")
    val facts = Tables.events(spark, sf).filter(col("ts").isNotNull)
    // no false negatives: every fact row that truly joins passes
    val missed = facts
      .join(seg, col("user_id") === col("c_custkey"), "left_semi")
      .filter(!graft.ops.Relational.bloomMightContain(bytes, col("user_id")))
      .count()
    assert(missed == 0L, s"bloom dropped $missed true matches")
    // real reduction: the segment is ~1/5 of customers, so the
    // prefilter must cut the fact side well below half (fpp 1%)
    val total = facts.count()
    val kept = facts
      .filter(graft.ops.Relational.bloomMightContain(bytes, col("user_id")))
      .count()
    assert(kept < total / 2, s"kept $kept of $total — no real pruning")
    // and the predicate runs in the scan stage, before the join
    val plan = graft.ops.Relational
      .queries("q126_bloom_prejoin_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(600))
  }

  test("column profile: one row per column, null and distinct accounting sane") {
    val out = graft.ops.Relational.queries("q127_column_profile")(spark, sf)
      .collect()
    assert(out.map(_.getString(0)).toSeq ==
      Seq("event_id", "event_type", "props", "ts", "user_id", "value"))
    val nRows = out.head.getLong(1)
    out.foreach { r =>
      assert(r.getLong(1) == nRows) // same denominator everywhere
      assert(r.getLong(2) >= 0 && r.getLong(2) <= nRows)
      assert(r.getLong(3) <= nRows - r.getLong(2)) // distinct ≤ non-null
    }
    // event_id is the PK: no nulls, all distinct
    val pk = out.find(_.getString(0) == "event_id").get
    assert(pk.getLong(2) == 0 && pk.getLong(3) == nRows)
  }

  test("cms heavy hitters: never underestimates, overcount ≤ ε·N, deterministic") {
    val out = Relational.cmsHeavyHittersDetail(spark, sf).collect()
    assert(out.length > 0)
    val n = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull).count()
    // the sketch's own totalCount (the gate's ε·N denominator since
    // r13) must equal an independent count of what it absorbed
    assert(out.forall(_.getLong(4) == n))
    val slack = math.ceil(Relational.cmsEps * n).toLong
    out.foreach { r =>
      val (exact, est, over) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(est >= exact, s"CMS underestimated: $est < $exact")
      assert(over == est - exact)
      assert(over <= slack, s"overcount $over exceeds eps*N = $slack")
    }
    // fixed seed → bit-identical re-run
    val again = Relational.cmsHeavyHittersDetail(spark, sf).collect()
    assert(out.toSeq.map(_.toSeq) == again.toSeq.map(_.toSeq))
    // the registered (oracle-gated) shape: exact counts + both CMS
    // contracts as booleans, all TRUE here
    val gated = Relational.queries("q114_cms_heavy_hitters")(spark, sf)
      .collect()
    assert(gated.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      out.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(gated.forall(r => r.getBoolean(2) && r.getBoolean(3)))
  }

  test("cms sketches merge exactly: partial sketches ≡ one whole-data sketch") {
    val sql = s"count_min_sketch(user_id, ${Relational.cmsEps}D, " +
      s"${Relational.cmsConfidence}D, ${Relational.cmsSeed})"
    val ev = Tables.events(spark, sf).filter(col("user_id").isNotNull)
    def sketch(bytes: Array[Byte]) =
      org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(bytes))
    val whole = sketch(ev.agg(expr(sql)).head().getAs[Array[Byte]](0))
    val parts = ev.groupBy(col("event_id") % 2).agg(expr(sql).as("s"))
      .collect().map(r => sketch(r.getAs[Array[Byte]]("s")))
    val merged = parts.reduce { (a, b) => a.mergeInPlace(b); a }
    val users = ev.select("user_id").distinct().limit(50)
      .collect().map(_.getLong(0))
    users.foreach { u =>
      assert(merged.estimateCount(u) == whole.estimateCount(u),
        s"merge drift for user $u")
    }
  }

  test("percentile_approx (KLL sketch, the unbounded-cardinality path) tracks exact percentile") {
    val exact = Relational.queries("q28_value_percentiles")(spark, sf)
      .select("event_type", "p50", "p95")
    val approx = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(
        expr("percentile_approx(value, 0.5, 1000)").as("a50"),
        expr("percentile_approx(value, 0.95, 1000)").as("a95"))
    exact.join(approx, "event_type").collect().foreach { r =>
      val (p50, p95, a50, a95) =
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(math.abs(a50 - p50) / math.max(p50.abs, 1e-9) < 0.05,
        s"p50 approx $a50 vs exact $p50")
      assert(math.abs(a95 - p95) / math.max(p95.abs, 1e-9) < 0.05,
        s"p95 approx $a95 vs exact $p95")
    }
  }

  test("top-k plans as TakeOrderedAndProject (no global sort at scale)") {
    val plan = Relational.queries("q03_top_orders")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan was:\n$plan")
  }

  test("bounded-dimension joins broadcast (star join: nation/region)") {
    val plan = Relational.queries("q19_star_join_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan was:\n$plan")
  }

  test("rollup emits per-group, subtotal and grand-total rows") {
    val rows = Relational.queries("q08_rollup_status_priority")(spark, sf).collect()
    val statuses = rows.map(_.getString(0)).toSet
    assert(statuses.contains("ALL"), "grand total / subtotal rows missing")
    val grand = rows.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    assert(grand.length == 1)
    // grand total equals the sum of the per-status subtotals
    val subtotals = rows.filter(r => r.getString(0) != "ALL" && r.getString(1) == "ALL")
    assert(subtotals.map(_.getLong(2)).sum == grand(0).getLong(2))
  }

  test("left join preserves all customers; semi+anti partition them") {
    val nCust = Tables.customer(spark, sf).count()
    assert(Relational.queries("q04_cust_order_counts")(spark, sf).count() == nCust)
    // semi(big spenders) and anti(never finished) are both subsets
    assert(Relational.queries("q05_big_spenders_semi")(spark, sf).count() <= nCust)
    assert(Relational.queries("q06_never_finished_anti")(spark, sf).count() <= nCust)
  }

  test("q175: InjectRuntimeFilter plants a bloom might_contain under the " +
    "scoped confs — and only then — without changing the result") {
    val (onPlan, onRows) = Tables.withConfs(spark, Relational.runtimeBloomConfs: _*) {
      val df = Relational.runtimeBloomJoined(spark, sf)
      (df.queryExecution.optimizedPlan.toString, df.collect().toSeq)
    }
    assert(onPlan.contains("bloom_filter_agg") && onPlan.contains("might_contain"),
      s"expected an injected runtime bloom filter:\n${onPlan.take(600)}")
    val off = Relational.runtimeBloomJoined(spark, sf)
    assert(!off.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("bloom"))
    // no false negatives: the injected-filter run returns the plain
    // join's rows exactly
    assert(onRows == off.collect().toSeq)
  }

  test("q189 aggregator top-k: two-phase plan, window-reference parity, " +
    "monoid laws on adversarial buffers") {
    val s = spark
    import s.implicits._
    // plan shape: a typed-aggregator UDAF plans as ObjectHashAggregate
    // with a partial phase BEFORE the exchange — the k-bounded
    // map-side combine is the whole point vs the window formulation
    val q = Relational.groupedTopKAgg(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(500))
    assert(plan.contains("partial_topkminaggregator"), plan.take(500))
    // parity with an independent window reference on real data
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("vm", "event_id")
    val ref = Tables.eventsMicros(spark, sf).filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("floor(value * 1000.0D)").as("vm"), col("event_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= Relational.topKPerGroup)
      .select("event_type", "rank", "vm", "event_id")
      .orderBy("event_type", "rank")
    assert(q.collect().toSeq == ref.collect().toSeq)
    // monoid laws the partial/merge contract relies on: merge agrees
    // with sequential reduce for every split point of a hostile
    // sequence (duplicates-heavy values, reverse-sorted, ties broken
    // only by the second element)
    val agg = new graft.expr.TopKMinAggregator(3)
    val xs = Seq((5L, 1L), (1L, 9L), (1L, 2L), (7L, 0L), (1L, 9L),
      (0L, 4L), (5L, 0L), (0L, 3L))
    val direct = xs.foldLeft(agg.zero)(agg.reduce)
    (0 to xs.length).foreach { i =>
      val (a, b) = xs.splitAt(i)
      assert(agg.merge(a.foldLeft(agg.zero)(agg.reduce),
        b.foldLeft(agg.zero)(agg.reduce)) == direct, s"split at $i")
    }
    // duplicates kept: top-k of a BAG, not a set
    assert(direct == xs.sorted.take(3))
  }

  test("q186 grouping sets: the four levels agree with each other and " +
    "with independent direct aggregates") {
    val rows = Relational.groupingSetsTypeHour(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val detail = rows.filter(_._3 == 0)
    val byType = rows.filter(_._3 == 1) // hour rolled up (LSB set)
    val byHour = rows.filter(_._3 == 2) // type rolled up (MSB set)
    val total = rows.filter(_._3 == 3)
    assert(total.length == 1 && total.head._1 == "ALL"
      && total.head._2 == -1L)
    // counts are conserved up every margin
    assert(detail.map(_._4).sum == total.head._4)
    assert(byType.map(_._4).sum == total.head._4)
    assert(byHour.map(_._4).sum == total.head._4)
    // each type margin equals the sum of its detail cells, and the
    // margin's distinct-user count can only shrink vs summing cells
    byType.foreach { case (tp, h, _, n, users) =>
      assert(h == -1L)
      val cells = detail.filter(_._1 == tp)
      assert(cells.map(_._4).sum == n)
      assert(users <= cells.map(_._5).sum && users >= cells.map(_._5).max)
    }
    // independent recomputation of the grand total
    val direct = Tables.eventsMicros(spark, sf)
      .agg(count(lit(1)), countDistinct("user_id")).collect().head
    assert(total.head._4 == direct.getLong(0)
      && total.head._5 == direct.getLong(1))
  }

  test("q297 minhash union: merge identity, estimator bound and " +
    "determinism on a multi-day fixture and the sf corpus") {
    import spark.implicits._
    // 200 users over 3 days; each user's two events land on DIFFERENT
    // days ((i+200) % 3 ≠ i % 3), so the per-day partial states
    // genuinely overlap and the min-merge has real work to do
    val ev = (1 to 400).map { i =>
      (if (i % 2 == 0) "click" else "view", (i % 200).toLong + 1L,
        (i % 3).toLong)
    }.toDF("event_type", "user_id", "day")
    val out = Relational.minhashUnionCore(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3), r.getDouble(4)))
    assert(out.length == 2)
    out.foreach { case (_, nExact, mergeOk, inBound, est) =>
      assert(nExact == 100L)
      assert(mergeOk, "daily min-merge must equal the direct signature")
      assert(inBound && math.abs(est - nExact) * 2 <= nExact)
    }
    // seeded hashes: the whole row set is a pure function of the data
    val again = Relational.minhashUnionCore(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3), r.getDouble(4)))
    assert(out.toSeq == again.toSeq)
    // the registered gate holds on the real corpus
    val corpus = Relational.queries("q297_minhash_union")(spark, sf)
      .collect().map(r => (r.getBoolean(2), r.getBoolean(3)))
    assert(corpus.nonEmpty && corpus.forall(p => p._1 && p._2))
  }
}
