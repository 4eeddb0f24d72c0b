package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Sessionization, TextAnalysis}
import graft.streaming.StreamingQueries

/** The registered streaming surface (q98/q99): exact batch parity —
  * result sets equal the batch twins' row-for-row — plus proof the runs
  * genuinely spanned multiple micro-batches (state folded across
  * triggers, not a single-batch degenerate).
  */
class StreamingQueriesSpec extends AnyFunSuite with SparkTestBase {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Micro-batches of each run the latest invocation of `id` drained:
    * one past the last progress's batch id (ids continue across a
    * restart on the same checkpoint).
    */
  private def batches(id: String): Seq[Long] =
    StreamingQueries.progress(id).map(_.lastOption.fold(0L)(_.batchId + 1))

  private def singleRunBatches(id: String): Long = {
    val Seq(n) = batches(id)
    n
  }

  /** Memory-sink views left in the session catalog. */
  private def sinkViews(): Seq[String] =
    spark.catalog.listTables().collect().toSeq.map(_.name)
      .filter(_.matches("graft_q\\d+_sink_.*"))

  test("q98: streaming word-freq == batch q40 over the same documents, multi-batch") {
    val streamed = rows(StreamingQueries.streamingWordFreq(spark, sf))
    val batch = rows(TextAnalysis.wordFreqTopK(spark, sf))
    assert(streamed == batch)
    assert(singleRunBatches("q98") >= 2,
      s"expected >=2 micro-batches, got ${batches("q98")}")
    assert(sinkViews().isEmpty, s"memory-sink views left: ${sinkViews()}")
  }

  test("q285: streaming LSH near-dup == batch q54 candidates exactly, " +
    "multi-batch, with cross-batch pairs") {
    import org.apache.spark.sql.functions._
    val streamed = rows(StreamingQueries.streamingLshDedup(spark, sf))
    val batch = rows(graft.ops.Dedup
      .lshCandidatesCore(graft.Tables.documents(spark, sf), 0.5))
    assert(streamed == batch,
      s"streaming ${streamed.size} pairs vs batch ${batch.size}")
    assert(singleRunBatches("q285") >= 3,
      s"expected >=3 micro-batches, got ${batches("q285")}")
    // the id-mod staging puts most pairs in different micro-batches —
    // at least one emitted pair must have crossed trigger state
    if (streamed.nonEmpty) {
      val cross = streamed.exists {
        case Seq(a: Long, b: Long, _) => a % 3 != b % 3
        case _ => false
      }
      assert(cross || streamed.size < 3,
        "no cross-batch pair found despite several candidates")
    }
  }

  test("q285 bounded bucket state: a saturated bucket stops growing " +
    "and emitting; cold-bucket pairs still surface") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // 6 identical clones of T (every band collides; first-colliding
    // band 0 carries the pairs) + 2 identical clones of U (the
    // discriminative pair a cap must not lose). Staging splits by
    // doc_id % 3, so T-bucket arrival order is 3,6 | 1,4 | 2,5.
    val tTok = (1 to 30).map(i => s"t$i").mkString(" ")
    val uTok = (1 to 30).map(i => s"u$i").mkString(" ")
    val docs = (Seq(1L, 2L, 3L, 4L, 5L, 6L).map(_ -> tTok)
      ++ Seq(101L, 102L).map(_ -> uTok))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    withTempDir("graft_q285cap_") { tmp =>
      val dir = tmp.toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // unbounded: every clone pair — C(6,2) + 1
      val unbounded = rows(
        StreamingQueries.streamingLshDedupImpl(spark, dir, Int.MaxValue))
      assert(unbounded.size == 16, s"unbounded got ${unbounded.size}")
      // cap 3: the T bucket saturates after members {3, 6, 1} — exactly
      // the prefix pairs (3,6), (1,3), (1,6) — while U's cold bucket
      // still emits its pair
      val capped = rows(StreamingQueries.streamingLshDedupImpl(spark, dir, 3))
        .map { case Seq(a: Long, b: Long, _) => (a, b) }.toSet
      assert(capped === Set((3L, 6L), (1L, 3L), (1L, 6L), (101L, 102L)),
        s"capped got $capped")
    }
  }

  test("q194: streaming sliding windows == batch 4-covering-window " +
    "recompute, multi-batch accumulation") {
    import org.apache.spark.sql.functions._
    val streamed = rows(StreamingQueries.streamingSlidingCounts(spark, sf))
    // independent batch recompute of the covering-window identity
    val slideUs = 900000000L
    val batch = rows(Tables.eventsMicros(spark, sf)
      .select(col("tsu"),
        explode(sequence(lit(0), lit(3))).as("k"))
      .select(expr(s"(tsu div $slideUs - k) * $slideUs")
        .as("window_start_us"))
      .groupBy("window_start_us")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("window_start_us"))
    assert(streamed == batch)
    assert(singleRunBatches("q194") >= 2,
      s"expected >=2 micro-batches, got ${batches("q194")}")
    assert(sinkViews().isEmpty, s"memory-sink views left: ${sinkViews()}")
  }

  test("q78: stream-static enrichment join == batch join+agg, multi-batch") {
    import org.apache.spark.sql.functions._
    val streamed = rows(StreamingQueries.streamingEnrichedRevenue(spark, sf))
    val batch = rows(Tables.events(spark, sf)
      .filter(col("ts").isNotNull)
      .join(Tables.customer(spark, sf), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
          .as("value_sum"))
      .orderBy("c_mktsegment"))
    assert(streamed == batch)
    assert(singleRunBatches("q78") >= 2,
      s"expected >=2 micro-batches, got ${batches("q78")}")
    assert(sinkViews().isEmpty, s"memory-sink views left: ${sinkViews()}")
  }

  test("q113: streaming dedup == batch rollup despite a redelivered batch") {
    import org.apache.spark.sql.functions._
    val streamed = rows(StreamingQueries.streamingDedup(spark, sf))
    val batch = rows(Tables.events(spark, sf)
      .filter(col("ts").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
          .as("value_sum"))
      .orderBy("event_type"))
    assert(streamed == batch)
    assert(singleRunBatches("q113") >= 4,
      s"expected >=4 micro-batches, got ${batches("q113")}")
    // the staging genuinely carried duplicates, and none survived: the
    // run read more rows than the result counts
    val staged = StreamingQueries.progress("q113").flatten.map(_.numInputRows).sum
    val emitted = streamed.map(_(1).asInstanceOf[Long]).sum
    assert(staged > emitted, s"read $staged rows, emitted $emitted")
    assert(emitted ==
      Tables.events(spark, sf).filter(col("ts").isNotNull).count())
  }

  test("q128: restart resumes the checkpoint — batch numbering continues, no reprocessing") {
    import org.apache.spark.sql.functions._
    val streamed = rows(StreamingQueries.streamingRestartResume(spark, sf))
    val batch = rows(Tables.events(spark, sf)
      .filter(col("ts").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
          .as("value_sum"))
      .orderBy("event_type"))
    assert(streamed == batch)
    // run 1 drained its 2 staged files; run 2's batch ids CONTINUE from
    // the checkpoint (2 more batches, numbered after run 1's) — a fresh
    // restart would renumber from 0, a reprocess would double counts
    val Seq(first, second) = batches("q128")
    assert(first == 2, s"run 1 batches: $first")
    assert(second == first + 2, s"run 2 final batch count: $second")
  }

  test("q113 horizon contract: a duplicate past the watermark delay is re-admitted") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // delay 10 s. Batch 1: key 1 at t=5 (emitted; t=0 would sit ON the
    // initial watermark and be late-filtered). Batch 2: t=100 advances
    // the watermark past t=5+delay → key 1's state evicts. Batch 3:
    // key 1 redelivered at t=101 — PAST the horizon, so it is
    // re-admitted (the documented bounded-state trade-off), while the
    // in-horizon duplicate of key 2 is dropped.
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val stream = MemoryStream[(Long, Timestamp)]
    val deduped = stream.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.format("memory").queryName("q113_horizon")
      .outputMode("append").start()
    try {
      stream.addData((1L, t(5)))
      q.processAllAvailable()
      stream.addData((2L, t(100)))
      q.processAllAvailable()
      stream.addData((1L, t(101)), (2L, t(101)))
      q.processAllAvailable()
      val emitted = s.table("q113_horizon")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000L))
      assert(emitted.count(_._1 == 1L) == 2, // re-admitted past horizon
        s"got ${emitted.toSeq}")
      assert(emitted.count(_._1 == 2L) == 1, // in-horizon dup swallowed
        s"got ${emitted.toSeq}")
    } finally q.stop()
  }

  test("q79: stream-stream interval join == batch interval join, pair for pair") {
    import org.apache.spark.sql.functions._
    val w = graft.ops.TemporalJoins.lookbackSeconds * 1000000L
    val streamed = rows(StreamingQueries.streamStreamJoin(spark, sf))
    val ev = Tables.eventsMicros(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("tsu").as("purchase_tsu"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"),
        col("tsu").as("click_tsu"))
    val batch = rows(p.join(c,
        col("user_id") === col("cu")
          && col("click_tsu") >= col("purchase_tsu") - w
          && col("click_tsu") < col("purchase_tsu"))
      .select(col("purchase_id"), col("user_id"), col("purchase_tsu"),
        col("click_id"), col("click_tsu"),
        (col("purchase_tsu") - col("click_tsu")).as("gap_us"))
      .orderBy("purchase_id", "click_id"))
    assert(streamed.nonEmpty && streamed == batch)
    assert(singleRunBatches("q79") >= 2,
      s"expected >=2 micro-batches, got ${batches("q79")}")
  }

  test("q212: stream-stream LEFT OUTER join == batch left join — " +
    "unmatched purchases flush via the sentinel-driven watermark") {
    import org.apache.spark.sql.functions._
    val w = graft.ops.TemporalJoins.lookbackSeconds * 1000000L
    val streamed = rows(StreamingQueries.streamStreamLeftJoin(spark, sf))
    val ev = Tables.eventsMicros(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("tsu").as("purchase_tsu"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id").as("cu"),
        col("tsu").as("ctsu"))
    val batch = rows(p.join(c,
        col("user_id") === col("cu")
          && col("ctsu") >= col("purchase_tsu") - w
          && col("ctsu") < col("purchase_tsu"), "left")
      .select(col("purchase_id"), col("user_id"), col("purchase_tsu"),
        coalesce(col("cid"), lit(-1L)).as("click_id"),
        coalesce(col("ctsu"), lit(-1L)).as("click_tsu"),
        when(col("cid").isNotNull, col("purchase_tsu") - col("ctsu"))
          .otherwise(lit(-1L)).as("gap_us"))
      .orderBy("purchase_id", "click_id"))
    assert(streamed.nonEmpty && streamed == batch)
    // the class under test must be non-vacuous both ways: matched pairs
    // AND watermark-flushed unmatched purchases must both occur
    val unmatched = streamed.count(_(3) == -1L) // click_id column
    assert(unmatched > 0, "no unmatched purchases — outer path untested")
    assert(streamed.size > unmatched, "no matched pairs — join untested")
  }

  test("q99: streaming sessionization == batch q27 over the same events, multi-batch") {
    val streamed = rows(StreamingQueries.streamingSessions(spark, sf))
    val batch = rows(Sessionization.sessions(spark, sf))
    assert(streamed.size == batch.size)
    assert(streamed == batch)
    // 2 time-split files + 1 sentinel file, one per trigger
    assert(singleRunBatches("q99") >= 3,
      s"expected >=3 micro-batches, got ${batches("q99")}")
  }

  test("q241: streaming session_window == batch q235, multi-batch, " +
    "sentinel filtered") {
    val streamed = rows(StreamingQueries.streamingSessionWindow(spark, sf))
    val batch = rows(Sessionization.sessionWindowNative(spark, sf))
    assert(streamed.size == batch.size)
    assert(streamed == batch)
    // 2 time-split files + 1 watermark-pusher sentinel, one per trigger
    assert(singleRunBatches("q241") >= 3,
      s"expected >=3 micro-batches, got ${batches("q241")}")
  }

  test("q100: late rows are dropped behind the watermark and accounted") {
    import org.apache.spark.sql.functions._
    val W = 3600L * 1000000L
    val got = rows(StreamingQueries.lateDataAccounting(spark, sf))

    // batch twin of the oracle: mid/watermark from the same split rule
    val ev = Tables.eventsMicros(spark, sf).select("tsu")
    val b = ev.agg(min("tsu"), max("tsu")).head()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val mid = mn + (mx - mn) / 2
    val wm = (mx / 1000) * 1000 // ms-truncated, like the engine's tracker
    val closed = ev.filter(col("tsu") >= mid)
      .groupBy(expr(s"tsu div $W * $W").as("window_start_us"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("window_start_us") + W <= wm)
    // the unit is dropped WINDOWS: the watermark filter discards
    // fully-merged per-window rows at the state-store boundary
    val droppedWant = ev
      .filter(col("tsu") < mid && expr(s"tsu div $W * $W") + W <= wm)
      .select(expr(s"tsu div $W")).distinct().count()
    val want = rows(closed
      .unionByName(spark.range(1).select(lit(-1L).as("window_start_us"),
        lit(droppedWant).as("n_events")))
      .orderBy("window_start_us"))
    assert(got == want)
    // the run must have genuinely exercised the drop path, and the
    // engine-observed drop count must equal the recomputed one
    val dropped = StreamingQueries.progress("q100").flatten
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    assert(dropped == droppedWant)
    assert(dropped > 0,
      "fixture produced no late drops — the semantics class went untested")
  }

  test("streaming staging trees are deleted after every run") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def scratch(): Set[String] = {
      val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
      val s = Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_q")).toSet
      finally s.close()
    }
    val before = scratch()
    StreamingQueries.streamingWordFreq(spark, sf).count()
    StreamingQueries.lateDataAccounting(spark, sf).count()
    val leaked = scratch() -- before
    assert(leaked.isEmpty, s"leaked staging dirs: $leaked")
  }
}
