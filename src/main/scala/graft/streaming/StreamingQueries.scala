package graft.streaming

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.{Dedup, Sessionization, TextAnalysis}
import StagedInputs.stageOne

/** Driver-gated registrations of the §2.9 streaming surface: each query
  * here executes through the REAL streaming engine (MicroBatchExecution,
  * state store, event-time watermarks) with a `Trigger.AvailableNow`
  * run over a multi-file staging of the driver's own tables, then
  * returns the at-rest result for the driver's DuckDB oracle compare —
  * the same hash gate every batch query passes. The oracles are the
  * BATCH twins' oracles verbatim: streaming and batch must agree
  * exactly on the same input, which is precisely the parity claim the
  * spec suite pins (StreamingWordFreqSpec, SessionizeSpec).
  *
  * Staging splits the input into several files consumed one per
  * micro-batch (`maxFilesPerTrigger=1`), so aggregation/session state
  * genuinely persists and folds ACROSS triggers — a single-batch run
  * would not exercise the incremental path. The word-freq split is
  * arbitrary (counts are order-independent); the sessionization split
  * is BY TIME, which is exactly how a replayed production stream
  * arrives (cross-trigger order preserved per key, in-batch order
  * free — the fold sorts within the trigger).
  *
  * Flush discipline for sessions: the gap rule only closes a session
  * when a later event arrives, and the event-time timeout only fires
  * when the watermark passes — a bounded replay would otherwise end
  * with every user's final session stuck open in state. The staging
  * appends one SENTINEL event per user, 2 gaps past the global max
  * time, as the last micro-batch: it gap-closes every open real
  * session in-fold (watermark-independent, deterministic), and the
  * sentinel's own session is never emitted (nothing follows it; its
  * timeout is beyond the final watermark). This is the streaming
  * analog of an end-of-stream flush marker.
  *
  * Scale: staging I/O is verification plumbing — a production
  * deployment points the same `readStream` at the live directory/bus
  * and the same plan runs unbounded. State is O(vocabulary) for
  * word-freq (complete-mode leaderboard, bounded by distinct surviving
  * words) and O(1) per active user for sessions (watermark-purged).
  */
object StreamingQueries {

  private val sinkSeq = new AtomicInteger(0)

  /** Progress of the latest invocation of each query, by query id
    * ("q98"): one entry per drained run, in run order (q128 drains
    * twice), each the run's own `recentProgress`. The specs read batch
    * counts, watermark drops and input rows from here, and q100 its
    * drop tally. Every run here is at most 10 micro-batches, well under
    * the 100 progress updates a query keeps.
    */
  private val recorded =
    new ConcurrentHashMap[String, Vector[Seq[StreamingQueryProgress]]]()

  private[graft] def progress(id: String): Seq[Seq[StreamingQueryProgress]] =
    recorded.getOrDefault(id, Vector.empty)

  /** One streaming run's scratch tree (`base`: checkpoint and file
    * sinks) and its memory-sink name, unique per run.
    */
  private final class Run(id: String, val base: Path, val sink: String) {
    /** Starts `writer` on this run's checkpoint with
      * `Trigger.AvailableNow`, waits until it has drained every staged
      * file, records its progress under the query id and stops it.
      */
    def drain(writer: DataStreamWriter[_]): Unit = {
      val q = writer
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination()
        recorded.merge(id, Vector(q.recentProgress.toSeq), _ ++ _)
      } finally q.stop()
    }
  }

  /** The run scope every query here executes in: `body` gets a fresh
    * scratch tree for its checkpoint and sinks, and the frame it returns
    * is detached from that tree ([[Tables.detached]]) before the tree is
    * deleted, so a long-lived session (or the spec suite's repeated
    * invocations) accumulates no per-run state — the round-7 leak: four
    * trees per full verify/bench run, never reclaimed. A memory sink's
    * view is dropped once the result is detached, so its rows do not
    * outlive the run either. Staged INPUT trees stay outside the scope:
    * they are cached for the process lifetime ([[StagedInputs]]).
    *
    * The scope also sets run-scoped fixed-cost knobs, with
    * [[Tables.withConfs]], around the run AND the detaching checkpoint
    * (r13 verdict task 4 → r14 task 3, generalizing commit eb6eb3a
    * from q79/q212 to the whole family). At sf0.1 every replay's wall
    * is FIXED machinery, not data: each micro-batch commits every
    * state-store instance — stores × shuffle partitions — so the
    * session's 32 partitions bill 4× the per-commit constant that 8
    * would for ~100k-row inputs. Every run starts a FRESH checkpoint,
    * so the scoped partition count is this run's alone (a stateful
    * query's shuffle partitioning is fixed at its first checkpoint — a
    * real deployment sizes it to state volume at provisioning time,
    * which is exactly what this is). Results cannot move: partition
    * count changes WHERE state rows live, never their values, and every
    * query ends in a total-order sort — the driver's hash gates are the
    * proof this holds.
    *
    * The scope also selects [[LocalCheckpointFiles]] as the checkpoint
    * file manager. The per-commit constant was never the bytes: without
    * libhadoop, Spark's default manager starts `readlink`/`chmod` shell
    * processes (2.5–2.9 ms each) for every offset, commit, metadata-log
    * and state-store file it writes — ~27 ms per log entry, ~188
    * processes per q128 execution. `LocalCheckpointFiles` writes local
    * paths through `java.nio` and starts none; other schemes keep
    * Spark's manager.
    *
    * The scope also turns per-session artifact isolation off
    * ([[isolationKey]]), so a run's tasks load generated classes through
    * the executor's default class loader. `start()` runs the
    * micro-batches in a clone of the session with a fresh session UUID;
    * with isolation on, every job is tagged with that UUID and the
    * executor builds a new session state, class loaders included, for
    * it. The codegen cache is keyed by (class loader, code), so each run
    * compiled every class again, and the JIT started over on them.
    * The clone copies this conf at `start()`; the session the query was
    * called on keeps its own isolation. No artifact (JAR, file, REPL
    * class) is ever added to a session here, so the fresh loaders held
    * nothing but the recompiled classes. Janino compiles per warm
    * execution (`graft.Probe`, sf0.1, 4 cores, reps 2–5 in one JVM per
    * query), before → after: q78 12 → 0, q79 19 → 0, q98 11 → 0,
    * q99 19 → 0, q100 14 → 0, q113 6 → 0, q128 2 → 0, q194 11 → 0,
    * q212 21 → 0, q241 26 → 0, q285 17 → 3 (→ 0 with its binary bucket
    * state, [[LshBucket]]).
    *
    * `noDataBatches = false` additionally skips watermark-only no-data
    * micro-batches — ONLY sound when no emitted row depends on
    * watermark-driven eviction or event-time timeout (those fire in
    * the batch AFTER the watermark advances, i.e. precisely in a
    * no-data batch on a bounded replay). Each call site documents its
    * decision: q79/q113 turn them off (in-batch emission), q212/q99/
    * q241/q100 keep them ON (eviction/timeout IS the emit path).
    */
  private def withRun(spark: SparkSession, id: String, noDataBatches: Boolean = true)
                     (body: Run => DataFrame): DataFrame = {
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> "8",
      providerKey -> rocksDbProvider,
      LocalCheckpointFiles.Key -> classOf[LocalCheckpointFiles].getName,
      isolationKey -> "false") ++
      Option.when(!noDataBatches)("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    val sink = s"graft_${id}_sink_${sinkSeq.incrementAndGet()}"
    recorded.put(id, Vector.empty)
    try Tables.withConfs(spark, confs: _*) {
      Tables.detached(s"graft_${id}_run_")(base => body(new Run(id, base, sink)))
    } finally spark.catalog.dropTempView(sink)
  }

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  /** Per-session artifact isolation, off inside [[withRun]]. */
  private[graft] val isolationKey = "spark.sql.artifact.isolation.enabled"

  /** RocksDB state store for every stateful stream in this module
    * (r18, guide §5/§6): the default HDFS-backed provider keeps state
    * as an in-memory hashmap of UnsafeRow copies plus a per-commit
    * delta file through the Hadoop filesystem layer; RocksDB commits
    * through its native WAL/memtable instead. Measured on this harness
    * (tools/StreamStoreAB, sf0.1, local[32], 2 reps, r18): warm deltas
    * q212 5.00→4.26 s, q241 3.93→3.27, q113 3.66→3.14, q99 3.27→2.74,
    * q194 2.49→2.22 — consistent ~10–18% per query. The r17 tmpfs A/B
    * showed the delta-file bytes cost nothing: the per-commit cost is
    * the per-file shell-outs of Hadoop's local filesystem (see
    * [[withRun]]). Through [[LocalCheckpointFiles]] the HDFS-backed
    * delta files and RocksDB's checkpoint metadata start none; RocksDB's
    * SST uploads (`FileSystem.copyFromLocalFile`, a `chmod` per file)
    * and its local snapshot deletes (Spark's native `rm -rf`) still do.
    * Provider choice is semantics-free (same keys, same values, same
    * watermark math — the provider only stores rows), which the
    * per-round oracle replay re-confirms. At production scale RocksDB
    * is also the off-heap choice that survives state larger than
    * executor heap.
    */
  private val rocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The events table's observed (min, max) tsu — every replay harness
    * needs it to derive micro-batch split points and watermark spans.
    * Round-11 ADVICE/verdict fix: this used to be a per-invocation
    * `ev.agg(min, max).head()` — a FULL events scan stage whose only
    * product is two longs, an extra 100-TB pass before the staging
    * split re-scans the same table. Now a driver-side parquet FOOTER
    * probe ([[Tables.eventsTsuFooterBounds]] — min/max of the stored
    * µs column are exactly min/max tsu), with the scan as the fallback
    * whenever any row group lacks stats. None ⇔ no non-null ts rows,
    * matching the old NULL-bounds path bit for bit.
    */
  private def tsuBounds(spark: SparkSession,
                        dir: String): Option[(Long, Long)] =
    Tables.eventsTsuFooterBounds(spark, dir).orElse {
      val r = Tables.eventsMicros(spark, dir)
        .agg(min("tsu"), max("tsu")).head()
      if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
    }

  /** q98: the streaming twin of q40 — documents stream → the SAME
    * tokenize+filter stage ([[TextAnalysis.wordsFrom]]) → an
    * incrementally-maintained count per word (complete-mode
    * leaderboard), top-k cut at the sink. Oracle = q40's, verbatim.
    */
  def streamingWordFreq(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    // 4 files → 4 micro-batches: counts must survive and accumulate
    // across triggers, not within one
    val input = StagedInputs.dir("q98", dir) { d =>
      Tables.documents(spark, dir)
        .repartitionByRange(4, col("doc_id"))
        .write.parquet(d.resolve("in").toString)
    }.resolve("in").toString
    // no watermark in the plan → no-data batches never fire here, so
    // there is no emission decision to make
    withRun(spark, "q98") { run =>
      val stream = spark.readStream
        .schema(Tables.documentsSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input)
      val counts = TextAnalysis.wordsFrom(stream)
        .groupBy("word").agg(count(lit(1)).as("freq"))
      run.drain(counts.writeStream
        .format("memory").queryName(run.sink)
        .outputMode("complete"))
      // the memory sink holds the final complete snapshot = counts over
      // the whole stream; ordering/limit are sink-side, exactly as the
      // batch query's TakeOrderedAndProject, so only the top k detach
      spark.table(run.sink).orderBy(desc("freq"), asc("word")).limit(k)
    }
  }

  private val slideUs194 = 900000000L       // 15 min
  private val slidesPerWindow194 = 4        // 1 h window = 4 slides

  /** q194 — streaming SLIDING event-time windows: hourly event counts
    * advancing every 15 minutes — the overlapping-window shape none of
    * q98-q128 exercise (q98 global agg, q99 sessions, q100 TUMBLING
    * windows). Each event enters ceil(width/slide) = 4 window states;
    * Spark expands the memberships inside the stateful agg, so state
    * is O(open windows), not O(events). The replay arrives as 4
    * micro-batches (range-split on time), so window counts must
    * accumulate across triggers through the state store; complete-mode
    * memory sink reads the final snapshot. The driver hash-gates the
    * result against the batch oracle — the same epoch-aligned
    * 4-covering-windows arithmetic q108 proves in batch — so
    * streaming == batch on overlapping windows is a verified identity,
    * not an assumption.
    */
  def streamingSlidingCounts(spark: SparkSession, dir: String): DataFrame = {
    val input = StagedInputs.dir("q194", dir) { d =>
      Tables.eventsMicros(spark, dir)
        .select(timestamp_micros(col("tsu")).as("ts"))
        .repartitionByRange(4, col("ts"))
        .write.parquet(d.resolve("in").toString)
    }.resolve("in").toString
    // complete-mode snapshot with no watermark → no-data batches never
    // fire
    withRun(spark, "q194") { run =>
      val stream = spark.readStream
        .schema(StructType(Seq(StructField("ts", TimestampType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(input)
      val win = window(col("ts"),
        s"${slidesPerWindow194 * slideUs194 / 1000000L} seconds",
        s"${slideUs194 / 1000000L} seconds")
      val counts = stream.groupBy(win)
        .agg(count(lit(1)).as("n_events"))
        .select(expr("unix_micros(window.start)").as("window_start_us"),
          col("n_events"))
      run.drain(counts.writeStream
        .format("memory").queryName(run.sink)
        .outputMode("complete"))
      spark.table(run.sink)
    }.orderBy("window_start_us")
  }

  private val sessionInSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_type", StringType)))

  private val sessionOutSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("session_start", LongType),
    StructField("session_end", LongType),
    StructField("n_events", LongType)))

  private def emptySessions(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("session_id", LongType),
      StructField("session_start_us", LongType), StructField("session_end_us", LongType),
      StructField("n_events", LongType), StructField("duration_sec", LongType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** q99: the streaming twin of q27 — events replayed time-ordered in
    * two micro-batches + a sentinel flush batch, through the keyed-state
    * sessionizer ([[Sessionize.sessions]]), landed in a parquet sink,
    * then shaped to q27's exact output (session_id = per-user rank of
    * session start, a window over the tiny SESSION table, not events).
    * Oracle = q27's, verbatim. µs precision end-to-end (Sessionize
    * folds on epoch-µs; `ts div 1000` here is the same ns→µs
    * truncation the batch twin and the oracle apply).
    */
  def streamingSessions(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = Sessionize.gapSeconds * 1000000L
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), expr("ts div 1000").as("tsu"), col("event_type"))
    val bounds = tsuBounds(spark, dir)
    if (bounds.isEmpty) return emptySessions(spark)
    val (minT, maxT) = bounds.get
    val mid = minT + (maxT - minT) / 2

    val input = StagedInputs.dir("q99", dir) { d =>
      val in = Files.createDirectory(d.resolve("in"))
      def asIn(df: DataFrame): DataFrame =
        df.select(col("user_id"), timestamp_micros(col("tsu")).as("ts"), col("event_type"))
      // time-split replay: every event in batch N+1 is newer than every
      // event in batch N, so per-key arrival order matches a live stream
      val now = System.currentTimeMillis()
      stageOne(asIn(ev.filter(col("tsu") < mid)),
        in, "00_early.parquet", now - 240000L)
      stageOne(asIn(ev.filter(col("tsu") >= mid)),
        in, "01_late.parquet", now - 120000L)
      stageOne(asIn(ev.select("user_id").distinct()
          .withColumn("tsu", lit(maxT + 2 * gapUs))
          .withColumn("event_type", lit("sentinel"))),
        in, "02_sentinel.parquet", now)
    }.resolve("in")
    // no-data batches stay ON — sessions emit on EventTimeTimeout,
    // which fires in the batch AFTER the sentinel advances the
    // watermark, i.e. in the trailing no-data batch; turning it off
    // would swallow every session the sentinel flushes
    val sessions = withRun(spark, "q99") { run =>
      val stream = spark.readStream
        .schema(sessionInSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input.toString)
        .withWatermark("ts", "0 seconds")
        .as[Sessionize.In](org.apache.spark.sql.Encoders.product[Sessionize.In])
      val outDir = run.base.resolve("out").toString
      run.drain(Sessionize.sessions(stream).writeStream
        .format("parquet")
        .option("path", outDir))
      spark.read.schema(sessionOutSchema).parquet(outDir)
    }
    val w = Window.partitionBy("user_id").orderBy("session_start")
    sessions
      .withColumn("session_id", row_number().over(w).cast("long"))
      .select(
        col("user_id"), col("session_id"),
        col("session_start").as("session_start_us"),
        col("session_end").as("session_end_us"),
        col("n_events"),
        expr("(session_end - session_start) div 1000000").as("duration_sec"))
      .orderBy("user_id", "session_id")
  }

  /** q241: the STREAMING twin of q235 — the same gap sessions through
    * Spark's built-in `session_window` aggregation running inside
    * MicroBatchExecution, i.e. the engine's own session-window state
    * path (merging session state store), which q99's hand-rolled
    * keyed-state fold deliberately does NOT exercise. Together the two
    * pin the parity triangle: q27 (batch window chain) = q235 (batch
    * session_window) = q99 (streaming keyed state) = q241 (streaming
    * session_window) — all against ONE oracle relation.
    *
    * Replay: q99's time-split staging (cross-trigger order matches a
    * live stream). Flush: session_window emits in append mode only
    * when the WATERMARK passes a session's close, so the staging
    * appends one sentinel row for a fake user (-1) 2 gaps past the
    * global max — a GLOBAL watermark needs one pusher, not q99's
    * per-user sentinels (the keyed fold needed a per-key later event;
    * the watermark is stream-wide). The sentinel's own open session
    * dies in state at stream end and its user is filtered on read.
    * Gap bridge: windowGap = gapUs + 1 µs, exactly q235's argument —
    * merge-iff-gap<windowGap coincides with q27's gap ≤ gapUs on the
    * integer µs grain both engines share.
    */
  def streamingSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = Sessionize.gapSeconds * 1000000L
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), expr("ts div 1000").as("tsu"))
    val bounds = tsuBounds(spark, dir)
    if (bounds.isEmpty) return emptySessions(spark).drop("session_id")
    val (minT, maxT) = bounds.get
    val mid = minT + (maxT - minT) / 2

    val input = StagedInputs.dir("q241", dir) { d =>
      val in = Files.createDirectory(d.resolve("in"))
      def asIn(df: DataFrame): DataFrame =
        df.select(col("user_id"), timestamp_micros(col("tsu")).as("ts"))
      val now = System.currentTimeMillis()
      stageOne(asIn(ev.filter(col("tsu") < mid)),
        in, "00_early.parquet", now - 240000L)
      stageOne(asIn(ev.filter(col("tsu") >= mid)),
        in, "01_late.parquet", now - 120000L)
      stageOne(asIn(spark.range(1).select(lit(-1L).as("user_id"),
          lit(maxT + 2 * gapUs).as("tsu"))),
        in, "02_sentinel.parquet", now)
    }.resolve("in")
    // no-data batches stay ON — append-mode session_window rows are
    // emitted by watermark-driven EVICTION, which runs in the trailing
    // no-data batch after the sentinel seals the watermark
    val sessions = withRun(spark, "q241") { run =>
      val inSchema = StructType(Seq(
        StructField("user_id", LongType), StructField("ts", TimestampType)))
      val stream = spark.readStream
        .schema(inSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input.toString)
        .withWatermark("ts", "0 seconds")
      val outDir = run.base.resolve("out").toString
      run.drain(stream
        .groupBy(col("user_id"),
          session_window(col("ts"), s"${gapUs + 1} microseconds"))
        .agg(min(unix_micros(col("ts"))).as("session_start_us"),
          max(unix_micros(col("ts"))).as("session_end_us"),
          count(lit(1)).as("n_events"))
        .drop("session_window")
        .writeStream
        .format("parquet")
        .option("path", outDir))

      val outSchema = StructType(Seq(
        StructField("user_id", LongType),
        StructField("session_start_us", LongType),
        StructField("session_end_us", LongType),
        StructField("n_events", LongType)))
      spark.read.schema(outSchema).parquet(outDir)
    }
    sessions
      .filter(col("user_id") >= 0)
      .withColumn("duration_sec",
        expr("(session_end_us - session_start_us) div 1000000"))
      .orderBy("user_id", "session_start_us")
  }

  /** q78: stream-STATIC enrichment join — the third canonical streaming
    * shape after stateful aggregation (q98) and keyed-state
    * sessionization (q99). The event stream (4 staged files → 4
    * micro-batches) joins the static customer dimension inside the
    * streaming engine (the dim is a plain broadcast-able batch plan
    * re-bound per micro-batch), then feeds a complete-mode revenue
    * rollup whose state accumulates across triggers. Money sums follow
    * the decimal-quantization discipline so the at-rest result
    * hash-matches the batch oracle exactly.
    */
  def streamingEnrichedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val input = StagedInputs.dir("q78", dir) { d =>
      Tables.events(spark, dir)
        .filter(col("ts").isNotNull)
        .select("event_id", "user_id", "value")
        .repartitionByRange(4, col("event_id"))
        .write.parquet(d.resolve("in").toString)
    }.resolve("in").toString
    // complete-mode rollup with no watermark → no-data batches never
    // fire
    withRun(spark, "q78") { run =>
      val stream = spark.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("value", DoubleType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(input)
      val dim = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
      val agg = stream
        .join(dim, stream("user_id") === dim("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("value_sum"))
      run.drain(agg.writeStream
        .format("memory").queryName(run.sink)
        .outputMode("complete"))
      spark.table(run.sink)
    }.orderBy("c_mktsegment")
  }

  private val ssInSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("ts", TimestampType)))

  /** The joined rows q79 and q212 land at rest. */
  private val pairSchema = StructType(Seq(
    StructField("purchase_id", LongType), StructField("p_user", LongType),
    StructField("p_ts", TimestampType), StructField("click_id", LongType),
    StructField("c_user", LongType), StructField("c_ts", TimestampType)))

  /** q79: stream-STREAM interval join — the fourth and hardest
    * canonical streaming shape (two unbounded sides, symmetric state,
    * watermark-driven eviction). Clicks and purchases replay as two
    * separate time-split file streams; the join emits every (purchase,
    * click by the same user in the trailing 10 minutes) PAIR — q37's
    * window semantics, but as an event-level join inside
    * MicroBatchExecution rather than a batch aggregate.
    *
    * Watermarks: the purchase side advances at 0 delay (it only ever
    * matches OLDER clicks); the click side keeps a lookback-wide delay
    * so a click needed by a next-batch purchase is still in state when
    * that purchase arrives — eviction exactly at the limit would race
    * the boundary pair. State is bounded by one lookback window of
    * clicks per user, the streaming twin of q37's two-band probe bound.
    * Oracle = the plain batch interval join, pair for pair.
    *
    * COST MODEL (r13 verdict task 4 — q79 was the record's most
    * expensive query three rounds running): at sf0.1 the joined data
    * is ~100k rows total, so the wall is almost entirely FIXED
    * machinery, not data — each micro-batch commits 4 state-store
    * instances (2 keyed sides × key/value stores) × shuffle-partition
    * count, each an HDFS-backed delta file + fsync, and the replay
    * runs ~4 data batches plus watermark-only no-data batches. Two
    * run-scoped knobs cut the constant without touching semantics:
    * (1) state-exchange parallelism 8 instead of the session's 32 —
    * the stateful exchange's partition count is fixed per checkpoint,
    * and every q79 run starts a fresh checkpoint, so this is purely
    * this query's state fan-out (a real deployment sizes it to state
    * volume; ~100k rows does not need 32 stores × batch); (2) no-data
    * micro-batches OFF — an INNER interval join emits only on data
    * batches; the trailing watermark-only batches exist to evict
    * state, which a bounded AvailableNow replay discards at stop
    * anyway (q212's LEFT OUTER twin keeps them ON — outer rows are
    * emitted by eviction there). Both are scoped to the run.
    */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsMicros(spark, dir)
      .select(col("event_id"), col("user_id"), col("tsu"), col("event_type"))
    val bounds = tsuBounds(spark, dir)
    val out0 = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("purchase_id", LongType), StructField("user_id", LongType),
        StructField("purchase_tsu", LongType), StructField("click_id", LongType),
        StructField("click_tsu", LongType), StructField("gap_us", LongType))))
    if (bounds.isEmpty) return out0
    val (minT, maxT) = bounds.get
    val mid = minT + (maxT - minT) / 2

    val staged = StagedInputs.dir("q79", dir) { d =>
      def stageSide(tpe: String, sub: String): Unit = {
        val inDir = Files.createDirectory(d.resolve(sub))
        val rows = ev.filter(col("event_type") === tpe)
          .select(col("event_id"), col("user_id"),
            timestamp_micros(col("tsu")).as("ts"))
        val now = System.currentTimeMillis()
        // time-split: batch N+1 strictly newer than batch N per source
        stageOne(rows.filter(col("ts") < timestamp_micros(lit(mid))),
          inDir, "00_early.parquet", now - 240000L)
        stageOne(rows.filter(col("ts") >= timestamp_micros(lit(mid))),
          inDir, "01_late.parquet", now - 120000L)
      }
      stageSide("click", "clicks")
      stageSide("purchase", "purchases")
    }
    // cost model in the scaladoc above: no-data batches OFF — the
    // inner join emits in-batch; watermark eviction only PURGES click
    // state, it never produces a row
    val pairs = withRun(spark, "q79", noDataBatches = false) { run =>
      def read(dir: String): DataFrame = spark.readStream
        .schema(ssInSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)

      val clicks = read(staged.resolve("clicks").toString)
        .withWatermark("ts", s"${graft.ops.TemporalJoins.lookbackSeconds} seconds")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
      val purchases = read(staged.resolve("purchases").toString)
        .withWatermark("ts", "0 seconds")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      val joined = purchases.join(clicks, expr(
        s"""p_user = c_user
            AND c_ts >= p_ts - INTERVAL ${graft.ops.TemporalJoins.lookbackSeconds} SECONDS
            AND c_ts < p_ts"""))

      val outDir = run.base.resolve("out").toString
      run.drain(joined.writeStream
        .format("parquet")
        .option("path", outDir))
      spark.read.schema(pairSchema).parquet(outDir)
    }
    pairs
      .select(
        col("purchase_id"), col("p_user").as("user_id"),
        expr("unix_micros(p_ts)").as("purchase_tsu"),
        col("click_id"),
        expr("unix_micros(c_ts)").as("click_tsu"))
      .withColumn("gap_us", col("purchase_tsu") - col("click_tsu"))
      .orderBy("purchase_id", "click_id")
  }

  /** Tumbling-window width for q100, µs. */
  private val lateWindowUs = 3600L * 1000000L

  /** q100: watermark LATE-DATA ACCOUNTING — the one streaming semantics
    * class q78/q79/q98/q99 leave untested as observed behavior: rows
    * arriving BEHIND the watermark must be dropped, and the drop must be
    * visible both in the emitted aggregates (affected windows count
    * fewer rows) and in an explicit dropped-row tally.
    *
    * Replay shape (three files): the NEWER half of `events` arrives as
    * two micro-batches (newest quarter first, so batch 0 carries the
    * global max event time), then the older half replays last, entirely
    * behind the watermark. The split is two files on the on-time side
    * because the engine's LATE-ROW filter runs one batch behind its
    * EVICTION watermark (StateStoreSave carries both
    * eventTimeWatermarkForLateEvents — the watermark the PREVIOUS batch
    * ran with — and eventTimeWatermarkForEviction; observed directly in
    * the executed plan): a two-file replay would filter the late batch
    * with a still-zero watermark and drop nothing. The middle batch
    * seals the batch-0 watermark, so the late batch is filtered by the
    * full delay-0 watermark = ms-truncated global max.
    *
    * The 1-hour tumbling count in APPEND mode then:
    *   - drops every late row whose window closed at-or-before the
    *     watermark (counted by the state operator's
    *     numRowsDroppedByWatermark),
    *   - admits late rows in still-open windows (window end past the
    *     watermark) — but those windows never finalize before the
    *     bounded replay ends, so the emitted rows are exactly the
    *     on-time counts of CLOSED windows.
    * Output: one row per closed window plus a `window_start_us = -1`
    * summary row carrying the drop tally — BOTH reproduced by the
    * DuckDB oracle from the same split rule, so the drop semantics are
    * hash-gated, not just spec-asserted. The tally's unit is dropped
    * WINDOWS, not events: the watermark filter sits at the state-store
    * boundary, above the partial-agg exchange, so what it discards (and
    * what numRowsDroppedByWatermark counts) is one fully-merged row per
    * closed late window per batch — deterministic here because the
    * whole late half replays as one micro-batch.
    *
    * The ms truncation in the oracle's watermark mirrors the engine:
    * Spark tracks event-time watermarks in milliseconds (EventTimeStats
    * collects max(eventTime)/1000), so a µs-precision cutoff would
    * disagree on data landing inside the truncated millisecond.
    */
  def lateDataAccounting(spark: SparkSession, dir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("window_start_us", LongType),
      StructField("n_events", LongType)))
    val ev = Tables.eventsMicros(spark, dir).select(col("tsu"))
    val bounds = tsuBounds(spark, dir)
    if (bounds.isEmpty)
      // degenerate input still carries the accounting row, like the oracle
      return spark.createDataFrame(
        java.util.List.of(Row(-1L, 0L)), outSchema)
    val (minT, maxT) = bounds.get
    val mid = minT + (maxT - minT) / 2

    val input = StagedInputs.dir("q100", dir) { d =>
      val in = Files.createDirectory(d.resolve("in"))
      def asIn(df: DataFrame): DataFrame =
        df.select(timestamp_micros(col("tsu")).as("ts"))
      val now = System.currentTimeMillis()
      // newest quarter first (holds the global max → batch 0 sets the
      // watermark), rest of the on-time half second (seals it — the
      // late-row filter lags one batch), older half last (all late)
      val mid2 = mid + (maxT - mid) / 2
      stageOne(asIn(ev.filter(col("tsu") >= mid2)),
        in, "00_newest.parquet", now - 300000L)
      stageOne(asIn(ev.filter(col("tsu") >= mid && col("tsu") < mid2)),
        in, "01_current.parquet", now - 200000L)
      stageOne(asIn(ev.filter(col("tsu") < mid)),
        in, "02_late_replay.parquet", now - 100000L)
    }.resolve("in")
    // no-data batches stay ON — closed-window emission and the
    // late-drop tally both ride watermark machinery, and this query's
    // entire PURPOSE is observing that machinery unperturbed
    val closed = withRun(spark, "q100") { run =>
      val stream = spark.readStream
        .schema(StructType(Seq(StructField("ts", TimestampType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(input.toString)
        .withWatermark("ts", "0 seconds")
      val agg = stream
        .groupBy(window(col("ts"), s"${lateWindowUs / 1000000L} seconds"))
        .agg(count(lit(1)).as("n_events"))
        .select(expr("unix_micros(window.start)").as("window_start_us"),
          col("n_events"))
      val outDir = run.base.resolve("out").toString
      run.drain(agg.writeStream
        .format("parquet")
        .option("path", outDir)
        .outputMode("append"))
      spark.read.schema(outSchema).parquet(outDir)
    }
    // late rows the watermark discarded, Σ over the run's micro-batches
    val dropped = progress("q100").flatten
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsDroppedByWatermark).sum
    closed
      .unionByName(spark.createDataFrame(
        java.util.List.of(Row(-1L, dropped)), outSchema))
      .orderBy("window_start_us")
  }

  /** q113: streaming EXACTLY-ONCE DEDUP over at-least-once delivery —
    * the ingestion-boundary operator every replayed/redelivered
    * production bus needs (the fifth streaming shape: q98 stateful agg,
    * q99 keyed state, q78/q79 joins, q100 late-data, this one keyed
    * DISTINCT). The staging redelivers an entire middle micro-batch
    * verbatim — the at-least-once failure mode file/bus sources
    * actually exhibit — and `dropDuplicatesWithinWatermark(event_id)`
    * must swallow the whole replay while letting every later novel row
    * through.
    *
    * The watermark delay is sized to the replay's full event-time span,
    * so no state evicts and no row is late-filtered: the emitted set is
    * EXACTLY the distinct input, and the at-rest rollup hash-matches
    * the plain batch aggregate over `events` (the driver's oracle).
    * Production sets the delay to its redelivery horizon instead;
    * duplicates arriving past the horizon are re-admitted by design —
    * that bounded-state trade-off is the operator's contract and is
    * spec-pinned on a hand-built two-batch fixture
    * (StreamingQueriesSpec). State is O(distinct keys within the
    * horizon), watermark-purged.
    *
    * Output: the deduped stream lands append-mode at rest, then a batch
    * rollup (count + decimal-quantized value sum per type) makes the
    * exactly-once claim hash-checkable — any duplicate survivor or
    * dropped original shifts a count or a sum.
    */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame = {
    val inSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    def rollup(df: DataFrame): DataFrame = df
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
          .as("value_sum"))
      .orderBy("event_type")

    // events.ts is nanos-as-Long at rest (Tables.load); the stream
    // needs a real TimestampType event-time column for the watermark
    val ev = Tables.eventsMicros(spark, dir)
      .select(col("event_id"), timestamp_micros(col("tsu")).as("ts"),
        col("event_type"), col("value"))
    // unix_micros(timestamp_micros(tsu)) is the identity → the span is
    // exactly the tsu span, footer-probed like every other harness
    val bounds = tsuBounds(spark, dir)
    if (bounds.isEmpty) return rollup(ev) // degenerate: empty input
    // delay covers the whole replayed span (+1 s for the engine's ms
    // truncation) → nothing evicts, nothing is late: exact dedup
    val delaySec = (bounds.get._2 - bounds.get._1) / 1000000L + 1L

    // three disjoint slices; slice 1 is staged TWICE (redelivered
    // mid-stream, not last — novel data must still flow afterwards)
    val slice = (i: Int) => ev.filter(col("event_id") % 3 === i)
    val input = StagedInputs.dir("q113", dir) { d =>
      val in = Files.createDirectory(d.resolve("in"))
      val now = System.currentTimeMillis()
      stageOne(slice(0), in, "00_a.parquet", now - 400000L)
      stageOne(slice(1), in, "01_b.parquet", now - 300000L)
      // redelivery IS a byte-identical copy of the staged file — the
      // literal at-least-once failure mode, and no second Spark job
      val staged = in.resolve("01_b.parquet")
      if (Files.exists(staged)) {
        val redelivered = in.resolve("02_b_redelivered.parquet")
        Files.copy(staged, redelivered)
        redelivered.toFile.setLastModified(now - 200000L)
      }
      stageOne(slice(2), in, "03_c.parquet", now - 100000L)
    }.resolve("in")
    // no-data batches OFF — dropDuplicatesWithinWatermark emits novel
    // rows in the SAME micro-batch they arrive (the watermark only
    // bounds state retention, and the delay is sized so nothing
    // evicts), so the trailing watermark-only batches commit state for
    // zero new rows
    rollup(withRun(spark, "q113", noDataBatches = false) { run =>
      val deduped = spark.readStream
        .schema(inSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input.toString)
        .withWatermark("ts", s"$delaySec seconds")
        .dropDuplicatesWithinWatermark("event_id")
      val outDir = run.base.resolve("out").toString
      run.drain(deduped.writeStream
        .format("parquet")
        .option("path", outDir)
        .outputMode("append"))
      spark.read.schema(inSchema).parquet(outDir)
    })
  }

  /** q128: CHECKPOINT RESTART/RESUME — the recovery semantics class
    * q98-q113 leave untested as observed behavior: a streaming job that
    * stops and restarts against the same checkpoint must pick up
    * exactly where it left off — new files processed, already-committed
    * files SKIPPED even though they still sit in the source directory,
    * no row duplicated or lost at the sink.
    *
    * The replay is two separate query executions sharing one
    * checkpoint: run 1 sees half the staged files and terminates
    * (AvailableNow drains what exists); more files land; run 2 starts
    * FRESH from the same checkpoint and must process only the
    * newcomers (batch counts recorded per run, spec-pinned). The
    * at-rest rollup then hash-matches the plain batch aggregate over
    * everything — any reprocessed file doubles a count, any dropped
    * file loses one. The transform is deliberately stateless
    * (filter + projection): what's under test is the source offset log
    * and sink commit protocol, not operator state (q98/q99 cover
    * that).
    */
  def streamingRestartResume(spark: SparkSession, dir: String): DataFrame = {
    val inSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    def rollup(df: DataFrame): DataFrame = df
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
          .as("value_sum"))
      // one row per event type: sorted in one task, with no range
      // exchange and no sampling job for its bounds
      .coalesce(1).sortWithinPartitions("event_type")

    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .select("event_id", "event_type", "value")
    // q128's files must ARRIVE BETWEEN the two runs, so the watched
    // input dir is per-invocation — but the four Spark staging writes
    // are cacheable: the cached tree holds the prepared files and each
    // invocation drops byte-copies into its fresh input dir on cue.
    val prepared = StagedInputs.dir("q128", dir) { d =>
      val files = Files.createDirectory(d.resolve("files"))
      val now = System.currentTimeMillis()
      val slice = (i: Int) => ev.filter(col("event_id") % 4 === i)
      for (i <- 0 to 3)
        stageOne(slice(i), files, f"0$i.parquet", now - (4 - i) * 100000L)
    }.resolve("files")
    // BOTH runs share the one fresh checkpoint inside this scope, so the
    // partition count is consistent across the restart; stateless
    // transform, no watermark → no-data batches never fire
    withRun(spark, "q128") { run =>
      val input = Files.createDirectory(run.base.resolve("in"))
      val outDir = run.base.resolve("out").toString
      def arrive(name: String): Unit = {
        val src = prepared.resolve(name)
        if (Files.exists(src)) {
          val dest = input.resolve(name)
          Files.copy(src, dest)
          dest.toFile.setLastModified(src.toFile.lastModified())
        }
      }
      def drainInput(): Unit = run.drain(spark.readStream
        .schema(inSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input.toString)
        .filter(col("value").isNotNull)
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .outputMode("append"))
      arrive("00.parquet")
      arrive("01.parquet")
      drainInput()
      // the job is DOWN; new data lands; the restart must skip 00/01
      arrive("02.parquet")
      arrive("03.parquet")
      drainInput()

      // detach the rollup (one row per event type), not the raw sink
      // rows (9.5 MB at sf0.1)
      rollup(spark.read.schema(inSchema).parquet(outDir))
    }
  }

  /** q212: stream-stream LEFT OUTER interval join — the semantics q79
    * cannot show: a purchase with NO qualifying click must still be
    * emitted (with null click columns), and in streaming that emission
    * is not a join result but a STATE-EVICTION event — the row leaves
    * the state store unmatched only once the watermark proves no
    * late-arriving click can ever pair with it. This is the shape
    * attribution pipelines actually run ("every purchase, attributed
    * or not"), and the correctness risk it gates — outer rows held
    * hostage by a stalled watermark — is invisible to inner joins.
    *
    * The flush problem and the sentinel: event-time watermarks only
    * advance when newer data arrives, so the LAST window's unmatched
    * purchases would sit in state forever on a finite replay. Each
    * side therefore carries a single-row sentinel in its final staged
    * file (user −1, both sides the SAME timestamp far past
    * max+lookback, so the two sentinels cannot pair with real rows or
    * each other: c_ts < p_ts fails on equality), which drives both
    * watermarks past every real purchase; Spark's trailing no-data
    * micro-batch then evicts and emits the outer rows (watermarks
    * update at end-of-batch for the NEXT batch, so riding in the last
    * data file costs no extra micro-batches). The sentinel's own
    * unmatched outer row is filtered by id post-read. Same q99
    * discipline.
    *
    * Gated output is null-free by construction (the q104 NaN trap):
    * unmatched purchases carry click_id/click_tsu/gap_us = −1 —
    * impossible values for real pairs (ids are non-negative, gap > 0).
    * Oracle = the plain batch LEFT JOIN with the same coalesce.
    *
    * Scale: identical state bound to q79 (one lookback of clicks per
    * user); the outer path adds no state — eviction emits, nothing is
    * retained longer than the inner join already retains it.
    */
  def streamStreamLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val lookbackUs = graft.ops.TemporalJoins.lookbackSeconds * 1000000L
    val ev = Tables.eventsMicros(spark, dir)
      .select(col("event_id"), col("user_id"), col("tsu"), col("event_type"))
    val bounds = tsuBounds(spark, dir)
    val out0 = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("purchase_id", LongType), StructField("user_id", LongType),
        StructField("purchase_tsu", LongType), StructField("click_id", LongType),
        StructField("click_tsu", LongType), StructField("gap_us", LongType))))
    if (bounds.isEmpty) return out0
    val (minT, maxT) = bounds.get
    val mid = minT + (maxT - minT) / 2
    val sentinelTsu = maxT + 2 * lookbackUs + 2000000L

    val staged = StagedInputs.dir("q212", dir) { d =>
      def stageSide(tpe: String, sub: String): Unit = {
        val inDir = Files.createDirectory(d.resolve(sub))
        val rows = ev.filter(col("event_type") === tpe)
          .select(col("event_id"), col("user_id"),
            timestamp_micros(col("tsu")).as("ts"))
        val now = System.currentTimeMillis()
        stageOne(rows.filter(col("ts") < timestamp_micros(lit(mid))),
          inDir, "00_early.parquet", now - 240000L)
        // the sentinel RIDES IN the late file: watermarks update at the
        // END of a batch for the NEXT one, so a same-batch sentinel
        // still drives the trailing no-data batch's eviction — and the
        // replay spends 4 data micro-batches (q79's count), not 6
        stageOne(rows.filter(col("ts") >= timestamp_micros(lit(mid)))
            .unionByName(ev.limit(1).select(lit(-1L).as("event_id"),
              lit(-1L).as("user_id"),
              timestamp_micros(lit(sentinelTsu)).as("ts"))),
          inDir, "01_late.parquet", now - 120000L)
      }
      stageSide("click", "clicks")
      stageSide("purchase", "purchases")
    }
    // q79's cost model; no-data micro-batches stay ON — the outer rows
    // are emitted by watermark-driven eviction, which runs in the
    // trailing no-data batch
    val pairs = withRun(spark, "q212") { run =>
      def read(dir: String): DataFrame = spark.readStream
        .schema(ssInSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)

      val clicks = read(staged.resolve("clicks").toString)
        .withWatermark("ts", s"${graft.ops.TemporalJoins.lookbackSeconds} seconds")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
      val purchases = read(staged.resolve("purchases").toString)
        .withWatermark("ts", "0 seconds")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      val joined = purchases.join(clicks, expr(
        s"""p_user = c_user
            AND c_ts >= p_ts - INTERVAL ${graft.ops.TemporalJoins.lookbackSeconds} SECONDS
            AND c_ts < p_ts"""), "leftOuter")

      val outDir = run.base.resolve("out").toString
      run.drain(joined.writeStream
        .format("parquet")
        .option("path", outDir))
      spark.read.schema(pairSchema).parquet(outDir)
    }
    pairs
      .filter(col("purchase_id") >= 0)
      .select(
        col("purchase_id"), col("p_user").as("user_id"),
        expr("unix_micros(p_ts)").as("purchase_tsu"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(expr("unix_micros(c_ts)"), lit(-1L)).as("click_tsu"))
      .withColumn("gap_us",
        when(col("click_id") >= 0,
          col("purchase_tsu") - col("click_tsu")).otherwise(lit(-1L)))
      .orderBy("purchase_id", "click_id")
  }

  type Q = (SparkSession, String) => DataFrame

  /** One doc in one LSH bucket (streaming relation row). */
  private[graft] case class LshIn(bucket: String, band: Int,
                                  doc_id: Long, signature: Seq[Long])

  /** One LSH bucket's state: its members in arrival order, each its id
    * and its fixed-width ([[graft.ops.Dedup.numHashes]]) signature, as
    * big-endian longs end to end. Binary state decodes without a
    * `MapObjects` loop; a `Seq[(Long, Seq[Long])]` (or an array) state
    * decoded through one, whose lambda variables are numbered afresh
    * for each micro-batch's state manager, so every batch compiled its
    * state projection again.
    */
  private[graft] object LshBucket {
    private val width = 1 + Dedup.numHashes

    def decode(bytes: Array[Byte]): Seq[(Long, Seq[Long])] = {
      val longs = java.nio.ByteBuffer.wrap(bytes).asLongBuffer()
      (0 until longs.limit() / width).map { i =>
        longs.get(i * width) -> (1 until width).map(j => longs.get(i * width + j))
      }
    }

    def encode(members: Seq[(Long, Seq[Long])]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(members.size * width * 8)
      members.foreach { case (id, sig) =>
        require(sig.size == Dedup.numHashes, s"signature of width ${sig.size}")
        buf.putLong(id)
        sig.foreach(buf.putLong)
      }
      buf.array()
    }
  }

  /** q285 — STREAMING LSH NEAR-DUP (dedup-on-ingest at the crawl
    * frontier): the incremental twin of q54's banded MinHash join.
    * Docs arrive in micro-batches; each row's signature is a STATELESS
    * projection ([[graft.ops.Dedup.rowSignature]] — arithmetically
    * identical to the batch grouped-min, shared constants), banded into
    * bucket keys, and candidate pairs come from keyed state
    * (`flatMapGroupsWithState` per bucket: new docs pair against every
    * doc the bucket has EVER seen, then join the state) — so a near-dup
    * of a document ingested three batches ago is found the moment its
    * twin arrives, without ever re-scanning the corpus. Exactly-once
    * across buckets by the batch kernel's own first-colliding-band
    * predicate, evaluated on the two signatures at emission; per-batch
    * pairing order is doc_id-sorted so the relation is deterministic.
    *
    * Gate: rows-only (hash-seeded signatures have no SQL oracle — the
    * q54 class); StreamingQueriesSpec pins EXACT set equality with the
    * batch `lshCandidatesCore` relation on the same corpus and asserts
    * the run really crossed micro-batches with cross-batch pairs.
    *
    * Scale: state is bucket membership — the same posting lists the
    * batch join materializes, held keyed instead; a production
    * deployment bounds them with the df-cap discipline (drop a bucket
    * once its list exceeds the cap — candidates from ultra-hot buckets
    * are non-discriminative, q52's argument) or a watermark TTL; the
    * bounded replay keeps everything so the parity pin is exact.
    */
  def streamingLshDedup(spark: SparkSession, dir: String): DataFrame =
    streamingLshDedupImpl(spark, dir, bucketCap = Int.MaxValue)

  /** Implementation with the PRODUCTION state bound exposed
    * (r15; the scaladoc above claims the df-cap discipline bounds the
    * keyed state — this makes the claim code, spec-pinned). A bucket
    * SATURATES at `bucketCap` members: later arrivals neither join its
    * list nor emit pairs from it — the streaming-feasible prefix
    * variant of q52's rule (batch drops a hot shingle's ENTIRE pair
    * set retroactively; a stream cannot un-emit, so it stops at the
    * cap — candidates from ultra-hot buckets are non-discriminative
    * either way, q52's argument). State per bucket ≤ cap, pairs per
    * bucket ≤ C(cap, 2). A pair whose FIRST colliding band is
    * saturated is dropped even if a later shared band has room — the
    * exactly-once discipline and the cap compose that way by design.
    * The registered q285 runs unbounded so the batch set-equality pin
    * stays exact.
    */
  private[graft] def streamingLshDedupImpl(spark: SparkSession, dir: String,
                                           bucketCap: Int): DataFrame = {
    import spark.implicits._
    val minEst = 0.5
    val numBands = Dedup.numHashes / Dedup.bandSize
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "text")
    val inSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("text", StringType)))
    // id-mod split: near-dup pairs land in DIFFERENT batches (ids are
    // unrelated to content), so state must carry candidates across
    // triggers for the parity pin to pass
    val input = StagedInputs.dir("q285", dir) { d =>
      val in = Files.createDirectory(d.resolve("in"))
      val now = System.currentTimeMillis()
      for (i <- 0 until 3)
        stageOne(docs.filter(pmod(col("doc_id"), lit(3)) === i),
          in, f"0${i}_slice.parquet", now - (3 - i) * 100000L)
    }.resolve("in")
    // the run's 8 shuffle partitions matter most here: this was the
    // record's single most expensive query at 5.2 s, almost all of it
    // per-batch keyed-state commit fan-out; no watermark in the plan
    // (NoTimeout keyed state) → no-data batches never fire
    withRun(spark, "q285") { run =>
      val banded = spark.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input.toString)
        // each staged slice is ONE parquet file → ONE scan task per
        // micro-batch, which serialized the 128-hash MinHash signature
        // work (~1 s/batch measured, the query's dominant cost). A
        // round-robin repartition of the raw docs (~2 MB/batch) buys
        // 8-way parallel signature compute; the emitted relation is
        // partitioning-independent (pairs come from bucket-keyed
        // state, exactly-once by first-colliding-band), which the
        // batch set-equality spec re-proves every run.
        .repartition(8)
        .select(col("doc_id"), Dedup.rowSignature(col("text")).as("signature"))
        .filter(col("signature").isNotNull)
        .select(col("doc_id"), col("signature"),
          explode(array((0 until numBands).map(b => struct(
            lit(b).as("band"),
            concat_ws(",", lit(b) +: (0 until Dedup.bandSize).map(j =>
              col("signature")(b * Dedup.bandSize + j)): _*).as("key"))): _*))
            .as("bucket"))
        .select(col("bucket.key").as("bucket"), col("bucket.band").as("band"),
          col("doc_id"), col("signature"))
        .as[LshIn]

      def bandSlice(sig: Seq[Long], b: Int): Seq[Long] =
        sig.slice(b * Dedup.bandSize, (b + 1) * Dedup.bandSize)
      def firstBand(a: Seq[Long], b: Seq[Long]): Int =
        (0 until numBands).find(i => bandSlice(a, i) == bandSlice(b, i)).getOrElse(-1)

      val pairs = banded.groupByKey(_.bucket)
        .flatMapGroupsWithState[Array[Byte], (Long, Long, Double)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
          (_, rows, state) =>
            val seen = state.getOption.fold(Seq.empty[(Long, Seq[Long])])(LshBucket.decode)
            val fresh = rows.toSeq.sortBy(_.doc_id)
            val out = Seq.newBuilder[(Long, Long, Double)]
            var acc = seen
            for (nd <- fresh) {
              // saturated bucket (scaladoc above): no new members, no
              // new pairs — state and per-bucket pair volume both
              // bounded by the cap
              if (acc.size < bucketCap) {
                for ((oid, osig) <- acc if oid != nd.doc_id) {
                  val (la, sa, lb, sb) =
                    if (oid < nd.doc_id) (oid, osig, nd.doc_id, nd.signature)
                    else (nd.doc_id, nd.signature, oid, osig)
                  // first-colliding-band = exactly-once across bucket keys
                  if (firstBand(sa, sb) == nd.band) {
                    val matches = sa.zip(sb).count { case (x, y) => x == y }
                    val est = BigDecimal(matches.toDouble / Dedup.numHashes)
                      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                    if (est >= minEst) out += ((la, lb, est))
                  }
                }
                acc = acc :+ ((nd.doc_id, nd.signature))
              }
            }
            state.update(LshBucket.encode(acc))
            out.result().iterator
        }

      val outDir = run.base.resolve("out").toString
      run.drain(pairs.toDF("doc_a", "doc_b", "est_jaccard").writeStream
        .format("parquet")
        .option("path", outDir)
        .outputMode("append"))
      spark.read
        .schema(StructType(Seq(
          StructField("doc_a", LongType), StructField("doc_b", LongType),
          StructField("est_jaccard", DoubleType))))
        .parquet(outDir)
    }.orderBy("doc_a", "doc_b")
  }

  val queries: Map[String, Q] = Map(
    "q285_streaming_lsh_dedup" -> (streamingLshDedup(_, _)),
    "q212_stream_left_outer_join" -> (streamStreamLeftJoin(_, _)),
    "q113_streaming_dedup" -> (streamingDedup(_, _)),
    "q128_streaming_restart_resume" -> (streamingRestartResume(_, _)),
    "q98_streaming_word_freq" -> (streamingWordFreq(_, _)),
    "q99_streaming_sessions" -> (streamingSessions(_, _)),
    "q241_streaming_session_window" -> (streamingSessionWindow(_, _)),
    "q78_streaming_enrich_join" -> (streamingEnrichedRevenue(_, _)),
    "q79_stream_stream_join" -> (streamStreamJoin(_, _)),
    "q100_late_data_accounting" -> (lateDataAccounting(_, _)),
    "q194_streaming_sliding_counts" -> (streamingSlidingCounts(_, _)))

  /** The batch twins' oracles, verbatim: the driver hash-gates
    * streaming == batch-oracle, i.e. streaming == batch.
    */
  val oracles: Map[String, String] = Map(
    // q194: the q108 covering-window identity — every event lands in
    // exactly width/slide = 4 epoch-aligned windows — recomputed in
    // batch; the streaming state-store accumulation must equal it
    "q194_streaming_sliding_counts" ->
      s"""WITH ev AS (
            SELECT epoch_ns(ts) // 1000 AS tsu
            FROM events WHERE ts IS NOT NULL),
          cov AS (
            SELECT ((tsu // ${slideUs194}) - k.k) * ${slideUs194}
              AS window_start_us
            FROM ev CROSS JOIN range(${slidesPerWindow194}) k(k))
          SELECT window_start_us, count(*) AS n_events
          FROM cov GROUP BY 1 ORDER BY 1""",
    "q98_streaming_word_freq" -> TextAnalysis.oracles("q40_word_freq_topk"),
    "q99_streaming_sessions" -> Sessionization.oracles("q27_sessionization"),
    "q241_streaming_session_window" ->
      Sessionization.oracles("q235_session_window_native"),
    "q78_streaming_enrich_join" ->
      """SELECT c_mktsegment,
           count(*) AS n_events,
           round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
         FROM events JOIN customer ON user_id = c_custkey
         WHERE ts IS NOT NULL
         GROUP BY 1 ORDER BY 1""",
    // q128: restart must neither duplicate nor drop — the oracle is the
    // plain batch rollup over everything both runs together saw
    "q128_streaming_restart_resume" ->
      """SELECT event_type,
           count(*) AS n_events,
           round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
         FROM events WHERE ts IS NOT NULL
         GROUP BY 1 ORDER BY 1""",
    // q113: the redelivered batch must vanish — the oracle is the plain
    // batch rollup over `events` as if delivery were exactly-once; any
    // duplicate survivor or dropped original shifts a count or a sum
    "q113_streaming_dedup" ->
      """SELECT event_type,
           count(*) AS n_events,
           round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
         FROM events WHERE ts IS NOT NULL
         GROUP BY 1 ORDER BY 1""",
    // q100: the oracle REPLAYS the watermark arithmetic from the split
    // rule alone — mid from the µs bounds, watermark = ms-truncated max
    // (Spark tracks watermarks in ms) — so closed-window counts and the
    // dropped-late tally are both independently recomputed and hashed
    "q100_late_data_accounting" ->
      s"""WITH ev AS (
           SELECT epoch_ns(ts) // 1000 AS tsu FROM events
           WHERE ts IS NOT NULL),
         b AS (SELECT min(tsu) AS mn, max(tsu) AS mx FROM ev),
         p AS (SELECT mn + (mx - mn) // 2 AS mid,
                      (mx // 1000) * 1000 AS wm FROM b),
         ontime AS (
           SELECT (tsu // $lateWindowUs) * $lateWindowUs AS wstart,
                  count(*) AS n
           FROM ev, p
           WHERE tsu >= mid
           GROUP BY 1),
         closed AS (
           SELECT o.wstart, o.n FROM ontime o, p
           WHERE o.wstart + $lateWindowUs <= p.wm),
         dropped AS (
           SELECT count(DISTINCT (tsu // $lateWindowUs) * $lateWindowUs) AS c
           FROM ev, p
           WHERE tsu < mid
             AND (tsu // $lateWindowUs) * $lateWindowUs + $lateWindowUs <= wm)
         SELECT wstart AS window_start_us, n AS n_events FROM closed
         UNION ALL SELECT -1, c FROM dropped
         ORDER BY 1""",
    // q212: the batch LEFT interval join with the same −1 coalesce —
    // every unmatched purchase must surface exactly once, which gates
    // the watermark-driven outer-row flush end to end
    "q212_stream_left_outer_join" ->
      s"""WITH ev AS (
           SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu, event_type
           FROM events WHERE ts IS NOT NULL),
         p AS (SELECT event_id AS purchase_id, user_id, tsu
               FROM ev WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS click_id, user_id, tsu
               FROM ev WHERE event_type = 'click')
         SELECT p.purchase_id, p.user_id, p.tsu AS purchase_tsu,
                coalesce(c.click_id, -1) AS click_id,
                coalesce(c.tsu, -1) AS click_tsu,
                CASE WHEN c.click_id IS NULL THEN -1
                     ELSE p.tsu - c.tsu END AS gap_us
         FROM p LEFT JOIN c
           ON p.user_id = c.user_id
          AND c.tsu >= p.tsu - ${graft.ops.TemporalJoins.lookbackSeconds * 1000000L}
          AND c.tsu < p.tsu
         ORDER BY p.purchase_id, coalesce(c.click_id, -1)""",
    // q79: the batch interval join, pair for pair — streaming state +
    // watermark eviction must be semantically invisible
    "q79_stream_stream_join" ->
      s"""WITH ev AS (
           SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu, event_type
           FROM events WHERE ts IS NOT NULL),
         p AS (SELECT event_id AS purchase_id, user_id, tsu
               FROM ev WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS click_id, user_id, tsu
               FROM ev WHERE event_type = 'click')
         SELECT p.purchase_id, p.user_id, p.tsu AS purchase_tsu,
                c.click_id, c.tsu AS click_tsu,
                p.tsu - c.tsu AS gap_us
         FROM p JOIN c
           ON p.user_id = c.user_id
          AND c.tsu >= p.tsu - ${graft.ops.TemporalJoins.lookbackSeconds * 1000000L}
          AND c.tsu < p.tsu
         ORDER BY p.purchase_id, c.click_id""")
}
