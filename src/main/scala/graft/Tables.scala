package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.types._

/** Explicit schemas + loaders for the driver testdata (TESTDATA.md).
  *
  * Declared `StructType`s rather than inference: at 100 TB an
  * `inferSchema` pass is a full extra scan of the input (the reference
  * pays this on every job, hot/spark_energy.py:26 — SURVEY.md §4.1);
  * declaring the schema also pins types so a malformed file fails loudly
  * instead of silently widening a column.
  */
object Tables {

  val regionSchema = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** `events` is the danmaku analog (SURVEY.md §7.2): `ts` ≈ send time,
    * `user_id` ≈ episode (bvid), `event_type` ≈ comment class,
    * `props` ≈ free-form payload.
    *
    * POST-LOAD contract: `ts` is an epoch-NANOSECOND long. The parquet
    * carries TIMESTAMP(MICROS) (earlier testdata generations carried
    * TIMESTAMP(NANOS)); [[load]] normalizes to ns longs on read so every
    * temporal operator bucketizes with exact integer arithmetic — a
    * double round-trip would lose precision (2024 epoch-ns ≈ 1.7e18 >
    * 2^53), and ns·longs stay well under Long.MaxValue (9.2e18).
    */
  val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** What the events parquet physically declares: µs timestamps. */
  private val eventsReadSchema = StructType(
    eventsSchema.fields.map {
      case StructField("ts", _, n, m) => StructField("ts", TimestampType, n, m)
      case f => f
    })

  val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private val schemas: Map[String, StructType] = Map(
    "region" -> regionSchema, "nation" -> nationSchema,
    "customer" -> customerSchema, "supplier" -> supplierSchema,
    "part" -> partSchema, "orders" -> ordersSchema,
    "lineitem" -> lineitemSchema, "events" -> eventsSchema,
    "documents" -> documentsSchema, "embeddings" -> embeddingsSchema)

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // Read the µs timestamp as declared, then widen to the ns-long
      // contract (eventsSchema scaladoc). unix_micros is an exact
      // integer extraction of TimestampType's internal µs value, so the
      // conversion is lossless and stays inside whole-stage codegen.
      import org.apache.spark.sql.functions.{col, unix_micros}
      spark.read.schema(eventsReadSchema).parquet(s"$dir/$name.parquet")
        .withColumn("ts", unix_micros(col("ts")) * 1000L)
        .select(eventsSchema.fieldNames.map(col).toIndexedSeq: _*)
    } else
      spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")
  }

  /** Typed accessors: the declared-schema scan narrowed to a case-class
    * Dataset. Use at API boundaries where callers pattern-match rows;
    * the DataFrame accessors below remain the norm inside operators.
    */
  def typedEvents(s: SparkSession, d: String): Dataset[model.Event] =
    load(s, d, "events").as(Encoders.product[model.Event])
  def typedDocuments(s: SparkSession, d: String): Dataset[model.Document] =
    load(s, d, "documents").as(Encoders.product[model.Document])
  def typedEmbeddings(s: SparkSession, d: String): Dataset[model.Embedding] =
    load(s, d, "embeddings").as(Encoders.product[model.Embedding])
  def typedCustomer(s: SparkSession, d: String): Dataset[model.Customer] =
    load(s, d, "customer").as(Encoders.product[model.Customer])
  def typedOrders(s: SparkSession, d: String): Dataset[model.Order] =
    load(s, d, "orders").as(Encoders.product[model.Order])
  def typedLineitem(s: SparkSession, d: String): Dataset[model.Lineitem] =
    load(s, d, "lineitem").as(Encoders.product[model.Lineitem])

  /** Exact row count from parquet footer metadata — a driver-side footer
    * read, NO Spark job (a `df.count()` schedules a full scan stage; at
    * 100 TB that is a real extra pass). For sizing decisions only
    * (e.g. IVF list count): footers are listed sequentially on the
    * driver, fine for the handful of files behind a sizing question —
    * not a substitute for a distributed count over a huge file set.
    */
  def parquetRowCount(spark: SparkSession, dir: String, name: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(s"$dir/$name.parquet")
    val fs = root.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      else Seq(fs.getFileStatus(root))
    files.map { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** (min, max) of the events table's `tsu` (µs-long) from parquet
    * FOOTER statistics — the same probeBounds stance as
    * [[parquetRowCount]]: a driver-side metadata read instead of a
    * full-table `agg(min, max)` scan stage, which at 100 TB is a real
    * extra pass just to pick a midpoint. Exactness: the file stores
    * `ts` as INT64 TIMESTAMP(MICROS); the engine-side contract is
    * `tsu = unix_micros(ts)` under the UTC session timezone (see
    * [[load]]), an identity on the stored µs value — and min/max are
    * preserved (monotone identity, parquet stats exclude NULLs just
    * like the `ts IS NOT NULL` read filter). Returns None when no
    * row group carries stats (then the caller must fall back to the
    * scan — correctness over cleverness) or the table is empty/all-
    * NULL (matching the scan's NULL bounds path).
    */
  def eventsTsuFooterBounds(spark: SparkSession,
                            dir: String): Option[(Long, Long)] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(s"$dir/events.parquet")
    val fs = root.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      else Seq(fs.getFileStatus(root))
    val perGroup = files.flatMap { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val idx = schema.getFieldIndex("ts")
        reader.getFooter.getBlocks.asScala.map { block =>
          val cc = block.getColumns.get(idx)
          val stats = cc.getStatistics
          if (stats == null || !stats.hasNonNullValue) None
          else Some((stats.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            stats.genericGetMax.asInstanceOf[java.lang.Long].longValue))
        }.toSeq
      } finally reader.close()
    }
    // any stats-less row group voids the whole probe: its rows could
    // extend the range, so a partial answer would be WRONG, not coarse
    if (perGroup.isEmpty || perGroup.exists(_.isEmpty)) None
    else {
      val flat = perGroup.flatten
      Some((flat.map(_._1).min, flat.map(_._2).max))
    }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")

  /** `events` at MICROSECOND precision: non-null `ts` plus
    * `tsu = ts div 1000` (ns→µs truncation). The one shared definition
    * of the external time convention — DuckDB truncates TIMESTAMP_NS to
    * µs on read (`epoch_ns(ts) // 1000` on the oracle side), so µs is
    * the finest resolution an oracle can verify, and every temporal
    * operator (sessionization, as-of/range joins, rolling windows,
    * funnel/cohort) must bucket/compare at exactly this precision or
    * engine and oracle drift on sub-µs data.
    */
  def eventsMicros(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .filter(org.apache.spark.sql.functions.col("ts").isNotNull)
      .withColumn("tsu", org.apache.spark.sql.functions.expr("ts div 1000"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Minimum planned scan bytes PER CORE before `spread` will insert a
    * repartition. The spread shuffle costs roughly a full write+read of
    * the source; it only pays for itself when each core gets a
    * meaningful slice of kernel work afterwards. Below this the source
    * is so small that even a serial kernel pass beats the exchange
    * (measured round 5: the unconditional spread regressed q55 0.06 →
    * 0.16 s and q53 0.20 → 0.38 s on the 584 KB sf0.1 documents file).
    *
    * UNIT CAVEAT: the optimizer's size estimate is ON-DISK bytes —
    * possibly compressed. For columnar-compressed sources (parquet/orc)
    * text can expand 5-10x into kernel work, so the gate itself scales:
    * [[spread]] detects a columnar-compressed scan in the plan and
    * divides the threshold by [[spreadCompressionDivisor]] (round-7
    * advice — the caveat used to be documentation no call site acted
    * on, leaving a heavily-compressed single-file source serial before
    * an expensive kernel). The 4 MB default was calibrated on raw text,
    * where disk bytes ≈ work bytes.
    */
  val spreadMinBytesPerCore: Long = 4L << 20

  /** Disk-bytes → kernel-work expansion assumed for columnar-compressed
    * scans (parquet + snappy/zstd on text routinely decompresses 5-10x).
    */
  val spreadCompressionDivisor: Long = 8L

  /** [[spreadCompressionDivisor]] if ANY scan under `df` is a
    * columnar-compressed file format (V1 `HadoopFsRelation` or a DSv2
    * scan relation), else 1 — "any" because the conservative error is
    * spreading slightly early, while missing the parquet side of a
    * mixed-source plan would leave the exact serial stage this gate
    * exists to fix (round-8 review: collectFirst stopped at an
    * arbitrary first relation and saw only V1 scans). Plan inspection
    * only — no job, no I/O.
    */
  private def compressionDivisor(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    def columnar(s: String): Boolean = {
      val f = s.toLowerCase(java.util.Locale.ROOT)
      f.contains("parquet") || f.contains("orc")
    }
    val hits = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => columnar(h.fileFormat.toString)
        case _ => false
      }
      case s: DataSourceV2ScanRelation => columnar(s.scan.getClass.getName)
    }
    if (hits.exists(identity)) spreadCompressionDivisor else 1L
  }

  /** Runs `body` with the session confs `kv` set, then restores each key
    * as it found it, also when `body` throws: a key that was set gets its
    * value back, a key that was unset is unset again. "Set" means set on
    * the session (`getAll`): `getOption` also answers a registered key's
    * default, and restoring that would pin the default on the session.
    * Session-global, so sound while queries run one at a time (Verify,
    * Bench and the specs); a shared session would need
    * `spark.newSession()`. Work that must be planned under the confs has
    * to run inside `body`, e.g. a [[detached]] result's checkpoint.
    */
  def withConfs[T](spark: SparkSession, kv: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val prev = kv.map { case (k, _) => k -> set.get(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body`'s result, detached from the scratch tree it was built over:
    * a fresh `prefix*` temp directory is handed to `body`, the frame it
    * returns is materialized with an eager `localCheckpoint`, and the
    * tree is deleted, also when `body` throws. For results read from
    * files written under the tree (staged layouts, stream sinks).
    *
    * The checkpoint is unconditional, unlike [[boundedCheckpoint]]: the
    * tree is gone once this returns, so a result left to recompute from
    * lineage would read deleted files. Keep what the frame holds small
    * (the registered queries return aggregates or sink rows) and apply
    * cheap projections and orderings after this returns.
    */
  def detached(prefix: String)(body: java.nio.file.Path => DataFrame): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory(prefix)
    try body(base).localCheckpoint(true)
    finally deleteRecursively(base)
  }

  /** Recursively delete a scratch tree (staging layouts, streaming
    * checkpoints). Deepest-first; the walk drains before the first
    * delete so the traversal never sees its own deletions.
    */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }

  /** Spread a CPU-heavy map stage whose source scans with less
    * parallelism than the cluster offers (one footer-packed parquet
    * file, a coalesced sink, a single Kafka partition): such a stage
    * otherwise runs serially on one task however many cores exist.
    * Two driver-side checks, NO job:
    *   1. work gate — the optimizer's size estimate for the scan
    *      (file bytes) must be at least `minBytesPerCore` per core
    *      (scaled down by [[spreadCompressionDivisor]] for compressed
    *      columnar sources), otherwise the kernel is cheaper than the
    *      exchange and the call is a no-op;
    *   2. parallelism gate — the planned scan's partition count must
    *      be below the core count; on a properly-split source (any
    *      real 100 TB table) this makes the call a no-op: no shuffle.
    * Only pay it right before an expensive per-row kernel
    * (tokenize/shingle/codec), never on cheap projections.
    *
    * Call it ONLY on a bare scan (as here): `.rdd` on a plan that
    * already contains exchanges would materialize those query stages
    * just to read the partition count.
    */
  def spread(df: DataFrame,
             minBytesPerCore: Long = spreadMinBytesPerCore): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val planned = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // compressed columnar bytes stand in for ~8x the kernel work, so
    // the gate admits them proportionally earlier
    val gate = BigInt(target) * minBytesPerCore / compressionDivisor(df)
    if (planned < gate) df
    else if (df.rdd.getNumPartitions < target) df.repartition(target)
    else df
  }

  /** Per-core cap for [[boundedCheckpoint]]: 256 MB of estimated plan
    * output per core keeps a materialized intermediate comfortably
    * inside executor-local storage (the default local-dir budget) at
    * any cluster size, while admitting every r17/r18 probe-dedup
    * checkpoint at bench scale by 3+ orders of magnitude.
    */
  val checkpointMaxBytesPerCore: Long = 256L << 20

  /** `localCheckpoint(true)` gated on the optimizer's size estimate —
    * the r17 verdict's ask for the probe-dedup materialization sites
    * (PPJoin shingles, the q254 value grain, the curation survivor
    * grain): an eager localCheckpoint trades lineage for executor-local
    * storage, which is the right trade for a bounded intermediate that
    * several jobs re-derive, and the WRONG one for a corpus-sized
    * relation at 100 TB — executor disks fill, and an executor loss
    * makes the RDD unrecoverable mid-query. Same driver-side stats
    * check as [[spread]], no job: over the cap the call is a no-op and
    * the consumer recomputes from lineage instead (correct, merely
    * slower — and at that scale the recompute is the cheaper failure
    * mode).
    */
  def boundedCheckpoint(df: DataFrame,
                        maxBytesPerCore: Long = checkpointMaxBytesPerCore): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val planned = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (planned <= BigInt(cores) * maxBytesPerCore) df.localCheckpoint(true)
    else df
  }
}
