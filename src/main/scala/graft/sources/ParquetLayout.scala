package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Hive-style PARTITIONED parquet layout — the standard warehouse shape
  * at 100 TB: write once routed by a low-cardinality column
  * (`.write.partitionBy(...)`), and every reader filtering on that
  * column prunes whole DIRECTORIES before a single file is listed or a
  * footer read. This is a different mechanism from the row-group
  * predicate pushdown the rest of the surface already proves
  * (PlanGuardSpec's `PushedFilters` check): partition pruning shows up
  * as `PartitionFilters` on the scan and removes I/O at the filesystem
  * level, which at petabyte scale is the difference between touching
  * 1/N of the table and touching all of it to discard N−1/N.
  *
  * Not in the reference (its HDFS layout is flat per-episode CSVs —
  * SURVEY.md §2.1); first-class warehouse capability like bucketing
  * (BucketingSpec's exchange-free co-located join).
  */
object ParquetLayout {

  /** The partition-routed projection of `events` that [[partitionPrunedRevenue]]
    * stages — seam for the spec, which asserts the pruned scan shape on
    * a layout it stages itself.
    */
  private[graft] def stageLayout(spark: SparkSession, dir: String, path: String): Unit =
    Tables.eventsMicros(spark, dir)
      .select("event_id", "user_id", "tsu", "value", "event_type")
      .write.partitionBy("event_type").parquet(path)

  /** The pruned read: a filter on the ROUTING column only — it must
    * resolve entirely at planning time (PartitionFilters), leaving no
    * post-scan filter and no event_type bytes read from data files.
    */
  private[graft] def prunedPurchases(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).filter(col("event_type") === "purchase")

  /** q103 — per-user purchase revenue over ONLY the purchase partition
    * of a partitioned copy of `events`. The staging write is
    * verification plumbing (same stance as the streaming staging,
    * StreamingQueries): production points the identical reader at a
    * long-lived partitioned table. The oracle aggregates the ORIGINAL
    * unpartitioned table — so the hash gate proves the layout
    * round-trip is lossless (types survive the directory-key encode,
    * incl. the value doubles) AND the pruned read sees exactly the
    * filtered rows.
    */
  def partitionPrunedRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q103_") { base =>
      val layout = base.resolve("events_by_type").toString
      stageLayout(spark, dir, layout)
      prunedPurchases(spark, layout)
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_purchases"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("purchase_total"))
        .orderBy("user_id")
    }

  /** q125 — ORC interchange: the same events slice round-tripped
    * through the OTHER first-class columnar warehouse format (write
    * `.orc`, read it back, aggregate). Cross-format interchange is a
    * real 100 TB concern — a lakehouse ingests from engines that
    * speak ORC (Hive/Trino heritage) — and the hash gate proves the
    * round trip is lossless to the bit: the oracle aggregates the
    * ORIGINAL parquet, so any type coercion, timestamp convention or
    * double drift in the ORC writer/reader pair would hash-mismatch.
    * ORC predicate pushdown rides the same filter the q103 layout
    * prunes by (row-group level here; asserted in ParquetLayoutSpec).
    */
  def orcInterchangeRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q125_") { base =>
      val path = base.resolve("events_orc").toString
      Tables.eventsMicros(spark, dir)
        .select("event_id", "user_id", "tsu", "value", "event_type")
        .write.orc(path)
      spark.read.orc(path)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_purchases"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("purchase_total"))
        .orderBy("user_id")
    }

  /** The deterministic v1/v2 shard assignment for q131 — md5-nibble on
    * event_id (the q58/q59 content-keyed discipline), 8/16 each.
    */
  private[graft] def schemaEpochSplit: Column =
    conv(substring(md5(concat(col("event_id").cast("string"),
      lit(":schema")).cast("binary")), 1, 1), 16, 10).cast("int") < 8

  /** q131 — SCHEMA EVOLUTION on read: half the events land as a
    * v1-schema shard (no `event_type` column — the column didn't exist
    * yet), half as v2 (column added), and ONE `mergeSchema` read spans
    * both: v1 rows surface `event_type` as null, mapped to an explicit
    * `__pre_schema__` bucket. This is how a 100 TB lakehouse actually
    * accretes — columns appear mid-history and no one rewrites old
    * shards — and the engine must read across the seam without a
    * backfill. The oracle recomputes the same result from the ORIGINAL
    * single-schema table by re-deriving the shard rule, so the gate
    * proves the merged read is lossless: every v1 row aggregated, none
    * double-read, types stable across the merge. Staging stance as
    * q103/q125: production points the same reader at a long-lived
    * two-epoch table.
    */
  def schemaEvolutionRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q131_") { base =>
      val ev = Tables.eventsMicros(spark, dir).withColumn("v1", schemaEpochSplit)
      val v1 = base.resolve("epoch_v1").toString
      val v2 = base.resolve("epoch_v2").toString
      ev.filter(col("v1"))
        .select("event_id", "user_id", "tsu", "value")
        .write.parquet(v1)
      ev.filter(!col("v1"))
        .select("event_id", "user_id", "tsu", "value", "event_type")
        .write.parquet(v2)
      spark.read.option("mergeSchema", "true").parquet(v1, v2)
        .groupBy(coalesce(col("event_type"), lit("__pre_schema__"))
          .as("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("value_sum"))
        .orderBy("event_type")
    }

  /** Stage a copy of events CLUSTERED on `tsu`: range-partitioned so
    * each output file owns a disjoint time slice, sorted inside so each
    * ROW GROUP's (min, max) footer stats span a narrow band. Seam for
    * q132 and its spec.
    */
  private[graft] def stageClustered(spark: SparkSession, dir: String,
                                    path: String, nFiles: Int): Unit =
    Tables.eventsMicros(spark, dir)
      .select("event_id", "user_id", "tsu", "value", "event_type")
      .repartitionByRange(nFiles, col("tsu"))
      .sortWithinPartitions("tsu")
      .write.parquet(path)

  /** The q132 probe range: the [3/8, 4/8) slice of the observed tsu
    * span — content-derived (no wall clock), identically computable by
    * the oracle. Long arithmetic only: span/8 truncates the same way in
    * both engines.
    */
  private[graft] def probeBounds(spark: SparkSession, dir: String): (Long, Long) = {
    val r = Tables.eventsMicros(spark, dir)
      .agg(min("tsu").as("lo"), max("tsu").as("hi")).collect().head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val step = (hi - lo) / 8
    (lo + 3 * step, lo + 4 * step)
  }

  /** q132 — CLUSTERED LAYOUT scan: the third pruning mechanism, after
    * directory-level partition pruning (q103) and row-group predicate
    * pushdown (q125). Pushdown is only as good as the LAYOUT beneath
    * it: on a time-scattered file every row group's (min, max) spans
    * the whole domain and the pushed filter skips nothing; after a
    * sort-on-write cluster, a time-range probe touches only the row
    * groups whose footer band intersects — at 100 TB the difference
    * between scanning ~1/8 of the table and decoding all of it to
    * discard 7/8. The probe window is content-derived (the [3/8, 4/8)
    * slice of the observed span), the oracle recomputes it over the
    * ORIGINAL flat table, and ParquetLayoutSpec proves the mechanism
    * from the staged footers: the clustered copy's intersecting
    * row-group set is a strict subset of the scattered copy's.
    */
  def clusteredLayoutScan(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q132_") { base =>
      val path = base.resolve("events_by_time").toString
      stageClustered(spark, dir, path, 8)
      val (plo, phi) = probeBounds(spark, dir)
      spark.read.parquet(path)
        .filter(col("tsu") >= plo && col("tsu") < phi)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("value_sum"))
        .orderBy("event_type")
    }

  /** On-disk bytes and file count of a parquet directory (driver-side
    * listing — the same caveat as Tables.parquetRowCount: fine for a
    * staging dir, not a substitute for catalog stats on a huge table).
    */
  private[graft] def dirStats(spark: SparkSession, path: String): (Long, Int) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(root).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    (files.map(_.getLen).sum, files.size)
  }

  /** Compact a fragmented parquet directory to ~targetBytes files with
    * `coalesce` — NO shuffle: coalesce glues existing partitions onto
    * fewer tasks, so compaction is a read+write at I/O speed, which is
    * why it can run as a routine janitor on a 100 TB lake (a
    * repartition-based compactor would pay a full shuffle of everything
    * it touches). Returns the chosen output file count.
    */
  private[graft] def compact(spark: SparkSession, inPath: String,
                             outPath: String, targetBytes: Long): Int = {
    val (bytes, _) = dirStats(spark, inPath)
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inPath).coalesce(nOut).write.parquet(outPath)
    nOut
  }

  /** q134 — SMALL-FILE COMPACTION: the operational pathology every
    * streaming/incremental sink creates (q98-q128 each land a file per
    * micro-batch; a day of 1-minute batches is 1 440 files per
    * partition, and at 100 TB the namenode/liststatus/footer overhead
    * of millions of tiny files dominates query latency). Stage a
    * 64-fragment copy of events, compact it to byte-sized targets with
    * the shuffle-free coalesce compactor, and aggregate the COMPACTED
    * copy; the oracle aggregates the ORIGINAL table, so the gate proves
    * the janitor pass is semantically invisible. ParquetLayoutSpec pins
    * the mechanics (file count collapses, rows conserved, no shuffle in
    * the compaction plan).
    */
  def compactionRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q134_") { base =>
      val frag = base.resolve("fragmented").toString
      val comp = base.resolve("compacted").toString
      Tables.eventsMicros(spark, dir)
        .select("event_id", "user_id", "tsu", "value", "event_type")
        .repartition(64)
        .write.parquet(frag)
      compact(spark, frag, comp, targetBytes = 4L << 20)
      spark.read.parquet(comp)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("value_sum"))
        .orderBy("event_type")
    }

  /** 16-bit×16-bit Morton interleave: bit i of the user rank lands at
    * position 2i+1, bit i of the time rank at 2i — the Z-VALUE whose
    * sort order places rows so that ANY axis-aligned (user, time)
    * rectangle touches few contiguous runs. Pure long bit arithmetic
    * (shifts/and/or), identical in any engine.
    */
  private[graft] def zValue(u16: Column, t16: Column): Column =
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(u16, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(t16, i).bitwiseAND(lit(1L)), 2 * i))
    }

  /** Observed (lo, span) of user_id and tsu — the normalization the
    * z-ranks and the probe bands share. Content-derived, so the oracle
    * recomputes it exactly.
    */
  private[graft] def zBounds(spark: SparkSession, dir: String): (Long, Long, Long, Long) = {
    val r = Tables.eventsMicros(spark, dir)
      .agg(min("user_id"), max("user_id"), min("tsu"), max("tsu"))
      .collect().head
    (r.getLong(0), r.getLong(1) - r.getLong(0) + 1,
      r.getLong(2), r.getLong(3) - r.getLong(2) + 1)
  }

  /** Stage a copy of events Z-ORDERED on (user_id, tsu): rank both
    * dimensions to 16 bits, interleave, range-partition + sort by the
    * z-value. Seam for q165 and its spec. The rank normalization
    * multiplies before dividing for exact truncation, so the
    * intermediate is widened to DECIMAL(38,0): on a Long span the
    * `(x − lo) * 65535` product overflows 2^63 (ANSI throws) once the
    * observed span passes ~1.4e14 — microsecond timestamps over a few
    * years already can. `div` brings it back to BIGINT.
    */
  private[graft] def stageZOrdered(spark: SparkSession, dir: String,
                                   path: String, nFiles: Int,
                                   bounds: (Long, Long, Long, Long)): Unit = {
    val (uLo, uSpan, tLo, tSpan) = bounds
    val u16 = expr(
      s"(cast(user_id - $uLo as decimal(38,0)) * 65535) div $uSpan")
    val t16 = expr(s"(cast(tsu - $tLo as decimal(38,0)) * 65535) div $tSpan")
    Tables.eventsMicros(spark, dir)
      .select(col("event_id"), col("user_id"), col("tsu"), col("value"),
        col("event_type"), zValue(u16, t16).as("z"))
      .repartitionByRange(nFiles, col("z"))
      .sortWithinPartitions("z")
      .write.parquet(path)
  }

  private[graft] def stageZOrdered(spark: SparkSession, dir: String,
                                   path: String, nFiles: Int): Unit =
    stageZOrdered(spark, dir, path, nFiles, zBounds(spark, dir))

  /** The q165 probe rectangle: the [3/8, 4/8) slice of BOTH observed
    * spans (q132's convention, applied per dimension). Integer steps —
    * div-first so both engines truncate identically. Pure arithmetic on
    * already-computed bounds: no scan.
    */
  private[graft] def zProbeBoundsFrom(bounds: (Long, Long, Long, Long)): (Long, Long, Long, Long) = {
    val (uLo, uSpan, tLo, tSpan) = bounds
    val (uStep, tStep) = (uSpan / 8, tSpan / 8)
    (uLo + 3 * uStep, uLo + 4 * uStep, tLo + 3 * tStep, tLo + 4 * tStep)
  }

  private[graft] def zProbeBounds(spark: SparkSession, dir: String): (Long, Long, Long, Long) =
    zProbeBoundsFrom(zBounds(spark, dir))

  /** q165 — Z-ORDER (multi-dimension) CLUSTERED scan: q132 proves
    * sort-on-write makes ONE dimension's row-group stats selective; a
    * single-column sort leaves every OTHER filter column scattered
    * (each row group spans the full user domain, so a user-range probe
    * skips nothing). Interleaving the bits of both dimensions into one
    * Morton z-value and sorting by THAT gives every axis-aligned
    * rectangle locality in the file order — the Delta/Iceberg
    * OPTIMIZE ZORDER mechanism, built here from plain expressions.
    * At 100 TB this is the difference between a (user-band AND
    * time-band) probe decoding ~1/64 of the table and decoding the
    * full 1/8 a time-only cluster admits. The probe rectangle is
    * content-derived; the oracle recomputes it over the ORIGINAL flat
    * table, so the layout is proven semantically invisible, and the
    * spec proves the mechanism from the staged footers on BOTH
    * dimensions.
    */
  def zorderScan(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q165_") { base =>
      val path = base.resolve("events_zorder").toString
      // one bounds aggregation feeds both the rank normalization and
      // the probe rectangle — zBounds is a full-table scan
      val bounds = zBounds(spark, dir)
      stageZOrdered(spark, dir, path, 16, bounds)
      val (pul, puh, ptl, pth) = zProbeBoundsFrom(bounds)
      spark.read.parquet(path)
        .filter(col("user_id") >= pul && col("user_id") < puh
          && col("tsu") >= ptl && col("tsu") < pth)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("value_sum"))
        .orderBy("event_type")
    }

  /** Stage orders + lineitem as BUCKETED tables (8 buckets on the join
    * key, sorted within) rooted at `base` — seam for q155 and its spec.
    * `repartition(8, key)` first: repartition's hash placement matches
    * the bucket-file rule, so each task holds exactly one bucket's rows
    * and the layout lands as ONE file per bucket (without it every task
    * writes a sliver of every bucket — the small-file pathology q134
    * exists to clean up).
    */
  /** Catalog table names are scoped to the staging dir's unique name
    * (createTempDirectory already guarantees per-invocation uniqueness),
    * so two concurrent sessions sharing a metastore — or a query and a
    * spec interleaved in one JVM — never clobber each other's tables.
    */
  private[graft] def bucketedNames(base: java.nio.file.Path): (String, String) = {
    val tag = base.getFileName.toString
    (s"${tag}_orders", s"${tag}_lineitem")
  }

  private[graft] def stageBucketed(spark: SparkSession, dir: String,
                                   base: java.nio.file.Path): Unit = {
    val (ordersTbl, lineitemTbl) = bucketedNames(base)
    Tables.orders(spark, dir).repartition(8, col("o_orderkey"))
      .write.mode("overwrite")
      .option("path", base.resolve("b_orders").toString)
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable(ordersTbl)
    Tables.lineitem(spark, dir).repartition(8, col("l_orderkey"))
      .write.mode("overwrite")
      .option("path", base.resolve("b_lineitem").toString)
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable(lineitemTbl)
  }

  /** The exchange-free fact-fact join over the staged bucketed tables —
    * seam for the spec's no-Exchange plan assertion.
    */
  private[graft] def bucketedJoined(spark: SparkSession,
                                    base: java.nio.file.Path): DataFrame = {
    val (ordersTbl, lineitemTbl) = bucketedNames(base)
    spark.table(lineitemTbl)
      .join(spark.table(ordersTbl),
        col("l_orderkey") === col("o_orderkey"))
  }

  /** q155 — BUCKETED CO-LOCATED JOIN: both fact tables written
    * `bucketBy(8, join-key)` and joined with ZERO shuffle of either
    * side — the layout pre-agrees on the partitioning, so the sort-merge
    * join reads co-located buckets directly. This is THE lever for a
    * 100 TB warehouse's recurring fact-fact joins: the shuffle of the
    * big side is paid once at write time and amortized over every
    * subsequent join (a per-query exchange of a 100 TB lineitem is the
    * single largest cost in the plan). Broadcast is disabled for the
    * join so the tiny test sf exercises the sort-merge path the layout
    * is designed for; ParquetLayoutSpec asserts the absent Exchange.
    * The oracle joins the ORIGINAL flat tables — bucketing must be
    * semantically invisible.
    */
  def bucketedJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    var staged = Option.empty[java.nio.file.Path]
    // the checkpoint in `detached` runs while broadcast is still off;
    // the catalog entries go once the result no longer reads them
    try Tables.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Tables.detached("graft_q155_") { base =>
        staged = Some(base)
        stageBucketed(spark, dir, base)
        bucketedJoined(spark, base)
          .groupBy("o_orderstatus")
          .agg(
            count(lit(1)).as("n_lines"),
            countDistinct(col("o_orderkey")).as("n_orders"),
            round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast("decimal(18,4)")).cast("double"), 4).as("revenue"))
          .orderBy("o_orderstatus")
      }
    } finally staged.map(bucketedNames).foreach { case (o, l) =>
      spark.sql(s"DROP TABLE IF EXISTS $o")
      spark.sql(s"DROP TABLE IF EXISTS $l")
    }
  }

  /** The event-type → category dim for q166: a tiny conformed dimension
    * whose literal content is shared verbatim with the oracle SQL. Two
    * of five types are `conversion`, so the dim filter prunes 3/5 of
    * the fact's partitions — at runtime, through the join.
    */
  private[graft] val typeCategories: Seq[(String, String)] = Seq(
    "purchase" -> "conversion", "signup" -> "conversion",
    "view" -> "browse", "click" -> "browse", "error" -> "ops")

  /** The q166 join shape — seam for the spec's dynamicpruning plan
    * assertion: fact partitioned on event_type, dim read from parquet
    * (a real scan, the shape DPP plans against) and filtered on a
    * NON-join column, joined on the fact's partition column.
    */
  private[graft] def dppJoined(spark: SparkSession, factPath: String,
                               dimPath: String): DataFrame =
    spark.read.parquet(factPath)
      .join(spark.read.parquet(dimPath)
        .filter(col("category") === "conversion"), "event_type")

  /** q166 — DYNAMIC PARTITION PRUNING: the fourth and last pruning
    * mechanism, after static directory pruning (q103), row-group
    * predicate pushdown (q125/q132) and multi-dimension clustering
    * (q165). The fact filter here is NOT in the query — it lives on the
    * dim (`category = 'conversion'`), a column the fact doesn't have,
    * so no static rewrite can prune the fact. Spark's PartitionPruning
    * rule injects the dim's post-filter join keys as a runtime subquery
    * into the fact scan's PartitionFilters (`dynamicpruning#...`),
    * reusing the join's own broadcast — which is THE mechanism that
    * makes star joins cheap on partitioned 100 TB facts: the fact I/O
    * shrinks to the dim-selected partitions before any fact bytes are
    * read, at the cost of nothing but the broadcast the join needed
    * anyway. The oracle joins the ORIGINAL flat table to the same
    * literal dim — pruning must be semantically invisible.
    */
  def dynamicPartitionPruning(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q166_") { base =>
      val factPath = base.resolve("events_by_type").toString
      val dimPath = base.resolve("type_dim").toString
      stageLayout(spark, dir, factPath)
      val s = spark
      import s.implicits._
      typeCategories.toDF("event_type", "category")
        .coalesce(1).write.parquet(dimPath)
      dppJoined(spark, factPath, dimPath)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("value_sum"))
        .orderBy("event_type")
    }

  /** q167 — DYNAMIC PARTITION OVERWRITE (idempotent backfill): the
    * write-side twin of q103 and the routine 100 TB maintenance op —
    * re-running one day's pipeline must replace exactly that day's
    * partition and leave every other partition's files untouched
    * (`partitionOverwriteMode=dynamic`; the default STATIC mode would
    * truncate the whole table to the replayed slice). Here the
    * `purchase` partition is replayed from source after the initial
    * full write; the read-back rollup is hash-gated against the
    * ORIGINAL flat table, proving the backfill is idempotent — same
    * rows after the replay as before it. ParquetLayoutSpec pins the
    * mechanism: untouched partitions keep byte-identical file listings
    * (names, sizes), and static mode really would have dropped them.
    */
  def backfillOverwrite(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q167_") { base =>
      val path = base.resolve("events_by_type").toString
      stageLayout(spark, dir, path)
      replayPartition(spark, dir, path, "purchase")
      spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("value_sum"))
        .orderBy("event_type")
    }

  /** Replay ONE partition's data into an existing partitioned layout
    * with dynamic overwrite — only partitions present in the incoming
    * frame are replaced. Seam for q167 and its spec.
    */
  private[graft] def replayPartition(spark: SparkSession, dir: String,
                                     path: String, eventType: String): Unit =
    Tables.eventsMicros(spark, dir)
      .select("event_id", "user_id", "tsu", "value", "event_type")
      .filter(col("event_type") === eventType)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(path)

  /** q170 — AVRO interchange: the third first-class interchange format
    * after parquet and ORC (q125) — Avro is the row-oriented lingua
    * franca of the streaming ecosystem (Kafka schema registry), so a
    * lakehouse ingest edge speaks it constantly. Same shape as q125:
    * write the events slice as Avro, read it back, aggregate; the
    * oracle aggregates the ORIGINAL parquet, so any type coercion
    * (Avro has no native µs-long convention drama here — tsu is a
    * plain long) or double drift in the writer/reader pair would
    * hash-mismatch.
    */
  /** q217 — JSONL interchange: the fourth interchange format, and the
    * one every external producer can emit with no library at all —
    * line-delimited JSON is the API-export / webhook / log-shipper
    * lingua franca, so the lakehouse edge reads it daily. Same gate
    * shape as q125/q170: write the events slice as JSONL, read it back
    * WITH AN EXPLICIT SCHEMA (schema inference on JSON is a full extra
    * pass over the data and type-guesses — never at 100 TB), aggregate,
    * hash-gate against the ORIGINAL parquet. Timestamps travel as the
    * epoch-µs long `tsu`, not ISO strings — JSON has no timestamp type,
    * and string round-trips re-enter timezone/precision territory the
    * µs-long contract exists to avoid. Doubles survive because Spark's
    * JSON writer emits shortest-round-trip literals; if either
    * direction lost a ulp the decimal-cast revenue sum would
    * hash-mismatch.
    */
  def jsonlInterchangeRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q217_") { base =>
      val path = base.resolve("events_jsonl").toString
      Tables.eventsMicros(spark, dir)
        .select("event_id", "user_id", "tsu", "value", "event_type")
        .write.format("json").save(path)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("tsu", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType)))
      spark.read.schema(schema).json(path)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_purchases"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("purchase_total"))
        .orderBy("user_id")
    }

  def avroInterchangeRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q170_") { base =>
      val path = base.resolve("events_avro").toString
      Tables.eventsMicros(spark, dir)
        .select("event_id", "user_id", "tsu", "value", "event_type")
        .write.format("org.apache.spark.sql.avro.AvroFileFormat").save(path)
      spark.read.format("org.apache.spark.sql.avro.AvroFileFormat").load(path)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_purchases"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("purchase_total"))
        .orderBy("user_id")
    }

  /** All parquet data files under a (possibly partitioned) layout,
    * recursively, sorted for determinism. Driver-side listing is
    * manifest-sized work, not data-sized — this IS the metadata layer.
    */
  private[graft] def listDataFiles(spark: SparkSession, root: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    val buf = Seq.newBuilder[String]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) buf += f.getPath.toString
    }
    buf.result().sorted
  }

  /** Commit a snapshot: version `v` is nothing but the list of data
    * files visible to it, one path per line.
    */
  private[graft] def writeManifest(dir: java.nio.file.Path, v: Int,
                                   files: Seq[String]): Unit =
    Files.write(dir.resolve(s"v$v.txt"),
      files.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private[graft] def readManifest(dir: java.nio.file.Path, v: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(dir.resolve(s"v$v.txt")).asScala.toSeq.filter(_.nonEmpty)
  }

  /** Read exactly one snapshot: the scan sees the manifest's file list,
    * nothing else — `basePath` keeps directory-encoded partition
    * columns resolvable on the explicit file list.
    */
  private[graft] def snapshotRead(spark: SparkSession, basePath: String,
                                  manifestDir: java.nio.file.Path,
                                  v: Int): DataFrame =
    spark.read.option("basePath", basePath)
      .parquet(readManifest(manifestDir, v): _*)

  /** q171 — SNAPSHOT ISOLATION / TIME TRAVEL from immutable files + a
    * version manifest: the core lakehouse-table mechanism (Iceberg/
    * Delta strip away to exactly this) built from plain parquet and a
    * text file. Data files are written once and NEVER rewritten; a
    * version is just the list of files visible to it. Here v1 commits
    * the full partitioned events layout and v2 "purges" the error
    * slice — a METADATA-ONLY commit: zero data I/O (the q133 row-level
    * purge rewrites; this one drops whole files from the manifest),
    * which at 100 TB is the difference between an O(manifest) commit
    * and rewriting a table. Both snapshots stay readable AFTER the
    * commit — the time-travel guarantee — and the query aggregates
    * BOTH through their manifests. The oracle re-derives each version
    * from the ORIGINAL flat table (v2 = all non-error rows), so
    * snapshot selection is proven semantically exact.
    */
  def snapshotTimeTravel(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q171_") { base =>
      val data = base.resolve("data").toString
      stageLayout(spark, dir, data)
      val manifests = Files.createDirectory(base.resolve("manifests"))
      val v1Files = listDataFiles(spark, data)
      writeManifest(manifests, 1, v1Files)
      writeManifest(manifests, 2,
        v1Files.filterNot(_.contains("event_type=error")))
      def snap(v: Int): DataFrame =
        snapshotRead(spark, data, manifests, v)
          .withColumn("version", lit(s"v$v"))
      snap(1).unionByName(snap(2))
        .groupBy("version", "event_type")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("value_sum"))
        .orderBy("version", "event_type")
    }

  /** Per-file (path, min, max) of `column`, read from the parquet
    * footers at COMMIT time — the stats a lakehouse writer records
    * into its manifest alongside the file list (the write already
    * knows them; collecting here from footers is the same O(files)
    * metadata pass, data untouched).
    */
  private[graft] def fileStats(spark: SparkSession, root: String,
                               column: String): Seq[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    listDataFiles(spark, root).map { p =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(p), conf))
      try {
        val stats = reader.getFooter.getBlocks.asScala.map(
          _.getColumns.asScala.find(_.getPath.toDotString == column)
            .get.getStatistics)
        (p,
          stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
          stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max)
      } finally reader.close()
    }
  }

  /** The manifest-level prune: files whose [min, max] band intersects
    * the probe window. Driver-side over manifest-sized data.
    */
  private[graft] def pruneByStats(stats: Seq[(String, Long, Long)],
                                  lo: Long, hi: Long): Seq[String] =
    stats.collect { case (p, mn, mx) if mn < hi && mx >= lo => p }

  /** q172 — MANIFEST-STATS FILE PRUNING: the metadata layer above
    * q132's row-group skipping. Row-group pruning still OPENS every
    * file (list + footer fetch per file — at 100 TB with millions of
    * files, that metadata round-trip IS the latency floor); a lakehouse
    * manifest records per-file min/max at commit time, so a time-range
    * probe selects the intersecting files from the manifest alone —
    * O(manifest) driver work, zero object-store requests for excluded
    * files — and only then does Spark plan a scan over the survivors.
    * Layout feeds metadata: on the q132-clustered copy each file owns a
    * disjoint time slice, so the [3/8, 4/8) probe keeps ~1-2 of 8 files
    * (the spec also pins the converse — on a scattered layout the same
    * stats prune nothing). Residual filter + aggregate are unchanged
    * q132; the oracle recomputes the same content-derived window over
    * the ORIGINAL flat table, proving file selection dropped no rows.
    */
  def manifestPrunedScan(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q172_") { base =>
      val path = base.resolve("events_by_time").toString
      stageClustered(spark, dir, path, 8)
      val (plo, phi) = probeBounds(spark, dir)
      val picked = pruneByStats(fileStats(spark, path, "tsu"), plo, phi)
      spark.read.parquet(picked: _*)
        .filter(col("tsu") >= plo && col("tsu") < phi)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("value_sum"))
        .orderBy("event_type")
    }

  /** The q173 delete predicate — a sparse user-keyed purge (every
    * 97th user), the GDPR-delete shape: rows scattered across every
    * data file, the worst case for copy-on-write and the motivating
    * case for merge-on-read.
    */
  private[graft] val dvDeletePredicate = col("user_id") % 97 === 0

  /** Commit a row-level delete as an equality-delete sidecar: the set
    * of deleted ROW KEYS (event_id is the table's unique key), written
    * once next to the immutable data files. O(deleted rows) I/O, zero
    * data files rewritten.
    */
  private[graft] def commitDeleteVector(spark: SparkSession, data: String,
                                        dvPath: String): Unit =
    spark.read.parquet(data)
      .filter(dvDeletePredicate)
      .select("event_id")
      .write.parquet(dvPath)

  /** The merge-on-read scan: data files anti-joined to the deletion
    * vector on the row key. The DV is broadcast — while deletes are a
    * tiny fraction of the table (the steady state between compactions)
    * the anti-join adds no exchange to the fact side; once a DV
    * outgrows the broadcast bound the same plan shuffles on the row
    * key, and compaction (q134's kernel) folds the DV back into the
    * data files and resets it to empty.
    */
  private[graft] def dvRead(spark: SparkSession, data: String,
                            dvPath: String): DataFrame =
    spark.read.parquet(data)
      .join(broadcast(spark.read.parquet(dvPath)), Seq("event_id"),
        "left_anti")

  /** q173 — DELETION VECTORS (merge-on-read row-level delete): the
    * fourth lakehouse-table mechanism, after time travel (q171),
    * manifest pruning (q172) and compaction (q134). q133's purge and
    * q171's error drop delete by REWRITING or by dropping WHOLE files;
    * a sparse row-level delete (GDPR erasure of scattered users) would
    * force a copy-on-write of nearly every file it touches — at 100 TB,
    * rewriting the table to remove 1% of rows. Merge-on-read instead
    * commits only the deleted keys and makes every reader anti-join
    * them. The oracle applies the same predicate to the ORIGINAL flat
    * table, so the DV scan must be row-exact: the sidecar must capture
    * exactly the predicate's rows and the anti-join must drop exactly
    * those.
    */
  def deletionVectorScan(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q173_") { base =>
      val data = base.resolve("data").toString
      stageClustered(spark, dir, data, 8)
      val dv = base.resolve("deletes").toString
      commitDeleteVector(spark, data, dv)
      dvRead(spark, data, dv)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("value_sum"))
        .orderBy("event_type")
    }

  /** q176 — VACUUM / SNAPSHOT RETENTION: the garbage collector of the
    * q171 store. Time travel keeps superseded files alive as long as a
    * retained manifest references them; vacuum under a retention policy
    * (here: latest only) computes the reachable file set from the
    * RETAINED manifests — O(manifest) driver work — and deletes the
    * orphans. At 100 TB this is what keeps storage from growing without
    * bound under compaction/backfill churn, and reachability-from-
    * manifests is what makes it SAFE: a file is deleted because no
    * retained snapshot can see it, never because of its age or name.
    * The query reads the live snapshot AFTER the vacuum; the oracle
    * re-derives it from the ORIGINAL flat table (v2 = non-error), so a
    * vacuum that deleted a reachable file surfaces as a missing-file
    * read error or a hash mismatch. The spec pins the other half: the
    * orphans are actually gone from disk and only they are.
    */
  def vacuumRetention(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q176_") { base =>
      val data = base.resolve("data").toString
      stageLayout(spark, dir, data)
      val manifests = Files.createDirectory(base.resolve("manifests"))
      val v1Files = listDataFiles(spark, data)
      writeManifest(manifests, 1, v1Files)
      val v2Files = v1Files.filterNot(_.contains("event_type=error"))
      writeManifest(manifests, 2, v2Files)
      vacuumTo(spark, data, keep = v2Files.toSet)
      snapshotRead(spark, data, manifests, 2)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("value_sum"))
        .orderBy("event_type")
    }

  /** The row-level diff between two snapshots, derived from their
    * manifests alone: rows in files REMOVED between the versions are
    * deletes, rows in ADDED files are inserts; files in both manifests
    * are untouched by construction (immutable files never change
    * content) and are never opened. I/O is O(changed files) — at
    * 100 TB a daily diff reads the day's churn, not the table.
    */
  private[graft] def snapshotDiff(spark: SparkSession, basePath: String,
                                  manifestDir: java.nio.file.Path,
                                  vOld: Int, vNew: Int): DataFrame = {
    val oldF = readManifest(manifestDir, vOld).toSet
    val newF = readManifest(manifestDir, vNew).toSet
    def rd(fs: Seq[String], tag: String): DataFrame =
      spark.read.option("basePath", basePath).parquet(fs.sorted: _*)
        .withColumn("change_type", lit(tag))
    val removed = (oldF -- newF).toSeq
    val added = (newF -- oldF).toSeq
    (removed.nonEmpty, added.nonEmpty) match {
      case (true, true) =>
        rd(removed, "delete").unionByName(rd(added, "insert"))
      case (true, false) => rd(removed, "delete")
      case (false, true) => rd(added, "insert")
      case _ => // identical manifests: empty diff with the data's schema
        spark.read.option("basePath", basePath)
          .parquet(newF.toSeq.sorted: _*)
          .withColumn("change_type", lit("insert")).limit(0)
    }
  }

  /** q178 — CHANGE DATA FEED from a manifest diff: the row-level
    * changes between two snapshots of the q171 store, computed without
    * a table scan. Because data files are immutable, the manifest diff
    * IS the change log: removed files carry exactly the deleted rows,
    * added files exactly the inserted ones, and the (typically vast)
    * intersection is provably unchanged without opening a single file
    * — O(changed files) I/O where a join-based table diff would read
    * both versions in full. This is the mechanism under Delta's CDF /
    * Iceberg's incremental read, derived here from plain manifests;
    * it is also what feeds q174's maintenance: the diff's deletes and
    * inserts ARE the retraction changelog. The commit under test
    * archives the error slice — drops its files and adds a relabeled
    * copy (immutable files: changed rows are NEW files) — so the feed
    * must report the same rows once as deletes and once as inserts
    * under the new label; the oracle re-derives both sides from the
    * ORIGINAL flat table.
    */
  def snapshotChangeFeed(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q178_") { base =>
      val data = base.resolve("data").toString
      stageLayout(spark, dir, data)
      val manifests = Files.createDirectory(base.resolve("manifests"))
      val v1Files = listDataFiles(spark, data)
      writeManifest(manifests, 1, v1Files)
      val errFiles = v1Files.filter(_.contains("event_type=error"))
      spark.read.option("basePath", data).parquet(errFiles: _*)
        .withColumn("event_type", lit("error_archived"))
        .write.mode("append").partitionBy("event_type").parquet(data)
      writeManifest(manifests, 2,
        listDataFiles(spark, data).filterNot(errFiles.contains))
      snapshotDiff(spark, data, manifests, 1, 2)
        .groupBy("change_type", "event_type")
        .agg(
          count(lit(1)).as("n_rows"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("value_sum"))
        .orderBy("change_type", "event_type")
    }

  private[graft] val usPerDay = graft.ops.Changelog.usPerDay

  /** The q180 spec-change cutoff: NOON of the observed span's middle
    * day — deliberately mid-day so the probe day has rows on BOTH
    * sides of the partition-spec change. Driver-side bounds read
    * (metadata-sized, the probeBounds pattern); pure Long arithmetic
    * so the oracle truncates identically.
    */
  private[graft] def evolutionCut(spark: SparkSession, dir: String): Long = {
    val r = Tables.eventsMicros(spark, dir)
      .agg(min("tsu").as("lo"), max("tsu").as("hi")).collect().head
    ((r.getLong(0) + r.getLong(1)) / 2 / usPerDay) * usPerDay + usPerDay / 2
  }

  /** The unified reader over both partition specs: the coarse spec
    * derives `day` from data, the fine spec carries it as a directory
    * key (cast back to the shared long convention). Seam for q180 and
    * its spec.
    */
  private[graft] def evolvedTable(spark: SparkSession, coarsePath: String,
                                  finePath: String): DataFrame = {
    val coarse = spark.read.parquet(coarsePath)
      .withColumn("day", expr(s"tsu div $usPerDay"))
    val fine = spark.read.parquet(finePath)
      .withColumn("day", col("day").cast("long"))
    coarse.unionByName(fine)
  }

  /** q180 — PARTITION SPEC EVOLUTION: the table's partitioning scheme
    * changes over its lifetime WITHOUT rewriting history — the
    * manifest-layer decoupling (Iceberg partition evolution) that a
    * path-partitioned warehouse cannot express (Hive-style evolution =
    * rewrite every old file). Old data stays under the coarse spec
    * (event_type); data after the spec change lands under the fine
    * spec (event_type, day). One logical table reads both: the fine
    * side's probe prunes by DIRECTORY, the coarse side falls back to
    * the pushed row filter — each file is pruned under the spec it was
    * WRITTEN with, which is the entire contract. The probe day
    * deliberately straddles the spec change (noon cutoff), so a reader
    * that consulted only one spec would lose half the day; the oracle
    * recomputes the day over the ORIGINAL flat table. The spec pins
    * the asymmetry: the fine scan opens only the probe day's
    * directories while the coarse scan cannot directory-prune on day.
    */
  def partitionEvolutionScan(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q180_") { base =>
      val ev = Tables.eventsMicros(spark, dir)
        .select("event_id", "user_id", "tsu", "value", "event_type")
      val cut = evolutionCut(spark, dir)
      val coarsePath = base.resolve("coarse").toString
      ev.filter(col("tsu") < cut)
        .write.partitionBy("event_type").parquet(coarsePath)
      val finePath = base.resolve("fine").toString
      ev.filter(col("tsu") >= cut)
        .withColumn("day", expr(s"tsu div $usPerDay"))
        .write.partitionBy("event_type", "day").parquet(finePath)
      evolvedTable(spark, coarsePath, finePath)
        .filter(col("day") === cut / usPerDay)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("value_sum"))
        .orderBy("event_type")
    }

  /** Stage a candidate batch as data files that NO manifest references
    * yet: physically present, logically invisible to every snapshot
    * reader. Returns the staged file paths (the publish decision and
    * the spec both need them).
    */
  private[graft] def stageBatch(spark: SparkSession, data: String,
                                batch: DataFrame): Seq[String] = {
    val before = listDataFiles(spark, data).toSet
    batch.write.mode("append").parquet(data)
    (listDataFiles(spark, data).toSet -- before).toSeq.sorted
  }

  /** q179 — WRITE-AUDIT-PUBLISH: the governance workflow the manifest
    * store enables (Iceberg's WAP pattern). A candidate batch lands as
    * staged files that no manifest references — readers of the live
    * snapshot cannot see it — then an AUDIT runs against the staged
    * data while it is still invisible, and only a clean batch enters
    * the next manifest commit. A failing batch costs NOTHING to
    * reject: its files simply never get referenced (q176's vacuum
    * reclaims them later); there is no partial-publish state at any
    * point because the commit is one manifest write. The audit here is
    * key uniqueness against the live snapshot — the double-publish
    * accident this pattern exists to catch: the incoming open-orders
    * batch has disjoint keys (publishes), the replayed slice of
    * already-live orders collides on every key (rejected). Audit cost
    * is one semi-join of the BATCH against live — batch-sized shuffle,
    * live side read through the manifest. The oracle re-derives both
    * batches' row and collision counts from the flat table; the spec
    * pins the isolation (staged files invisible pre-publish, published
    * rows visible after, rejected rows never) and the orphan cleanup.
    */
  def writeAuditPublish(spark: SparkSession, dir: String): DataFrame =
    Tables.detached("graft_q179_") { base =>
      val data = base.resolve("data").toString
      val orders = Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      orders.filter(col("o_orderstatus") === "F").write.parquet(data)
      val manifests = Files.createDirectory(base.resolve("manifests"))
      writeManifest(manifests, 1, listDataFiles(spark, data))

      val openFiles = stageBatch(spark, data,
        orders.filter(col("o_orderstatus") === "O"))
      val replayFiles = stageBatch(spark, data,
        orders.filter(col("o_orderstatus") === "F"
          && col("o_orderkey") % 10 === 0))

      // the audit: batch key uniqueness vs the LIVE snapshot
      def audit(files: Seq[String]): (Long, Long) = {
        val cand = spark.read.parquet(files: _*)
        val live = snapshotRead(spark, data, manifests, 1)
        (cand.count(),
          cand.join(live, Seq("o_orderkey"), "left_semi").count())
      }
      val (nOpen, dupOpen) = audit(openFiles)
      val (nReplay, dupReplay) = audit(replayFiles)

      // the publish: ONE manifest write; only clean batches enter it
      writeManifest(manifests, 2, readManifest(manifests, 1)
        ++ (if (dupOpen == 0) openFiles else Nil)
        ++ (if (dupReplay == 0) replayFiles else Nil))

      val s = spark
      import s.implicits._
      Seq(
        ("incoming_open", nOpen, dupOpen,
          if (dupOpen == 0) "published" else "rejected"),
        ("replayed_slice", nReplay, dupReplay,
          if (dupReplay == 0) "published" else "rejected"))
        .toDF("batch", "n_rows", "n_dup_keys", "verdict")
        .orderBy("batch")
    }

  /** Delete every data file under `data` not in the reachable set.
    * Returns the deleted paths (the spec asserts on them).
    */
  private[graft] def vacuumTo(spark: SparkSession, data: String,
                              keep: Set[String]): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val orphans = listDataFiles(spark, data).filterNot(keep)
    orphans.foreach { p =>
      val hp = new Path(p)
      hp.getFileSystem(conf).delete(hp, false)
    }
    orphans
  }

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "q173_deletion_vector_scan" -> (deletionVectorScan(_, _)),
    "q176_vacuum_retention" -> (vacuumRetention(_, _)),
    "q178_snapshot_change_feed" -> (snapshotChangeFeed(_, _)),
    "q179_write_audit_publish" -> (writeAuditPublish(_, _)),
    "q180_partition_evolution" -> (partitionEvolutionScan(_, _)),
    "q172_manifest_pruned_scan" -> (manifestPrunedScan(_, _)),
    "q171_snapshot_time_travel" -> (snapshotTimeTravel(_, _)),
    "q166_dynamic_partition_pruning" -> (dynamicPartitionPruning(_, _)),
    "q167_backfill_overwrite" -> (backfillOverwrite(_, _)),
    "q170_avro_interchange" -> (avroInterchangeRevenue(_, _)),
    "q217_jsonl_interchange" -> (jsonlInterchangeRevenue(_, _)),
    "q155_bucketed_join_revenue" -> (bucketedJoinRevenue(_, _)),
    "q165_zorder_scan" -> (zorderScan(_, _)),
    "q103_partition_pruned_revenue" -> (partitionPrunedRevenue(_, _)),
    "q125_orc_interchange" -> (orcInterchangeRevenue(_, _)),
    "q131_schema_evolution" -> (schemaEvolutionRollup(_, _)),
    "q132_clustered_layout_scan" -> (clusteredLayoutScan(_, _)),
    "q134_compaction_rollup" -> (compactionRollup(_, _)))

  val oracles: Map[String, String] = Map(
    // q173: the same delete predicate applied to the ORIGINAL flat
    // table — the DV sidecar + anti-join must drop exactly the
    // predicate's rows, nothing else
    "q173_deletion_vector_scan" ->
      """SELECT event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
         FROM events
         WHERE ts IS NOT NULL AND user_id % 97 <> 0
         GROUP BY 1 ORDER BY 1""",
    // q180: the straddling probe day recomputed over the ORIGINAL flat
    // table — a reader that consulted only one spec would lose the
    // morning or the afternoon and hash-mismatch
    "q180_partition_evolution" ->
      s"""WITH ev AS (
           SELECT user_id, event_type, value, epoch_ns(ts) // 1000 AS tsu
           FROM events WHERE ts IS NOT NULL),
         c AS (
           SELECT ((min(tsu) + max(tsu)) // 2 // $usPerDay) * $usPerDay
             + $usPerDay // 2 AS cut
           FROM ev)
         SELECT event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
         FROM ev
         WHERE tsu // $usPerDay = (SELECT cut // $usPerDay FROM c)
         GROUP BY 1 ORDER BY 1""",
    // q179: both batches' row and collision counts re-derived from the
    // flat table — orderkeys are unique table-wide, so the open batch
    // collides with nothing and the replayed slice collides entirely
    "q179_write_audit_publish" ->
      """SELECT * FROM (
           SELECT 'incoming_open' AS batch, count(*) AS n_rows,
             CAST(0 AS BIGINT) AS n_dup_keys, 'published' AS verdict
           FROM orders WHERE o_orderstatus = 'O'
           UNION ALL
           SELECT 'replayed_slice' AS batch, count(*) AS n_rows,
             count(*) AS n_dup_keys, 'rejected' AS verdict
           FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 0)
         ORDER BY batch""",
    // q178: both sides of the archive commit re-derived from the
    // ORIGINAL flat table — the manifest diff must surface exactly the
    // error rows as deletes and the same rows, relabeled, as inserts
    "q178_snapshot_change_feed" ->
      """WITH err AS (
           SELECT value FROM events
           WHERE ts IS NOT NULL AND event_type = 'error')
         SELECT * FROM (
           SELECT 'delete' AS change_type, 'error' AS event_type,
             count(*) AS n_rows,
             round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
           FROM err
           UNION ALL
           SELECT 'insert' AS change_type, 'error_archived' AS event_type,
             count(*) AS n_rows,
             round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
           FROM err)
         ORDER BY change_type, event_type""",
    // q176: the live snapshot re-derived from the ORIGINAL flat table
    // (v2 = the error purge) — a vacuum that deleted a reachable file
    // would error or hash-mismatch
    "q176_vacuum_retention" ->
      """SELECT event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
         FROM events WHERE ts IS NOT NULL AND event_type <> 'error'
         GROUP BY 1 ORDER BY 1""",
    // q172: identical oracle to q132 — same content-derived probe
    // window over the ORIGINAL flat table; manifest-level file
    // selection must drop no rows
    "q172_manifest_pruned_scan" ->
      """WITH ev AS (
           SELECT user_id, event_type, value, epoch_ns(ts) // 1000 AS tsu
           FROM events WHERE ts IS NOT NULL),
         b AS (
           SELECT min(tsu) AS lo, (max(tsu) - min(tsu)) // 8 AS step
           FROM ev)
         SELECT event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
         FROM ev, b
         WHERE tsu >= lo + 3 * step AND tsu < lo + 4 * step
         GROUP BY 1 ORDER BY 1""",
    // q171: each version re-derived from the ORIGINAL flat table —
    // v1 = everything, v2 = the metadata-only error purge. Snapshot
    // selection must be semantically exact.
    "q171_snapshot_time_travel" ->
      """SELECT * FROM (
           SELECT 'v1' AS version, event_type, count(*) AS n_events,
             count(DISTINCT user_id) AS n_users,
             round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
           FROM events WHERE ts IS NOT NULL
           GROUP BY 1, 2
           UNION ALL
           SELECT 'v2' AS version, event_type, count(*) AS n_events,
             count(DISTINCT user_id) AS n_users,
             round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
           FROM events WHERE ts IS NOT NULL AND event_type <> 'error'
           GROUP BY 1, 2)
         ORDER BY version, event_type""",
    // q166: the oracle joins the ORIGINAL flat table to the SAME
    // literal dim — runtime partition pruning must be semantically
    // invisible. The VALUES list is generated from typeCategories so
    // engine and oracle share one source of truth.
    "q166_dynamic_partition_pruning" -> {
      val dimRows = typeCategories
        .map { case (t, c) => s"('$t', '$c')" }.mkString(", ")
      s"""WITH dim(event_type, category) AS (VALUES $dimRows)
         SELECT e.event_type, count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users,
           round(sum(CAST(e.value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
         FROM events e JOIN dim d USING (event_type)
         WHERE e.ts IS NOT NULL AND d.category = 'conversion'
         GROUP BY 1 ORDER BY 1"""
    },
    // q167: the oracle aggregates the ORIGINAL table — the replayed
    // partition must land the same rows it replaced (idempotence)
    "q167_backfill_overwrite" ->
      """SELECT event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
         FROM events WHERE ts IS NOT NULL
         GROUP BY 1 ORDER BY 1""",
    // q170: identical oracle to q125 — the Avro round trip must be
    // invisible
    // q217: identical epilogue over the original parquet — the JSONL
    // writer/reader pair must be lossless for longs and doubles
    "q217_jsonl_interchange" ->
      """SELECT user_id, count(*) AS n_purchases,
         round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS purchase_total
         FROM events
         WHERE ts IS NOT NULL AND event_type = 'purchase'
         GROUP BY 1 ORDER BY 1""",
    "q170_avro_interchange" ->
      """SELECT user_id, count(*) AS n_purchases,
         round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS purchase_total
         FROM events
         WHERE ts IS NOT NULL AND event_type = 'purchase'
         GROUP BY 1 ORDER BY 1""",
    // q155: the oracle joins the ORIGINAL flat tables — the bucketed
    // layout must be semantically invisible
    "q155_bucketed_join_revenue" ->
      """SELECT o_orderstatus, count(*) AS n_lines,
           count(DISTINCT o_orderkey) AS n_orders,
           round(sum(CAST(l_extendedprice * (1.0 - l_discount)
             AS DECIMAL(18,4)))::DOUBLE, 4) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1""",
    // q165: the oracle recomputes the same content-derived probe
    // rectangle over the ORIGINAL flat table — the z layout must be
    // semantically invisible. div-first steps truncate identically.
    "q165_zorder_scan" ->
      """WITH ev AS (
           SELECT user_id, event_type, value, epoch_ns(ts) // 1000 AS tsu
           FROM events WHERE ts IS NOT NULL),
         b AS (
           SELECT min(user_id) AS ulo,
             (max(user_id) - min(user_id) + 1) // 8 AS ustep,
             min(tsu) AS tlo,
             (max(tsu) - min(tsu) + 1) // 8 AS tstep
           FROM ev)
         SELECT event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
         FROM ev, b
         WHERE user_id >= ulo + 3 * ustep AND user_id < ulo + 4 * ustep
           AND tsu >= tlo + 3 * tstep AND tsu < tlo + 4 * tstep
         GROUP BY 1 ORDER BY 1""",
    // the oracle reads the ORIGINAL flat table: layout + pruning must be
    // semantically invisible
    "q103_partition_pruned_revenue" ->
      """SELECT user_id, count(*) AS n_purchases,
         round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS purchase_total
         FROM events
         WHERE ts IS NOT NULL AND event_type = 'purchase'
         GROUP BY 1 ORDER BY 1""",
    // q125: identical oracle — the ORC round trip must be invisible
    "q125_orc_interchange" ->
      """SELECT user_id, count(*) AS n_purchases,
         round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS purchase_total
         FROM events
         WHERE ts IS NOT NULL AND event_type = 'purchase'
         GROUP BY 1 ORDER BY 1""",
    // q131: the oracle re-derives the shard rule over the ORIGINAL
    // table — the two-epoch mergeSchema read must be lossless
    "q131_schema_evolution" ->
      """SELECT CASE WHEN strpos('0123456789abcdef',
             substr(md5(event_id::VARCHAR || ':schema'), 1, 1)) - 1 < 8
           THEN '__pre_schema__' ELSE event_type END AS event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
         FROM events WHERE ts IS NOT NULL
         GROUP BY 1 ORDER BY 1""",
    // q132: the oracle recomputes the same content-derived [3/8, 4/8)
    // probe window over the ORIGINAL flat table — layout must be
    // semantically invisible. Integer division: DuckDB // matches
    // Spark's Long / for the non-negative span here.
    "q132_clustered_layout_scan" ->
      """WITH ev AS (
           SELECT user_id, event_type, value, epoch_ns(ts) // 1000 AS tsu
           FROM events WHERE ts IS NOT NULL),
         b AS (
           SELECT min(tsu) AS lo, (max(tsu) - min(tsu)) // 8 AS step
           FROM ev)
         SELECT event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
         FROM ev, b
         WHERE tsu >= lo + 3 * step AND tsu < lo + 4 * step
         GROUP BY 1 ORDER BY 1""",
    // q134: the oracle aggregates the ORIGINAL table — fragmentation
    // and compaction must both be invisible
    "q134_compaction_rollup" ->
      """SELECT event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(CAST(value AS DECIMAL(18,6)))::DOUBLE, 2) AS value_sum
         FROM events WHERE ts IS NOT NULL
         GROUP BY 1 ORDER BY 1""")
}
