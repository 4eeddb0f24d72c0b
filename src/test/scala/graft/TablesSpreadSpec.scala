package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins both directions of the work-gated source spread (Tables.spread):
  * a source too small to amortize the exchange must pass through
  * untouched (round 5's unconditional spread regressed q55/q53 by
  * paying a full text shuffle before microsecond kernels), while a
  * low-parallelism source that clears the work gate must fan out to
  * every core before a CPU-heavy kernel.
  */
class TablesSpreadSpec extends AnyFunSuite with SparkTestBase {

  test("no-op on a source too small to amortize the exchange") {
    val df = Tables.documents(spark, sf)
    // reference equality: the gate must return the input plan itself,
    // not an equivalent one — no exchange is even constructed
    assert(Tables.spread(df) eq df)
  }

  test("a single-partition source above the work gate fans out to all cores") {
    val df = Tables.documents(spark, sf)
    val target = spark.sparkContext.defaultParallelism
    assume(df.rdd.getNumPartitions < target)
    val out = Tables.spread(df, minBytesPerCore = 1L)
    assert(out.rdd.getNumPartitions == target)
  }

  test("a source already as parallel as the cluster is untouched above the gate") {
    val target = spark.sparkContext.defaultParallelism
    val df = Tables.documents(spark, sf).repartition(target)
    assert(Tables.spread(df, minBytesPerCore = 1L) eq df)
  }

  test("a compressed columnar source clears the gate 8x earlier") {
    // a ~3 MB parquet file: under the RAW-text gate (4 cores × 4 MB =
    // 16 MB) it would stay serial, but parquet bytes stand in for ~8x
    // the kernel work, so the compression-aware gate (16 MB / 8 = 2 MB)
    // must spread it before an expensive per-row kernel (round-7
    // advice: the divisor used to be a caveat no call site applied)
    val s = spark
    import s.implicits._
    withTempDir("graft_spread_") { tmp =>
      val dir = tmp.toString
      spark.range(100000)
        .select(col("id"),
          md5(col("id").cast("string")).as("a"),
          md5((col("id") + 1).cast("string")).as("b"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val df = spark.read.parquet(dir)
      val target = spark.sparkContext.defaultParallelism
      val planned = df.queryExecution.optimizedPlan.stats.sizeInBytes
      // fixture sanity: inside (gate/8, gate) — meaningful either way
      assert(planned > BigInt(target) * (Tables.spreadMinBytesPerCore / 8),
        s"fixture too small: $planned")
      assert(planned < BigInt(target) * Tables.spreadMinBytesPerCore,
        s"fixture too big: $planned")
      assume(df.rdd.getNumPartitions < target)
      val out = Tables.spread(df)
      assert(out.rdd.getNumPartitions == target,
        "compressed source below the raw gate must still spread")
    }
  }

  test("boundedCheckpoint materializes under the cap and no-ops above it") {
    val df = spark.range(1000).selectExpr("id", "id * 2 as v")
    val small = Tables.boundedCheckpoint(df)
    // a localCheckpoint replaces the logical plan with a scan of the
    // materialized RDD — observable as a plan class change
    assert(small.queryExecution.analyzed.getClass.getSimpleName
      == "LogicalRDD", "under the cap: must checkpoint")
    assert(small.collect().toSeq == df.collect().toSeq)
    val over = Tables.boundedCheckpoint(df, maxBytesPerCore = 0L)
    assert(over eq df, "over the cap: must be a lineage-preserving no-op")
  }
}
