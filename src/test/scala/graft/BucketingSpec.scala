package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-layout levers for co-located work at scale: bucketed tables
  * joining WITHOUT a shuffle exchange, and date-partitioned layouts
  * pruning untouched partitions at the scan. Both are assertions on the
  * physical plan, not just results — the point is the absent Exchange /
  * the pruned file index.
  */
class BucketingSpec extends AnyFunSuite with SparkTestBase {

  test("bucketed tables join with zero shuffle exchanges") {
    val orders = Tables.orders(spark, sf)
    val lineitem = Tables.lineitem(spark, sf)
    orders.write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("b_orders")
    lineitem.write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("b_lineitem")
    // at this tiny sf AQE would broadcast and hide the bucketing; force
    // the sort-merge path the layout is designed for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
      // result parity with the unbucketed join
      val expected = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val actual = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(actual == expected)
      // the join itself must not shuffle: bucket layout co-locates keys.
      // (the groupBy after it still exchanges — count Exchange nodes
      // upstream of the join only)
      val plan = joined.queryExecution.executedPlan.toString
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected sort-merge join of bucketed tables:\n$plan")
      val belowJoin = plan.substring(joinIdx)
      assert(!belowJoin.contains("Exchange hashpartitioning(l_orderkey") &&
        !belowJoin.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join must not re-shuffle its inputs:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("date-partitioned layout prunes partitions at the scan") {
    withTempDir("graft_part_") { dir =>
      val out = dir.toString + "/orders_by_month"
      Tables.orders(spark, sf)
        .withColumn("order_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("order_month").parquet(out)
      val all = spark.read.parquet(out)
      val firstMonth = all.agg(min("order_month")).collect()(0).getString(0)
      val one = all.filter(col("order_month") === firstMonth)
      assert(one.count() > 0 && one.count() < all.count())
      val scan = one.queryExecution.executedPlan.toString
      // partition filter reached the file index (not a post-scan filter)
      assert(scan.contains("PartitionFilters") &&
        scan.replaceAll("\\s", "").contains("order_month"),
        s"expected partition pruning in:\n$scan")
    }
  }
}
