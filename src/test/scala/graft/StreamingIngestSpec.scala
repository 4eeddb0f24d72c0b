package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingIngest

/** Top-level for encoder generation. */
case class IngestRec(dmid: Long, ts: Timestamp, text: String)

/** Streaming ingest dedup: duplicate ids within the watermark are
  * dropped in-engine; the foreachBatch parquet sink lands exactly one
  * row per id end-to-end.
  */
class StreamingIngestSpec extends AnyFunSuite with SparkTestBase {

  test("dropDuplicatesWithinWatermark + foreachBatch sink: one row per id") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    withTempDir("graft_stream_ingest_") { outRoot =>
      withTempDir("graft_stream_ckpt_") { ckptDir =>
        val outDir = outRoot.toString + "/data"
        val ckpt = ckptDir.toString

        val stream = MemoryStream[IngestRec]
        val deduped = StreamingIngest.dedupedStream(stream.toDF(), "dmid", "ts")
        val q = StreamingIngest.appendSink(deduped, outDir, "dmid", ckpt)
        try {
          val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
          // batch 1 contains an internal duplicate
          stream.addData(
            IngestRec(1L, new Timestamp(t0), "a"),
            IngestRec(2L, new Timestamp(t0 + 1000), "b"),
            IngestRec(1L, new Timestamp(t0), "a-dup"))
          q.processAllAvailable()
          // batch 2 re-sends id 2 (within watermark) and adds id 3
          stream.addData(
            IngestRec(2L, new Timestamp(t0 + 1000), "b-dup"),
            IngestRec(3L, new Timestamp(t0 + 2000), "c"))
          q.processAllAvailable()

          val landed = spark.read.parquet(outDir)
          assert(landed.count() == 3, s"expected 3 unique ids, got ${landed.count()}")
          assert(landed.select("dmid").distinct().count() == 3)
          assert(landed.groupBy("dmid").count().filter(col("count") > 1).count() == 0)
        } finally q.stop()
      }
    }
  }
}
