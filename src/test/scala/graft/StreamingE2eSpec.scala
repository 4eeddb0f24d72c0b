package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Sessionize, StreamingIngest}

/** Top-level for encoder generation. */
case class E2eRec(dmid: Long, user_id: Long, ts: Timestamp, event_type: String)

/** The full §2.9 streaming path end-to-end: watermarked dedup ingest →
  * keyed-state sessionization → parquet at rest, all inside the engine
  * (no driver-side collection). Closed sessions land via the gap rule;
  * an idle session lands via the event-time timeout when the watermark
  * passes its close time.
  */
class StreamingE2eSpec extends AnyFunSuite with SparkTestBase {

  test("e2e: dedup ingest → sessionize → parquet sink, sessions land exactly once") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    withTempDir("graft_e2e_out_") { outRoot =>
      withTempDir("graft_e2e_ckpt_") { ckptDir =>
        val outDir = outRoot.toString + "/sessions"
        val ckpt = ckptDir.toString

        val stream = MemoryStream[E2eRec]
        val deduped = StreamingIngest.dedupedStream(stream.toDF(), "dmid", "ts")
        val sessions = Sessionize.sessions(
          deduped.select("user_id", "ts", "event_type").as[Sessionize.In])
        val q = sessions.writeStream
          .format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .start()
        try {
          val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
          def ts(offsetSec: Long) = new Timestamp(t0 + offsetSec * 1000)
          // trigger 1: two in-gap events for user 100 + a duplicate dmid
          stream.addData(
            E2eRec(1L, 100L, ts(0), "view"),
            E2eRec(2L, 100L, ts(600), "click"),
            E2eRec(1L, 100L, ts(0), "view-dup"))
          q.processAllAvailable()
          // trigger 2: a gap-opening event (2 h later > 1 h gap) closes the
          // first session; a re-sent dmid 2 must NOT revive it
          stream.addData(
            E2eRec(3L, 100L, ts(7200), "view"),
            E2eRec(2L, 100L, ts(600), "click-dup"))
          q.processAllAvailable()
          // trigger 3: sentinel far in the future pushes the watermark past
          // the second session's close time → event-time timeout flushes it
          stream.addData(E2eRec(99L, 999L, ts(36000), "view"))
          q.processAllAvailable()
          // one more empty-ish trigger so the timeout (evaluated against the
          // watermark computed at batch START) actually fires
          stream.addData(E2eRec(98L, 999L, ts(36001), "view"))
          q.processAllAvailable()

          val landed = spark.read.parquet(outDir)
            .filter(col("user_id") === 100L)
            .select("session_start", "session_end", "n_events")
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            .sortBy(_._1)
          // session bounds are epoch-µs (Sessionize runs at µs precision)
          assert(landed.toSeq == Seq(
            (t0 * 1000, (t0 + 600000L) * 1000, 2L), // duplicates dropped: 2 events, not 4
            ((t0 + 7200000L) * 1000, (t0 + 7200000L) * 1000, 1L)), // flushed by watermark timeout
            s"landed sessions: ${landed.toSeq}")
        } finally q.stop()
      }
    }
  }
}
