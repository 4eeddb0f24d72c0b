package graft.tools

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import graft.sources.{BinaryIngest, CsvIngest}

/** One-off fixture writer: re-encodes one committed episode CSV into
  * `DmSegMobileReply` wire-format segments (seg_NNN.bin under
  * refdata/segments) so
  * the driver's correctness gate can exercise the protobuf decode path
  * (q83) end-to-end. The segmentation mirrors the crawler's 6-minute
  * API paging (spider_worker.py:29-37: one segment fetch per
  * `segment_index`, 360 s of video each); within a segment, records ride
  * in (progress, id) order like the API returns them.
  *
  * `ctime` is the send_date parsed at UTC — a fixed zone so the fixture
  * bytes are reproducible regardless of the generating JVM's locale.
  * Run: sbt "runMain graft.tools.SegmentFixture"
  */
object SegmentFixture {

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else graft.RefData.spyEpisodeCsv
    val outDir = if (args.length > 1) args(1) else graft.RefData.path("segments")
    val spark = graft.GraftSession.build(graft.GraftSession.cpus)
    try {
      // 27k rows: driver-side collect is fine for a fixture tool (the
      // library-side decode path stays fully distributed). Raw string
      // columns parsed here, not via cleanDanmaku — its timestamp cast
      // is session-timezone-dependent and the fixture must be
      // byte-reproducible.
      val rows = CsvIngest.readDanmaku(spark, src)
        .select("dmid", "video_time", "text", "send_date", "uid")
        .collect()
      val records = rows.map { r =>
        val dmid = r.getString(0).replace("﻿", "").toLong
        val progressMs = math.round(r.getString(1).toDouble * 1000).toInt
        val ctime = LocalDateTime.parse(r.getString(3), fmt)
          .toEpochSecond(ZoneOffset.UTC)
        BinaryIngest.DanmakuRecord(
          id = dmid, progress = progressMs, mode = 1, fontsize = 25,
          color = 16777215L, midHash = r.getString(4), content = r.getString(2),
          ctime = ctime, weight = 0, idStr = dmid.toString)
      }
      Files.createDirectories(Paths.get(outDir))
      records.groupBy(_.progress / 360000).toSeq.sortBy(_._1).foreach {
        case (segIdx, segRecords) =>
          val ordered = segRecords.sortBy(r => (r.progress, r.id)).toSeq
          val bytes = BinaryIngest.encodeSegment(ordered)
          Files.write(Paths.get(outDir, f"seg_$segIdx%03d.bin"), bytes)
          println(s"[fixture] seg_$segIdx: ${ordered.size} records, ${bytes.length} bytes")
      }
      println(s"[fixture] wrote ${records.length} records to $outDir")
    } finally spark.stop()
  }
}
