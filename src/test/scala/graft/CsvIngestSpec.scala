package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{BinaryIngest, CsvIngest}

/** Ingestion quirks end-to-end (SURVEY.md §2.1): BOM'd headers, quoted
  * multiline text, malformed-row dropping, filename lineage, dedup and
  * idempotent append, single-file CSV and executor-side JSON sinks, and
  * the binary-segment decode path.
  */
class CsvIngestSpec extends AnyFunSuite with SparkTestBase {

  private val header = "dmid,video_time,text,send_date,uid,source"

  private def writeEpisode(dir: Path, bvid: String, rows: Seq[String], bom: Boolean = false): Unit = {
    val body = (header +: rows).mkString("\n")
    val content = (if (bom) "﻿" else "") + body
    Files.write(dir.resolve(s"danmaku_$bvid.csv"), content.getBytes(StandardCharsets.UTF_8))
  }

  test("glob scan: BOM, quoted multiline text, lineage, malformed rows, duplicate ids") {
    withTempDir("graft_ingest_") { dir =>
      writeEpisode(dir, "BV1xx", Seq(
        """1001,12.5,"hello, with comma",2025-02-15 11:00:15,aa,api""",
        "1002,13.0,\"line one\nline two\",2025-02-15 11:00:16,bb,api",
        """1003,not_a_number,bad row,2025-02-15 11:00:17,cc,api""",
        """1001,12.5,"dup of 1001",2025-02-15 11:00:15,aa,api"""),
        bom = true)
      writeEpisode(dir, "BV2yy", Seq(
        """2001,1.0,plain,2025-02-16 09:00:00,dd,history"""))

      val raw = CsvIngest.readDanmaku(spark, dir.toString + "/danmaku_*.csv")
      val clean = CsvIngest.cleanDanmaku(raw).cache()

      // malformed video_time dropped; duplicate dmid collapsed
      assert(clean.count() == 3)
      // BOM did not corrupt the first column: dmid parsed as long
      assert(clean.filter(col("dmid") === 1001L).count() == 1)
      // embedded newline preserved inside one row
      val multiline = clean.filter(col("dmid") === 1002L).select("text").collect()(0).getString(0)
      assert(multiline == "line one\nline two")
      // lineage: bvid extracted from filename
      val byBvid = clean.groupBy("bvid").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byBvid == Map("BV1xx" -> 2L, "BV2yy" -> 1L))
      // timestamps parsed
      assert(clean.filter(col("send_date").isNull).count() == 0)
    }
  }

  test("chaos: corrupt files mid-glob degrade to dropped rows, never a failed scan") {
    // At 100 TB a crawl directory always contains a few torn objects
    // (crawler died mid-write, partial upload). The documented semantic
    // is PERMISSIVE drop-don't-fail: every row of every healthy file
    // survives, a corrupt file contributes nothing, and the job ends
    // green — one bad object must not kill a 150-file scan.
    withTempDir("graft_ingest_") { dir =>
      writeEpisode(dir, "BV1ok", Seq(
        """1001,1.5,first valid,2025-03-01 10:00:00,aa,api"""))
      // binary junk mid-directory: not CSV at all
      Files.write(dir.resolve("danmaku_BV2bad.csv"),
        Array.tabulate[Byte](512)(i => ((i * 131) ^ (i >> 3)).toByte))
      // torn quote at record start (died mid-write): the open quote
      // swallows the rest of the file into a non-numeric dmid
      Files.write(dir.resolve("danmaku_BV3torn.csv"),
        (header + "\n\"3001,2.0,died mid-quote\n")
          .getBytes(StandardCharsets.UTF_8))
      writeEpisode(dir, "BV4ok", Seq(
        """4001,4.0,last valid,2025-03-02 12:00:00,bb,api"""))

      val clean = CsvIngest.cleanDanmaku(
        CsvIngest.readDanmaku(spark, dir.toString + "/danmaku_*.csv"))
      val rows = clean.select("dmid", "bvid").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows == Map(1001L -> "BV1ok", 4001L -> "BV4ok"))
    }
  }

  test("idempotent append: re-ingesting an overlapping batch is a no-op") {
    withTempDir("graft_ingest_") { dir =>
      writeEpisode(dir, "BV1xx", Seq(
        """1,1.0,a,2025-02-15 11:00:15,u1,api""",
        """2,2.0,b,2025-02-15 11:00:16,u2,api"""))
      val first = CsvIngest.cleanDanmaku(
        CsvIngest.readDanmaku(spark, dir.toString + "/danmaku_*.csv"))
      val again = CsvIngest.appendIncremental(first, first)
      assert(again.count() == first.count())
    }
  }

  test("CSV sink round-trip: single file with header") {
    withTempDir("graft_ingest_") { dir =>
      writeEpisode(dir, "BV1xx", Seq("""1,1.5,roundtrip,2025-02-15 11:00:15,u1,api"""))
      val clean = CsvIngest.cleanDanmaku(
        CsvIngest.readDanmaku(spark, dir.toString + "/danmaku_*.csv"))
      val out = dir.resolve("csv_out").toString
      CsvIngest.writeCsvSingle(clean.select("dmid", "video_time", "text"), out)
      val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
      assert(files.length == 1, "coalesce(1) must produce a single part file")
      val back = spark.read.option("header", true).csv(out)
      assert(back.count() == 1)
      assert(back.columns.toSeq == Seq("dmid", "video_time", "text"))
    }
  }

  test("JSON sink round-trip: nested timeline written executor-side") {
    withTempDir("graft_ingest_") { dir =>
      val out = dir.resolve("json_out").toString
      val timeline = ops.EnergyPipeline.timeline(spark, sf)
      CsvIngest.writeJson(timeline, out)
      val back = spark.read.json(out)
      assert(back.count() == timeline.count())
      // nested array<struct> survived the round trip
      assert(back.schema("timeline").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    }
  }

  private def elem(id: Long, progressMs: Int, content: String, ctime: Long,
                   midHash: String) =
    BinaryIngest.DanmakuRecord(id, progressMs, mode = 1, fontsize = 25,
      color = 16777215L, midHash, content, ctime, weight = 9,
      idStr = id.toString)

  test("protobuf segment ingest: encode → binaryFile scan → decode → dedup") {
    val recs = Seq(
      elem(1L, 10949, "哇库哇库", 1700000000L, "94c89b97"),
      elem(2L, 20000, "comma, quote\" newline\n", 1700000001L, "aabbccdd"),
      elem(1L, 10949, "哇库哇库", 1700000000L, "94c89b97"))
    withTempDir("graft_ingest_") { dir =>
      Files.write(dir.resolve("seg_1.bin"), BinaryIngest.encodeSegment(recs.take(2)))
      Files.write(dir.resolve("seg_2.bin"), BinaryIngest.encodeSegment(recs.drop(2)))
      val decoded = BinaryIngest.readSegments(spark, dir.toString + "/seg_*.bin")
      val rows = decoded.collect().sortBy(_.id)
      assert(rows.length == 2, "dedup on id across segments")
      assert(rows(0) == recs.head, "full field-for-field round trip")
      assert(rows(1).midHash == "aabbccdd")
      // the crawler's CSV projection (spider_worker.py:40-46)
      val csvRow = BinaryIngest.toCrawlerRows(decoded)
        .filter(org.apache.spark.sql.functions.col("dmid") === "1").collect().head
      assert(csvRow.getDouble(1) == 10.949) // progress ms → seconds, 3 dp
    }
  }

  test("protobuf decode: hand-built wire bytes per the public spec") {
    // DmSegMobileReply{ elems: [DanmakuElem{id=1, progress=300}] }
    //   0x0a = tag(field 1, LEN), len 5
    //   0x08 0x01 = field 1 varint 1; 0x10 0xac 0x02 = field 2 varint 300
    val raw = Array(0x0a, 0x05, 0x08, 0x01, 0x10, 0xac, 0x02).map(_.toByte)
    val d = BinaryIngest.decodeSegment(raw)
    assert(d.map(r => (r.id, r.progress)) == Seq((1L, 300)))
    assert(d.head.content == "" && d.head.midHash == "", "proto3 defaults")
  }

  test("protobuf decode: unknown fields skipped by wire type") {
    // elem body: id=7 + unknown field 22 (animation, LEN "x") + unknown
    // field 24 (colorful enum, varint 60001) + unknown fixed32 field 15
    val body = Array(
      0x08, 0x07, // id = 7
      0xb2, 0x01, 0x01, 'x'.toInt, // field 22 LEN, len 1
      0xc0, 0x01, 0xe1, 0xd4, 0x03, // field 24 varint 60001
      0x7d, 0x01, 0x02, 0x03, 0x04 // field 15 fixed32
    ).map(_.toByte)
    val seg = Array[Byte](0x0a, body.length.toByte) ++ body
    assert(BinaryIngest.decodeSegment(seg).map(_.id) == Seq(7L))
  }

  test("protobuf decode: torn tail discarded, valid prefix kept") {
    val full = BinaryIngest.encodeSegment(Seq(
      elem(7L, 1000, "ok", 1L, "m"),
      elem(8L, 2000, "gone", 2L, "m")))
    val torn = full.take(full.length - 3)
    val decoded = BinaryIngest.decodeSegment(torn)
    assert(decoded.map(_.id) == Seq(7L))
    // truncation inside a varint is also torn, not an infinite loop
    assert(BinaryIngest.decodeSegment(Array[Byte](0x0a, 0x05, 0x08, 0xff.toByte)).isEmpty)
  }

  test("segment glob survives a garbage file: valid segments decode, junk yields zero rows") {
    val recs = Seq(elem(11L, 500, "ok", 1L, "m"), elem(12L, 900, "ok2", 2L, "m"))
    withTempDir("graft_ingest_") { dir =>
      Files.write(dir.resolve("seg_1.bin"), BinaryIngest.encodeSegment(recs))
      // not protobuf at all: decoder must skip/abort cleanly, not crash the job
      Files.write(dir.resolve("seg_2.bin"),
        Array.tabulate[Byte](257)(i => (i * 131 + 7).toByte))
      val out = BinaryIngest.readSegments(spark, dir.toString + "/seg_*.bin").collect()
      assert(out.map(_.id).sorted.toSeq == Seq(11L, 12L))
    }
  }

  test("q83 committed fixture: segments glob decodes to the source episode's row set") {
    // the driver hash-checks values against the source CSV (q83 oracle);
    // here: cardinality, id uniqueness, and a known row survive the
    // CSV→proto→bytes→decode round trip
    val out = BinaryIngest.segmentDecode(spark, BinaryIngest.segmentsGlob)
    val n = out.count()
    assert(n == 26929, "every source row decoded exactly once")
    assert(out.select("dmid").distinct().count() == n)
    val first = out.filter(org.apache.spark.sql.functions.col("dmid") === "1194339939652172032")
      .collect().head
    assert(first.getInt(1) == 1427 && first.getString(2) == "好耶！"
      && first.getString(3) == "57fb72ef")
  }
}
