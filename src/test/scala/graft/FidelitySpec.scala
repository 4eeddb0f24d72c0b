package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.RefLexicons
import graft.ops.Fidelity
import graft.sources.CsvIngest

/** Pins the engine against the reference's OWN committed data and golden
  * outputs. Exact golden equality is unreachable from the committed
  * inputs — the goldens were generated from different crawl snapshots
  * (FIDELITY.md measures this: fanRen counts land at 0.67-0.97× golden,
  * spy counts at 3.5-6.6×, and 8 of the energy golden's 37 episodes have
  * no committed CSV at all). What IS implementation-determined, and
  * pinned here:
  *
  *   - entity sets and their subset/superset direction vs the goldens,
  *   - edge-set containment and weight direction,
  *   - per-episode bucket-set equality and highlight-flag agreement for
  *     the energy job,
  *   - exact VALUE parity engine↔oracle is the driver gate's job
  *     (q90-q94 hash checks, every round).
  *
  * Inputs here are the real reference corpora (70 MB spy / 418 MB
  * fanRen CSV) — this suite is the heaviest in the repo by design; it
  * is the "point it at the real data" evidence round 2 lacked.
  */
class FidelitySpec extends AnyFunSuite with SparkTestBase {

  private def golden(name: String) = s"${RefData.goldenDir}/$name"

  private def goldenCsv(name: String) =
    spark.read.option("header", true).option("inferSchema", true)
      .csv(golden(name))

  /** Cancels the test, naming the path, unless each reference input it
    * reads is present: these tests compare against the reference's own
    * corpus and goldens, which nothing in the repo stands in for.
    */
  private def needs(paths: String*): Unit =
    paths.foreach(p => assume(RefData.present(p), RefData.notMounted(p)))

  test("fanRen relation graph: entity/edge sets and crawl-drift direction vs golden") {
    needs(RefData.fanRenGlob, golden("fanRen_result_nodes.csv"),
      golden("fanRen_result_edges.csv"))
    val rows = Fidelity.entityRows(spark, RefData.fanRenGlob, RefLexicons.fanRen)
      .persist()
    try {
      val nodes = Fidelity.nodesFrom(rows).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val golden = goldenCsv("fanRen_result_nodes.csv").collect()
        .map(r => r.getString(0) -> r.getInt(1).toLong).toMap
      assert(nodes.keySet == golden.keySet,
        s"entity sets differ: ${nodes.keySet.diff(golden.keySet)} / ${golden.keySet.diff(nodes.keySet)}")
      // committed fanRen data is a subset of the golden crawl: every
      // engine count must be <= golden, within the measured drift band.
      golden.foreach { case (id, gSize) =>
        val eSize = nodes(id)
        assert(eSize <= gSize, s"$id: engine $eSize > golden $gSize")
        assert(eSize >= (gSize * 0.6).toLong, s"$id: engine $eSize below drift band of golden $gSize")
      }
      // top-1 dominance survives the drift
      val top = nodes.maxBy(_._2)
      assert(top._1 == "韩立" && top._1 == golden.maxBy(_._2)._1)
      assert(top._2 > 8 * nodes.removed(top._1).values.max)

      val edges = Fidelity.edgesFrom(rows).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val gEdges = goldenCsv("fanRen_result_edges.csv").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2).toLong).toMap
      val missing = edges.keySet.diff(gEdges.keySet)
      assert(missing.isEmpty, s"engine edges not in golden: $missing")
      edges.foreach { case (k, w) =>
        assert(w <= gEdges(k), s"$k: engine weight $w > golden ${gEdges(k)}")
      }
      // near-complete coverage: the committed subset still observes
      // almost every golden pair (measured 98/99)
      assert(edges.size >= gEdges.size - 2)
    } finally rows.unpersist()
  }

  test("spy relation graph: same sets, superset counts (golden predates the committed crawl)") {
    needs(RefData.spyGlob, golden("spy_family_result_nodes.csv"),
      golden("spy_family_result_edges.csv"))
    val rows = Fidelity.entityRows(spark, RefData.spyGlob, RefLexicons.spyFamily)
      .persist()
    try {
      val nodes = Fidelity.nodesFrom(rows).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val golden = goldenCsv("spy_family_result_nodes.csv").collect()
        .map(r => r.getString(0) -> r.getInt(1).toLong).toMap
      assert(nodes.keySet == golden.keySet)
      golden.foreach { case (id, gSize) =>
        assert(nodes(id) >= gSize, s"$id: engine ${nodes(id)} < golden $gSize")
      }
      val edges = Fidelity.edgesFrom(rows).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val gEdges = goldenCsv("spy_family_result_edges.csv").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(edges == gEdges) // the complete K7 both sides (21 pairs)
    } finally rows.unpersist()
  }

  test("episode energy: bucket sets identical, highlight flags >=98% vs golden, 29/37 episodes") {
    needs(RefData.spyGlob, RefData.energyGolden)
    val engine = Fidelity.episodeEnergy(spark, RefData.spyGlob)
      .select("bvid", "time_bucket", "energy", "is_high").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getDouble(2), r.getBoolean(3)))
      .toMap
    val golden = spark.read.option("multiLine", true)
      .json(RefData.energyGolden)
      .select(col("bvid"), explode(col("timeline")).as("t"))
      .select(col("bvid"), col("t.time").cast("int").as("time"),
        col("t.value").as("value"), col("t.is_high").as("is_high"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getDouble(2), r.getBoolean(3)))
      .toMap
    val engineBvids = engine.keySet.map(_._1)
    assert(engineBvids.size == 29)
    val common = golden.filter { case ((bv, _), _) => engineBvids(bv) }
    assert(common.size == 4182)
    // bucket sets: identical per episode — no missing, no extra
    assert(common.keySet == engine.keySet)
    // highlight flags survive crawl drift (relative, within-episode)
    val agree = common.count { case (k, (_, gHigh)) => engine(k)._2 == gHigh }
    assert(agree.toDouble / common.size >= 0.98,
      s"is_high agreement $agree/${common.size}")
    // absolute values differ only by the crawl-size factor
    common.foreach { case (k, (gVal, _)) =>
      if (gVal > 0) {
        val ratio = gVal / engine(k)._1
        assert(ratio > 0.9 && ratio < 1.4, s"$k: golden $gVal vs engine ${engine(k)._1}")
      }
    }
  }

  test("one-pass relation graph (C1): nodes+edges from ONE corpus scan, outputs identical to two-pass") {
    needs(RefData.spyGlob)
    spark.catalog.clearCache()
    // total task input bytes across the whole build: a two-pass build
    // reads the corpus files twice (~2x corpusBytes); the one-pass build
    // reads them once plus a cache re-read of the tiny extracted arrays.
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        bytesRead.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    val corpusBytes = new java.io.File(RefData.spyGlob).getParentFile.listFiles()
      .filter(_.getName.endsWith(".csv")).map(_.length()).sum
    spark.sparkContext.addSparkListener(listener)
    try {
      val (nodes, edges, rows) = Fidelity.relationGraph(spark, RefData.spyGlob, RefLexicons.spyFamily)
      try {
        // both legs are served from the cached extraction, not a re-scan
        assert(nodes.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
        assert(edges.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
        val n = nodes.collect().toSeq
        val e = edges.collect().toSeq
        // listener events post asynchronously: wait until the counter
        // stabilizes (two identical reads 300 ms apart, 10 s budget)
        var prev = -1L; var waited = 0
        while (bytesRead.get != prev && waited < 33) {
          prev = bytesRead.get; Thread.sleep(300); waited += 1
        }
        assert(bytesRead.get < (corpusBytes * 1.5).toLong,
          s"one-pass graph read ${bytesRead.get} bytes vs corpus $corpusBytes — looks like a double scan")
        // identical to the independent two-pass builders
        assert(n == Fidelity.relationNodes(spark, RefData.spyGlob, RefLexicons.spyFamily).collect().toSeq)
        assert(e == Fidelity.relationEdges(spark, RefData.spyGlob, RefLexicons.spyFamily).collect().toSeq)
      } finally rows.unpersist()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("combined graph query (q95) = nodes + edges under a kind discriminator") {
    needs(RefData.spyGlob)
    spark.catalog.clearCache()
    val combined = Fidelity.relationGraphCombined(spark, RefData.spyGlob, RefLexicons.spyFamily)
    try {
      val byKind = combined.groupBy("kind").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val rows = Fidelity.entityRows(spark, RefData.spyGlob, RefLexicons.spyFamily)
      assert(byKind("node") == Fidelity.nodesFrom(rows).count())
      assert(byKind("edge") == Fidelity.edgesFrom(rows).count())
      // node rows carry a null Target; edge rows never do
      assert(combined.filter(col("kind") === "node" && col("Target").isNotNull).isEmpty)
      assert(combined.filter(col("kind") === "edge" && col("Target").isNull).isEmpty)
    } finally spark.catalog.clearCache()
  }

  test("C3 emptiness guard: a lexicon that misses the corpus short-circuits both graph outputs") {
    needs(RefData.spyEpisodeCsv)
    spark.catalog.clearCache()
    val missLex = Seq("不存在" -> Seq("zzz_no_such_alias_zzz"))
    // single episode file: the guard's isEmpty probe must scan the whole
    // extraction when nothing matches, so keep the corpus small here
    val oneFile = RefData.spyEpisodeCsv
    val (nodes, edges, rows) = Fidelity.relationGraph(spark, oneFile, missLex)
    try {
      // short-circuit: both outputs are empty LOCAL relations (limit 0
      // collapses to an empty plan — no aggregation jobs were scheduled)
      assert(nodes.isEmpty && edges.isEmpty)
      assert(nodes.queryExecution.optimizedPlan.toString.contains("LocalRelation")
        || nodes.queryExecution.executedPlan.toString.contains("LocalTableScan"))
      assert(nodes.columns.toSeq == Seq("Id", "Size"))
      assert(edges.columns.toSeq == Seq("Source", "Target", "Weight"))
    } finally rows.unpersist()
  }

  test("q96 word-freq (preprocess fidelity): exact stopword/len/numeric filters over segmented text") {
    val s = spark
    import s.implicits._
    // 哈哈哈 survives twice; 的/了 are stopwords, 123 and 7 are numeric,
    // x and the single CJK chars fail len>1 — the reference's exact
    // post-filters (preprocess_high_energy.py:53-58)
    val df = Seq(Some("哈哈哈 哈哈哈"), Some("的 了 123 7 x"), None)
      .toDF("text")
    val out = Fidelity.wordFreqFrom(df).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("哈哈哈", 2L)))
  }

  test("q96 over a real episode: 500 rows, monotone ranking, filters hold on corpus output") {
    needs(RefData.spyEpisodeCsv)
    val out = Fidelity
      .wordFrequency(spark, RefData.spyEpisodeCsv)
      .collect()
    assert(out.length == 500)
    val freqs = out.map(_.getLong(1))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b })
    val numericClass =
      "^[0-9０-９〇一二三四五六七八九十百千万亿兆零壹贰叁肆伍陆柒捌玖拾佰仟廿卅]+$"
    assert(out.map(_.getString(0)).forall(w =>
      w.length > 1 && !w.matches(numericClass) && !RefLexicons.segStopwords.contains(w)))
  }

  test("q96 top-500 equals an independent plain-Scala segment+count " +
      "replica over the full SPY corpus (r13 ADVICE: golden cross-check)") {
    needs(RefData.spyGlob)
    // The committed FidelityGolden is generated by the engine itself,
    // so the driver's hash gate alone only pins regressions. This
    // replica closes the loop: golden == engine (driver gate) AND
    // engine == replica (here) ⇒ the golden is certified by an
    // implementation that shares only DATA (dictionary, stopwords,
    // numeric class) with the engine, not code. Independent choices:
    // CJK membership by explicit code range (not UnicodeBlock), the
    // max-match searched ascending keeping the longest (not descending
    // first-hit), counting via a plain HashMap, and the tie order
    // compared in UTF-8 byte order (what Spark's UTF8String ordering
    // is) rather than String.compareTo. Ingest (readDanmaku) is shared:
    // the CSV surface is oracle-proven by q90–q97; what this replica
    // certifies is everything AFTER the scan — segmentation, filters,
    // counting, and the (freq DESC, word ASC) top-500 total order.
    val texts = graft.sources.CsvIngest
      .readDanmaku(spark, RefData.spyGlob)
      .select("text").collect().flatMap(r => Option(r.getString(0)))
    val dict = graft.expr.TextFunctions.cjkDictionary
    val maxLen = dict.iterator.map(_.length).max
    def isCjk(c: Char): Boolean = c >= 0x4E00 && c <= 0x9FFF
    def segment(t: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < t.length) {
        val c = t.charAt(i)
        if (Character.isWhitespace(c)) i += 1
        else if (isCjk(c)) {
          var best = 1
          var l = 2
          while (l <= math.min(maxLen, t.length - i)) {
            if (dict.contains(t.substring(i, i + l))) best = l
            l += 1
          }
          out += t.substring(i, i + best)
          i += best
        } else {
          var j = i
          while (j < t.length && !Character.isWhitespace(t.charAt(j))
            && !isCjk(t.charAt(j))) j += 1
          out += t.substring(i, j)
          i = j
        }
      }
      out.toSeq
    }
    val numericClass =
      "^[0-9０-９〇一二三四五六七八九十百千万亿兆零壹贰叁肆伍陆柒捌玖拾佰仟廿卅]+$"
    val counts = new java.util.HashMap[String, Long]()
    texts.foreach(t => segment(t).foreach { w =>
      if (w.length > 1 && !RefLexicons.segStopwords.contains(w)
        && !w.matches(numericClass))
        counts.merge(w, 1L, (a, b) => a + b)
    })
    def utf8Lt(a: String, b: String): Boolean = {
      val (ba, bb) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      var i = 0
      while (i < ba.length && i < bb.length) {
        val d = (ba(i) & 0xff) - (bb(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      ba.length < bb.length
    }
    val replica = {
      import scala.jdk.CollectionConverters._
      counts.asScala.toSeq
        .sortWith((x, y) =>
          if (x._2 != y._2) x._2 > y._2 else utf8Lt(x._1, y._1))
        .take(500)
    }
    val got = Fidelity.wordFrequency(spark, RefData.spyGlob).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == replica,
      s"first diff: ${got.zip(replica).indexWhere(p => p._1 != p._2)}")
  }

  test("q225 latin word-freq: maximal [A-Za-z]+ runs, lowercased, " +
    "len>=2, CJK and digits never tokenized") {
    val s = spark
    import s.implicits._
    // "GJ" twice across case variants; "abc" split out of digit/CJK
    // context; single letters dropped; pure CJK rows contribute nothing
    val df = Seq(Some("GJ gj!"), Some("abc123abc你好abc"), Some("x 的 了"),
      Some("哈哈哈"), None).toDF("text")
    val out = Fidelity.latinWordFreqFrom(df).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("abc", 3L), ("gj", 2L)))
  }

  test("q225 over a real episode: nonempty, monotone, all-lowercase-latin") {
    needs(RefData.spyEpisodeCsv)
    val out = Fidelity
      .latinWordFreq(spark, RefData.spyEpisodeCsv)
      .collect()
    assert(out.nonEmpty, "the corpus carries latin tokens (GJ, SPY, ...)")
    val freqs = out.map(_.getLong(1))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b })
    assert(out.map(_.getString(0)).forall(w =>
      w.length >= 2 && w.matches("^[a-z]+$")))
  }

  test("q97 exact-dup texts on the real corpus: thresholded, monotone, genuinely duplicated") {
    needs(RefData.spyGlob)
    val out = Fidelity.dupTexts(spark, RefData.spyGlob).collect()
    assert(out.nonEmpty, "the corpus has copypasta; none found")
    val counts = out.map(_.getLong(1))
    assert(counts.forall(_ >= 50L))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    // spot-check: re-counting the top duplicate independently agrees
    val top = out.head.getString(0)
    val n = CsvIngest.readDanmaku(spark, RefData.spyGlob)
      .filter(col("text") === top).count()
    assert(n == out.head.getLong(1))
  }

  test("energy timeline egress matches the golden JSON shape") {
    needs(RefData.spyGlob)
    val tl = Fidelity.energyTimeline(spark, RefData.spyGlob)
    assert(tl.columns.toSeq == Seq("bvid", "timeline"))
    val one = tl.filter(col("bvid") === "BV14G4y157E5").collect().head
    val entries = one.getSeq[org.apache.spark.sql.Row](1)
    assert(entries.size == 146)
    // ordered by time, struct fields named as the golden's keys
    assert(entries.map(_.getInt(0)) == entries.map(_.getInt(0)).sorted)
    assert(entries.head.schema.fieldNames.toSeq == Seq("time", "value", "high"))
  }

  test("r17 Aho-Corasick entity kernel == the contains/when chain, " +
       "on the real corpus and on adversarial fixtures") {
    needs(RefData.fanRenGlob)
    // real corpus: every row of one full episode, kernel vs chain
    val ep = CsvIngest.readDanmaku(spark, RefData.fanRenGlob)
      .select(col("text"))
      .limit(60000)
    val both = ep.select(
      Fidelity.entityArray(col("text"), RefLexicons.fanRen).as("k"),
      Fidelity.entityArrayChain(col("text"), RefLexicons.fanRen).as("c"))
    assert(both.filter(not(col("k") <=> col("c"))).count() == 0)
    // adversarial fixtures: overlap, alias-inside-alias, shared alias
    // bytes, repeats, null, empty, non-matching CJK
    val lex = Seq(
      "甲" -> Seq("韩立", "立大"),
      "乙" -> Seq("大头", "头"),
      "丙" -> Seq("韩"),
      "丁" -> Seq("zz", "韩立大头"))
    import spark.implicits._
    val rows = Seq("韩立大头", "大头韩", "韩x立", "立大立大", "", "abczzde",
      "头头头", "nothing here", null).toDF("text")
    val out = rows.select(
      Fidelity.entityArray(col("text"), lex).as("k"),
      Fidelity.entityArrayChain(col("text"), lex).as("c"))
    assert(out.filter(not(col("k") <=> col("c"))).count() == 0)
    // null text → EMPTY array (array_compact semantics), never null
    val nullRow = rows.filter(col("text").isNull)
      .select(Fidelity.entityArray(col("text"), lex).as("k")).collect().head
    assert(!nullRow.isNullAt(0) && nullRow.getSeq[String](0).isEmpty)
  }
}
