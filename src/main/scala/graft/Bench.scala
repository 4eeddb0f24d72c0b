package graft
object Bench {

  /** BASELINE.md's per-query table → name -> recorded warm seconds.
    * `findFirstMatchIn`, NOT a `case regex(...)` pattern match: Scala's
    * Regex extractor anchors to the WHOLE string, and the table rows
    * carry four columns — the r13 quiet-host run shipped with the
    * anchored form and the baseline map silently parsed EMPTY, leaving
    * the sustained-contention trigger and the end-of-run revisit inert
    * (revisited=[] while five queries sat >2x). BenchSpec pins this
    * against the real file now.
    */
  private[graft] def parseBaselineFrom(lines: Iterator[String]): Map[String, Double] = {
    val row = """\|\s*(q\w+)\s*\|\s*([0-9.]+)\s*\|""".r
    lines.flatMap(l => row.findFirstMatchIn(l)
      .map(m => m.group(1) -> m.group(2).toDouble)).toMap
  }

  /** Extract the warm per-query map from one BENCH.local*.json record
    * line. Scoped to the `"queries":{...}` object specifically — the
    * record also carries `load_1m`/`cold`/`rep_times` maps keyed by the
    * same names, and folding a 0.03 loadavg into a per-query MIN would
    * poison the historical best. Failed entries (-1) are dropped.
    */
  private[graft] def parseQueriesMap(json: String): Map[String, Double] = {
    val marker = "\"queries\":{"
    val start = json.indexOf(marker)
    if (start < 0) Map.empty
    else {
      val from = start + marker.length
      val end = json.indexOf("}", from)
      if (end < 0) Map.empty
      else {
        val pair = """"(q\w+)":(-?[0-9.]+)""".r
        pair.findAllMatchIn(json.substring(from, end))
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter(_._2 >= 0.0).toMap
      }
    }
  }

  /** Per-query MIN over every committed BENCH.local*.json record in
    * `dir` (minus `exclude`, so a spec can replay a record against the
    * history that EXCLUDES itself). The all-time warm best is the one
    * reference a sustained-contention window cannot inflate: extra
    * records only ever lower it.
    */
  private[graft] def historicalBest(dir: java.io.File,
                                    exclude: Set[String] = Set.empty)
      : Map[String, Double] = {
    val files = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("BENCH.local") &&
        f.getName.endsWith(".json") && !exclude(f.getName))
    files.toSeq.flatMap { f =>
      try {
        val src = scala.io.Source.fromFile(f)
        try parseQueriesMap(src.mkString).toSeq finally src.close()
      } catch { case _: Throwable => Seq.empty }
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
  }

  /** Cross-history sanity trigger (r14 verdict task 2). The r13
    * re-record's in-run defenses (rep agreement, loadavg, the revisit)
    * provably cannot catch a whole band measured twice inside the same
    * contention wake — r14's image rows shipped 3–8× above every quiet
    * measurement with all three defenses green. Any warm min ≥ 0.3 s
    * (the same sub-0.3 jitter exemption the adaptive trigger uses)
    * sitting more than [[histRatio]]× above its all-time committed best
    * is PROVISIONAL: printed, recorded in the sidecar, and excluded
    * from a re-recorded BASELINE.md table (tools/format_baseline.py)
    * pending an isolated re-measure.
    *
    * Threshold 2.5×, not the 2× the in-run gate uses: the reference
    * here is the MIN over every committed record, which an honestly
    * quiet new measurement still exceeds by ordinary round-to-round
    * spread. On the real committed history, 2× would flag four
    * borderline-jitter rows at 2.0–2.2× of their all-time best
    * (q06/q14/q20/q136) alongside the genuinely contaminated image
    * band at 3.3–11.6×; 2.5× separates the two populations cleanly
    * (largest honest ratio 2.2, smallest contaminated 3.3). BenchSpec
    * pins exactly this separation against the real files.
    */
  private[graft] val histRatio = 2.5
  private[graft] def provisionalRows(warm: Map[String, Double],
                                     hist: Map[String, Double]): Seq[String] =
    warm.toSeq.collect {
      case (q, t) if t >= 0.3 && hist.get(q).exists(b => t > histRatio * b) => q
    }.sorted

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = GraftSession.build(GraftSession.cpus)
    // Warmup: JIT + codegen + parquet footer caches, so the first timed
    // query measures the query, not JVM startup.
    try Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().count()
    catch { case _: Throwable => () }
    // Each query runs `reps` times; the headline number is the per-query
    // MIN (steady-state plan cost). Rep 1 is reported separately as
    // "cold": the first execution of a unique plan pays whole-stage-
    // codegen compilation + JIT, which in round 3 inflated single-shot
    // numbers up to 20x vs warm reality (q63: 26.1 s cold-reported,
    // 1.4 s warm re-measured) — the 2x-of-baseline gate must compare
    // engine cost, not JVM compilation noise.
    // Host-contention legibility: a shared-host spike can inflate a
    // wall-clock entry 20x (rounds 4 and 5 both recorded examples); the
    // 1-minute loadavg sampled as each query starts lets a reader tell
    // engine cost from host noise without a re-run.
    def loadavg1(): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.getLines().next().split(" ")(0).toDouble finally src.close()
      } catch { case _: Throwable => -1.0 }
    // The recorded per-query baseline (BASELINE.md's table) is the very
    // thing the round gate compares against, and it is sitting in the
    // working directory — read it, so the bench can notice "this warm
    // min is >2x what this query cost last time" AT MEASUREMENT TIME.
    // Round-12 blind spot: a sustained host-contention window inflated
    // BOTH reps of ~38 consecutive queries uniformly at lagging
    // loadavg ~1 — rep agreement and the loadavg trigger both passed,
    // and 287 s of pure environment went into the round record. Rep
    // disagreement detects spikes; only a baseline comparison can
    // detect sustained contention. (Quiet-host re-measure r13: 38/41
    // flagged queries landed back within 2x, code untouched.)
    def parseBaseline(): Map[String, Double] =
      try {
        val src = scala.io.Source.fromFile("BASELINE.md")
        try parseBaselineFrom(src.getLines()) finally src.close()
      } catch { case _: Throwable => Map.empty }
    val baseline = parseBaseline()
    if (baseline.isEmpty)
      System.err.println("[bench] WARNING: BASELINE.md parsed EMPTY — " +
        "the sustained-contention trigger and end-of-run revisit are inert")
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val load = loadavg1()
      def rep(): Double = {
        val t0 = System.nanoTime()
        // noop sink, NOT count(): under count() Catalyst prunes every
        // column the aggregate doesn't need — a projection-only query
        // (q44, q45, q67…) was billed for its scan skeleton while its
        // actual per-row compute was optimized away, and presentation
        // sorts vanished under the agg. The noop write materializes
        // every output column and keeps the ordering, i.e. measures
        // what a consumer of the query actually pays. (Round-12
        // change; BASELINE.md re-recorded under the same rule.)
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        // A query's leaked cache must never bill (or subsidize) a
        // later rep or a later query (r3 artifact — cross-query
        // interference in the q6x group), and a query that caches
        // internally (q95) must pay its real scan every rep.
        spark.catalog.clearCache()
        dt
      }
      val times =
        try {
          var ts = (1 to reps).map(_ => rep())
          // Adaptive re-measurement (r11 verdict task 2): on a shared
          // host a contention spike can inflate a rep several-fold,
          // and every round has burned judge time separating load
          // noise from real regression (r10 q75/q215/q221, r11
          // q34/q82/q101/q107 — ALL re-measured clean at loadavg<1).
          // When the warm reps disagree >1.5x, or the 1-minute load at
          // query start was already high, the min is not trustworthy:
          // take up to two extra reps so at least one is likely to
          // land in a quiet scheduling window. Sub-0.3 s absolutes are
          // exempt (scheduler jitter dominates; ratios are meaningless
          // there and extra reps just burn wall-clock x242 queries).
          // Third trigger (r12 verdict task 1): the warm min exceeding
          // 2x this query's recorded BASELINE.md entry is itself
          // suspicious — even when the reps agree and loadavg looks
          // idle (sustained contention defeats both other triggers).
          def overBaseline(t: Seq[Double]): Boolean =
            baseline.get(name).exists(b => t.min > 2.0 * b)
          var extra = 0
          while (extra < 2 && ts.min >= 0.3 &&
                 (ts.max / ts.min > 1.5 || load > 8.0 || overBaseline(ts))) {
            ts = ts :+ rep()
            extra += 1
          }
          ts
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e")
          spark.catalog.clearCache()
          Seq.empty[Double]
        }
      (name, times, load)
    }
    // End-of-run revisit (r12 verdict task 1): a query measured inside
    // a sustained-contention window stays >2x baseline however many
    // back-to-back extra reps it took DURING the window. Re-running it
    // once more at the END of the run gives it a second, temporally
    // separated chance to land in quiet scheduling — in r12 the band
    // was contiguous, so end-of-run was outside the window. The min
    // merges; an honest regression keeps its slow number.
    val revisited = scala.collection.mutable.ArrayBuffer.empty[String]
    val finalResults = results.map { case (name, ts, load) =>
      val over = ts.nonEmpty && ts.min >= 0.3 &&
        baseline.get(name).exists(b => ts.min > 2.0 * b)
      if (!over) (name, ts, load)
      else {
        revisited += name
        val more =
          try (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            val dt = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            dt
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name revisit FAILED: $e")
            spark.catalog.clearCache()
            Seq.empty[Double]
          }
        (name, ts ++ more, load)
      }
    }
    // Locale.ROOT: the f-interpolator is default-locale-sensitive — a
    // comma-decimal JVM locale would corrupt the emitted JSON
    def num(v: Double, fmt: String): String =
      String.format(java.util.Locale.ROOT, fmt, Double.box(v))
    def jmap(f: Seq[Double] => Double) = finalResults
      .map { case (k, ts, _) =>
        s"\"" + k + "\":" + (if (ts.isEmpty) "-1.0" else num(f(ts), "%.3f")) }
      .mkString("{", ",", "}")
    val qs = jmap(_.min)
    val cold = jmap(_.head)
    // every rep, verbatim — min/head alone can't show that rep 2 of a
    // 20x-inflated entry was normal (i.e. the spike was environmental)
    val repsDetail = finalResults
      .map { case (k, ts, _) =>
        s"\"" + k + "\":" + ts.map(num(_, "%.3f")).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val loads = finalResults
      .map { case (k, _, ld) => s"\"" + k + "\":" + num(ld, "%.2f") }
      .mkString("{", ",", "}")
    val total = finalResults.collect { case (_, ts, _) if ts.nonEmpty => ts.min }.sum
    // failures must not read as a speedup: excluded queries (-1 in the
    // per-query map) are surfaced as an explicit count in the headline
    val failed = finalResults.count(_._2.isEmpty)
    // Key order matters for the round record: the driver tail-captures
    // the log, so whatever prints FIRST is what truncation drops (round
    // 4 lost the warm map and total; round 7's capture cut the warm map
    // itself to its last 57 entries). Two defenses: the headline fields
    // print LAST, and stdout carries ONLY them — the diagnostics
    // (per-query loadavg, every rep, cold times) live in the
    // BENCH.local.json sidecar, so the stdout line is ~3x shorter and
    // the full per-query map survives any plausible capture window.
    val head = s""""metric":"total","unit":"sec","reps":$reps,"sf":"$sfDir""""
    val revisitedJson = revisited.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Cross-history provisional flag (r14 verdict task 2; rationale at
    // [[provisionalRows]]): computed against the committed records
    // BEFORE this run writes its own, printed to stderr, carried in
    // the sidecar for format_baseline.py's re-record exclusion.
    val warmMap = finalResults.collect {
      case (k, ts, _) if ts.nonEmpty => k -> ts.min }.toMap
    val provisional =
      provisionalRows(warmMap, historicalBest(new java.io.File(".")))
    if (provisional.nonEmpty)
      System.err.println("[bench] PROVISIONAL (>%.1fx all-time best, re-measure isolated before committing to BASELINE.md): %s"
        .format(histRatio, provisional.mkString(", ")))
    val provJson = provisional.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{$head,"load_1m":$loads,"rep_times":$repsDetail,"cold":$cold,"revisited":$revisitedJson,"provisional":$provJson,"queries":$qs,"failed":$failed,"value":$total}"""
    // Versioned evidence (r12 verdict task 2): BENCH.local.json is a
    // fixed name, so each run OVERWRITES the previous record — the r12
    // contended run destroyed the per-rep arrays of the very baseline
    // the gate compares against. Every run now also writes an
    // immutable per-run file; a re-record can never eat its own
    // provenance again. Tag from SPARK_GRAFT_BENCH_TAG or a timestamp.
    val tag = sys.env.getOrElse("SPARK_GRAFT_BENCH_TAG",
      new java.text.SimpleDateFormat("yyyyMMdd-HHmmss")
        .format(new java.util.Date()))
    Seq("BENCH.local.json", s"BENCH.local.$tag.json").foreach { f =>
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(f),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"[bench] sidecar write failed ($f): $e") }
    }
    println(s"""{$head,"queries":$qs,"failed":$failed,"value":$total}""")
    // The round record tail-captures the LAST ~2000 chars of this log;
    // the full per-query line above is ~9 KB, so its head (and
    // therefore JSON parseability) never survives the capture — every
    // committed BENCH_rNN.json through r14 carries `"parsed": null`
    // (r14 verdict task 7). The LAST line is therefore a compact
    // summary guaranteed to fit inside any plausible capture window,
    // carrying the headline numbers plus the canonical sidecar
    // filename where the complete per-query record lives.
    val summary = s"""{$head,"n_queries":${finalResults.size},"revisited":$revisitedJson,"provisional":$provJson,"queries_file":"BENCH.local.$tag.json","failed":$failed,"value":$total}"""
    // Fixed-name summary sidecar (r15 verdict task 5, closing r14 task
    // 7): if the driver's tail-capture parser still can't read the
    // stdout line (an sbt log prefix is the likely breaker), the round
    // artifact can cite this file directly — same content as the final
    // stdout line, written before it so a crash in println can't lose
    // it.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH.summary.json"),
      (summary + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed (BENCH.summary.json): $e") }
    // Final line on BARE stdout, after flushing whatever logger wraps
    // the managed output stream — the driver parses the last line.
    System.out.flush(); Console.out.flush()
    println(summary)
    System.out.flush()
    spark.stop()
  }
}
