package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.GraftbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.ops.CooccurrenceGraph

/** One benchmark run in a fresh driver JVM.
  *
  * Arguments are `key=value` pairs (see `perfbench/run.py`, which
  * launches this class on the compiled classes). The run opens the
  * workload's tables, then runs the workload's queries one at a time
  * from this thread through `SparkEntry.queries(name)(spark, sfDir)`,
  * writing each result to the `noop` sink:
  *
  *   - one cold pass;
  *   - one check pass, which writes every result as parquet for the
  *     output checks in `perfbench/checks.py` and is the first warm-up;
  *   - untimed warm-up passes until the pass wall stops falling;
  *   - timed passes until `seconds` have gone by (at least `min_timed`);
  *   - in a traced run, the `extra` queries once each, whose outputs
  *     are only checked.
  *
  * Each pass runs the queries in a fresh order drawn from the seed. In a
  * traced run the timed passes alternate between untraced and traced,
  * so the per-layer counters and the tracing overhead come from the same
  * process. Everything measured goes to `<out>/result.json`.
  */
object Main {

  final case class Exec(query: String, buildS: Double, execS: Double,
                        startMs: Long, buildEndMs: Long, endMs: Long,
                        error: Option[(String, String)])

  /** Inputs the property checks need besides the query outputs. */
  private val checkInputs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q118_kcore" -> ((s, d) => CooccurrenceGraph.edgeCounts(s, d)))

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val queries = kv("queries").split(",").toSeq
    val sfDir = kv("sf")
    val seconds = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    val minTimed = kv("min_timed").toInt
    val maxWarmup = kv("max_warmup").toInt
    val out = Paths.get(kv("out"))
    val cpus = kv("cpus")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", kv("local_dir"))
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionS = (epochNs() - kv("launch_ns").toLong) / 1e9
    kv("tables").split(",").foreach(t => Tables.load(spark, sfDir, t).inputFiles)
    val setupS = (epochNs() - kv("launch_ns").toLong) / 1e9
    System.err.println(f"[graftbench] session ready at $sessionS%.3f s, tables open at $setupS%.3f s")

    val batches = new BatchTimes
    spark.streams.addListener(batches)
    val tracer = new Tracer
    val rng = new Random(kv("seed").toLong)
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val querySpans = ArrayBuffer.empty[Span]

    def runQuery(pass: Int, q: String, sink: Option[Path]): Exec = {
      val id = s"$pass:$q"
      sc.setLocalProperty(Props.Exec, id)
      sc.setLocalProperty(Props.Phase, "build")
      val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      var t1 = t0; var m1 = m0
      val error =
        try {
          val df = SparkEntry.queries(q)(spark, sfDir)
          t1 = System.nanoTime(); m1 = System.currentTimeMillis()
          sc.setLocalProperty(Props.Phase, "exec")
          sink match {
            case None => df.write.format("noop").mode("overwrite").save()
            case Some(dir) => df.write.mode("overwrite").parquet(dir.resolve(q).toString)
          }
          None
        } catch {
          case NonFatal(e) => Some((e.getClass.getName, String.valueOf(e.getMessage)))
        }
      val t2 = System.nanoTime(); val m2 = System.currentTimeMillis()
      if (t1 == t0) { t1 = t2; m1 = m2 }
      // a query's cached or leaked blocks must not bill the next one
      spark.catalog.clearCache()
      sc.setLocalProperty(Props.Exec, null)
      sc.setLocalProperty(Props.Phase, null)
      Exec(q, (t1 - t0) / 1e9, (t2 - t1) / 1e9, m0, m1, m2, error)
    }

    def runPass(kind: String, withTrace: Boolean, sink: Option[Path] = None): Double = {
      val index = passes.size
      val order = rng.shuffle(queries)
      if (withTrace) attach(spark, tracer)
      val jvm0 = jvmCounters()
      val m0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      val execs = order.map(runQuery(index, _, sink))
      val wall = (System.nanoTime() - t0) / 1e9; val m1 = System.currentTimeMillis()
      val jvm1 = jvmCounters()
      GraftbenchBus.drain(sc)
      val layers =
        if (!withTrace) Map.empty[String, Double]
        else {
          detach(spark, tracer)
          val retained = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / Tracer.MB
          execs.foreach { e =>
            val id = s"$index:${e.query}"
            querySpans += Span(id, "", "query", e.query, id, e.startMs, e.endMs)
            querySpans += Span(s"$id/build", id, "build", e.query, id, e.startMs, e.buildEndMs)
            querySpans += Span(s"$id/exec", id, "exec", e.query, id, e.buildEndMs, e.endMs)
          }
          tracer.snapshot(m0, m1) ++ Map(
            "tables.retained_mb" -> retained,
            "ops.build_s" -> execs.map(_.buildS).sum,
            "ops.exec_s" -> execs.map(_.execS).sum)
        }
      passes += Map(
        "kind" -> kind, "index" -> index, "traced" -> withTrace, "wall_s" -> wall,
        "batches_s" -> batches.take(),
        "jvm" -> jvm0.map { case (k, v) => k -> (jvm1(k) - v) },
        "layers" -> layers,
        "execs" -> execs.map(execRecord))
      System.err.println(f"[graftbench] pass $index%d $kind%s${if (withTrace) " traced" else ""}%s " +
        f"$wall%.3f s, ${execs.count(_.error.nonEmpty)}%d failed")
      wall
    }

    val check = out.resolve("check")
    runPass("cold", withTrace = false)
    // the check pass is the first warm-up (its parquet writes make it
    // incomparable); then noop warm-ups, at least 2, until the wall falls
    // by less than 5 % from one to the next, at most `max_warmup`
    runPass("check", withTrace = false, sink = Some(check))
    val warm = ArrayBuffer(runPass("warmup", withTrace = false))
    while (warm.size < maxWarmup &&
           (warm.size < 2 || warm(warm.size - 1) < 0.95 * warm(warm.size - 2)))
      warm += runPass("warmup", withTrace = false)
    val timedStart = System.nanoTime()
    var timed = 0
    while (timed < minTimed || (System.nanoTime() - timedStart) / 1e9 < seconds) {
      runPass("timed", withTrace = traced && timed % 2 == 1)
      timed += 1
    }
    // live heap: the least in use over a few full GCs, spaced so that
    // Spark's context cleaner can drop blocks whose owners were collected
    spark.catalog.clearCache()
    val heapLiveMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Tracer.MB
    }.min

    // queries checked only in traced runs: once each, after the timed passes
    val extra = kv.get("extra").filter(_.nonEmpty).toSeq.flatMap(_.split(","))
    if (extra.nonEmpty) {
      val execs = extra.map(runQuery(passes.size, _, Some(check)))
      passes += Map("kind" -> "extra", "index" -> passes.size, "traced" -> false,
        "wall_s" -> execs.map(e => e.buildS + e.execS).sum, "batches_s" -> batches.take(),
        "jvm" -> Map.empty, "layers" -> Map.empty, "execs" -> execs.map(execRecord))
    }
    val checked = queries ++ extra
    for ((q, f) <- checkInputs if checked.contains(q))
      f(spark, sfDir).write.mode("overwrite").parquet(check.resolve(s"_input_$q").toString)
    val oracles = SparkEntry.oracleSql.filter { case (q, _) => checked.contains(q) }

    if (traced)
      Files.writeString(out.resolve("spans.json"),
        Json.render((querySpans ++ tracer.spans).map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "exec" -> s.exec, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs))), UTF_8)
    Files.writeString(out.resolve("result.json"), Json.render(Map(
      "setup_s" -> setupS, "heap_live_mb" -> heapLiveMb, "passes" -> passes,
      "oracles" -> oracles)), UTF_8)
    spark.stop()
  }

  private def execRecord(e: Exec): Map[String, Any] = Map(
    "query" -> e.query, "build_s" -> e.buildS, "exec_s" -> e.execS,
    "error" -> e.error.map { case (c, m) => Map("class" -> c, "message" -> m) }.orNull)

  private def epochNs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def attach(spark: SparkSession, t: Tracer): Unit = {
    t.reset()
    spark.sparkContext.addSparkListener(t.scheduler)
    spark.listenerManager.register(t.sql)
    spark.streams.addListener(t.streaming)
  }

  private def detach(spark: SparkSession, t: Tracer): Unit = {
    spark.sparkContext.removeSparkListener(t.scheduler)
    spark.listenerManager.unregister(t.sql)
    spark.streams.removeListener(t.streaming)
  }

  /** Cumulative JVM counters: GC time, JIT time and bytes written
    * (`wchar` of /proc/self/io, which counts every write syscall). */
  private def jvmCounters(): Map[String, Double] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val wchar =
      try Files.readAllLines(Paths.get("/proc/self/io")).asScala
        .collectFirst { case l if l.startsWith("wchar:") => l.drop(6).trim.toDouble }.getOrElse(0.0)
      catch { case NonFatal(_) => 0.0 }
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    Map("jvm.gc_s" -> gc, "jvm.jit_s" -> jit, "jvm.write_mb" -> wchar / Tracer.MB,
      "jvm.cpu_s" -> cpu)
  }
}

/** Minimal JSON writer for the run's records. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
