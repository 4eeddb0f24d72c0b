package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Local properties the driver sets around each call into the program,
  * so every job can be tied to the query execution and phase that
  * started it (streaming threads inherit them from the calling thread).
  */
object Props {
  val Exec = "graftbench.exec"   // "<pass>:<query>"
  val Phase = "graftbench.phase" // "build" | "exec"
}

/** One span of the traced run: query → build/exec → job → stage. Every
  * span carries the query execution id it belongs to. Times are epoch
  * milliseconds (Spark's own event clock).
  */
final case class Span(id: String, parent: String, kind: String, name: String,
                      exec: String, startMs: Long, endMs: Long,
                      attrs: Map[String, Double] = Map.empty)

/** Micro-batch `triggerExecution` times, in seconds. Registered in every
  * run: it is how the untraced run reads batch latency. */
final class BatchTimes extends StreamingQueryListener {
  private val buf = ArrayBuffer.empty[Double]
  def take(): Seq[Double] = synchronized { val r = buf.toList; buf.clear(); r }
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val ms = Option(e.progress.durationMs.get("triggerExecution"))
    ms.foreach(v => synchronized { buf += v.longValue / 1e3 })
  }
}

/** Per-pass layer counters and spans, fed by Spark's scheduler,
  * SQL-execution and streaming listener buses. Attached only to the
  * traced passes of a traced run; read after the bus has drained.
  */
final class Tracer {
  private val c = mutable.LinkedHashMap.empty[String, Double]
  private val taskIntervals = ArrayBuffer.empty[(Long, Long)]
  private val stateLast = mutable.Map.empty[String, (Double, Double)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, (String, String, Long)]
  val spans = ArrayBuffer.empty[Span]

  private def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v

  /** Zeroes the counters at the start of a pass (spans accumulate). */
  def reset(): Unit = synchronized {
    c.clear(); taskIntervals.clear(); stateLast.clear()
    Tracer.Counters.foreach(c(_) = 0.0)
  }

  /** The pass's counters; `t0Ms`/`t1Ms` bound the pass for the
    * driver-only time (wall time in which no task was running). */
  def snapshot(t0Ms: Long, t1Ms: Long): Map[String, Double] = synchronized {
    var covered = 0L
    var end = t0Ms
    for ((s0, e0) <- taskIntervals.sortBy(_._1)) {
      val s = math.max(s0, end); val e = math.min(e0, t1Ms)
      if (e > s) { covered += e - s; end = e }
    }
    c("sched.driver_only_s") = math.max(0L, t1Ms - t0Ms - covered) / 1e3
    c("stream.state_rows") = stateLast.values.map(_._1).sum
    c("stream.state_mem_mb") = stateLast.values.map(_._2).sum / Tracer.MB
    c.toMap
  }

  val scheduler: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val exec = props.flatMap(p => Option(p.getProperty(Props.Exec))).getOrElse("")
      val phase = props.flatMap(p => Option(p.getProperty(Props.Phase))).getOrElse("")
      e.stageInfos.foreach(s => if (!stageJob.contains(s.stageId)) stageJob(s.stageId) = e.jobId)
      jobSpan(e.jobId) = (exec, phase, e.time)
      add("sched.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.get(e.jobId).foreach { case (exec, phase, t0) =>
        spans += Span(s"job${e.jobId}", s"$exec/$phase", "job", s"job ${e.jobId}", exec, t0, e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val s = e.stageInfo
      add("sched.stages", 1)
      val job = stageJob.get(s.stageId)
      val exec = job.flatMap(jobSpan.get).map(_._1).getOrElse("")
      spans += Span(s"stage${s.stageId}.${s.attemptNumber()}", job.map(j => s"job$j").getOrElse(""),
        "stage", s.name, exec, s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
        Map("tasks" -> s.numTasks.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      add("sched.tasks", 1)
      taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        add("sched.task_s", m.executorRunTime / 1e3)
        add("sched.task_cpu_s", m.executorCpuTime / 1e9)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / Tracer.MB)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / Tracer.MB)
        add("shuffle.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / Tracer.MB)
        add("sources.read_mb", m.inputMetrics.bytesRead / Tracer.MB)
        add("sources.rows", m.inputMetrics.recordsRead.toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      val bytes = b.memSize + b.diskSize
      if (b.blockId.isRDD && bytes > 0) {
        add("tables.block_writes", 1)
        add("tables.block_write_mb", bytes / Tracer.MB)
      }
    }
  }

  val sql: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(p => p.endTimeMs - p.startTimeMs).sum
      add("sql.plan_s", ms / 1e3)
      add("sql.executions", 1)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      add("stream.batches", 1)
      add("stream.add_batch_s", ms("addBatch"))
      add("stream.wal_commit_s", ms("walCommit"))
      add("stream.commit_offsets_s", ms("commitOffsets"))
      add("stream.query_planning_s", ms("queryPlanning"))
      add("stream.offsets_s", ms("latestOffset") + ms("getBatch"))
      val ops = p.stateOperators.toSeq
      add("stream.state_commit_s", ops.map(_.commitTimeMs).sum / 1e3)
      stateLast(p.runId.toString) =
        (ops.map(_.numRowsTotal).sum.toDouble, ops.map(_.memoryUsedBytes).sum.toDouble)
    }
  }
}

object Tracer {
  val MB = 1024.0 * 1024.0
  /** Every per-layer counter the listeners fill, so a pass that never
    * touches a layer still reports it (as zero). */
  val Counters: Seq[String] = Seq(
    "sql.plan_s", "sql.executions",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.task_s", "sched.task_cpu_s",
    "sched.driver_only_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.spill_mb",
    "tables.block_writes", "tables.block_write_mb",
    "sources.read_mb", "sources.rows",
    "stream.batches", "stream.add_batch_s", "stream.wal_commit_s", "stream.commit_offsets_s",
    "stream.query_planning_s", "stream.offsets_s", "stream.state_rows", "stream.state_mem_mb",
    "stream.state_commit_s")
}
