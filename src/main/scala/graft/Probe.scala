package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev measurement tool: where a registered query's time goes. For each
  * rep and query it prints one `[phase]` line and one `[stage]` line per
  * stage the run executed.
  *
  * Phases: build (the query's DataFrame construction, including any
  * eager work its builder does), optimize (analysis + logical
  * optimization), plan (physical planning) and exec (the noop write
  * Bench times, which re-plans from the analyzed plan), plus the wall
  * around all four. `sql` counts the SQL executions the run started:
  * the noop write is one, and a builder's eager work (a checkpoint, an
  * `isEmpty`) adds its own. `jobs` counts the jobs the run's driver
  * thread started. Stages: tasks, wall, executor CPU, input
  * bytes, shuffle read and write bytes, disk spill. Rep 1 pays codegen
  * and JIT.
  * `procs` counts the operating-system processes the JVM started during
  * the run (JFR `jdk.ProcessStart`): Hadoop's local filesystem shells out
  * to `readlink`/`chmod` when libhadoop is absent, a few ms each.
  * `compiles` counts the Janino compiles during the run
  * ([[compilesDuring]]): a warm rep reads 0 when every generated class
  * hits the codegen cache.
  * Stream micro-batches run under their stream's own job group, so a
  * streaming query lists only the stages its driver thread ran.
  *
  * Given `<planDir> <suffix>`, each query's final adaptive plan
  * (`explain("formatted")` after one more, untimed, execution) is written
  * to `<planDir>/<query>_<suffix>.txt`, the layout of `plans/r17`.
  *
  * Usage: runMain graft.Probe <sfDir> <reps> q... [<planDir> <suffix>]
  */
object Probe {

  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
      cpuNs: Long, inputBytes: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long)

  final case class Run(query: String, rep: Int, buildNs: Long,
      optimizeNs: Long, planNs: Long, execNs: Long, wallNs: Long,
      sqlExecutions: Int, jobs: Int, procs: Long, compiles: Long,
      stages: Seq[Stage])

  /** `body`'s result and the number of processes the JVM started while it
    * ran, from a JFR recording of `jdk.ProcessStart` events alone.
    */
  def processStarts[A](body: => A): (A, Long) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val a = try body finally rec.stop()
      val f = Files.createTempFile("graft_procs_", ".jfr")
      try {
        rec.dump(f)
        (a, RecordingFile.readAllEvents(f).size.toLong)
      } finally Files.delete(f)
    } finally rec.close()
  }

  /** `body`'s result and the number of Janino compiles that ended while
    * it ran, from `CodegenMetrics`' compilation-time histogram. The count
    * is process-wide, so it covers the tasks and stream threads `body`
    * waits for; a codegen-cache hit compiles nothing.
    */
  def compilesDuring[A](body: => A): (A, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val a = body
    (a, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** Collects the jobs, stages and SQL executions of one job group. */
  private final class GroupListener(group: String) extends SparkListener {
    private val stageIds = mutable.Set.empty[Int]
    private var executions = 0
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private val started = mutable.Set.empty[Int]
    private val ended = mutable.Set.empty[Int]

    private def inGroup(props: java.util.Properties): Boolean =
      props != null && props.getProperty("spark.jobGroup.id") == group

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (inGroup(e.properties)) started += e.jobId
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if x.jobGroupId.contains(group) =>
        synchronized(executions += 1)
      case _ =>
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      ended += e.jobId
      notifyAll()
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      if (inGroup(e.properties)) stageIds += e.stageInfo.stageId
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      if (stageIds(si.stageId)) {
        val m = si.taskMetrics
        stages += Stage(si.stageId, si.name, si.numTasks,
          (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L),
          m.executorCpuTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled)
      }
    }

    /** Blocks until this listener has seen every job of the group end, then
      * returns the group's SQL execution count, job count and stages. The
      * listener bus delivers a job's stage events, and the start of the
      * execution that ran it, before its end, so none is dropped or left
      * for the next run. Job ids come from the status tracker and from this
      * listener's own job starts, whichever of the two queues is ahead.
      */
    def drain(sc: SparkContext): (Int, Int, Seq[Stage]) = synchronized {
      def jobs = sc.statusTracker.getJobIdsForGroup(group).toSet ++ started
      while (!jobs.subsetOf(ended)) wait()
      (executions, jobs.size, stages.sortBy(_.id).toSeq)
    }
  }

  /** One rep of `name` under its own job group, phase-timed, with the
    * stages its jobs ran. Returns the query's DataFrame too, so a caller
    * can read its plan.
    */
  def run(spark: SparkSession, sfDir: String, name: String,
          rep: Int): (Run, DataFrame) = {
    val sc = spark.sparkContext
    val group = s"graft-probe-$name-rep$rep-${System.nanoTime()}"
    val listener = new GroupListener(group)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, s"probe $name rep $rep")
      def timed[A](body: => A): (Long, A) = {
        val t0 = System.nanoTime(); val a = body
        (System.nanoTime() - t0, a)
      }
      val (((build, optimize, plan, exec, wall, df), procs), compiles) =
        compilesDuring(processStarts {
          val start = System.nanoTime()
          val (build, df) = timed(SparkEntry.queries(name)(spark, sfDir))
          val (optimize, _) = timed(df.queryExecution.optimizedPlan)
          val (plan, _) = timed(df.queryExecution.executedPlan)
          val (exec, _) = timed(df.write.format("noop").mode("overwrite").save())
          (build, optimize, plan, exec, System.nanoTime() - start, df)
        })
      val (executions, jobs, stages) = listener.drain(sc)
      (Run(name, rep, build, optimize, plan, exec, wall, executions, jobs,
        procs, compiles, stages), df)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  def lines(r: Run): Seq[String] = {
    def s(ns: Long) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(ns / 1e9))
    val phase = s"[phase] rep${r.rep} ${r.query} build=${s(r.buildNs)} " +
      s"optimize=${s(r.optimizeNs)} plan=${s(r.planNs)} exec=${s(r.execNs)} " +
      s"wall=${s(r.wallNs)} s sql=${r.sqlExecutions} jobs=${r.jobs} procs=${r.procs} " +
      s"compiles=${r.compiles}"
    phase +: r.stages.map(st =>
      s"[stage] rep${r.rep} ${r.query} id=${st.id} tasks=${st.tasks} " +
        s"wall=${s(st.wallMs * 1000000L)} cpu=${s(st.cpuNs)} in=${st.inputBytes} " +
        s"shuffleRead=${st.shuffleReadBytes} shuffleWrite=${st.shuffleWriteBytes} " +
        s"spill=${st.spillBytes} ${st.name.take(60)}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val (names, planArgs) = args.drop(2).toSeq.span(SparkEntry.queries.contains)
    require(planArgs.isEmpty || planArgs.length == 2,
      s"not registered queries, nor <planDir> <suffix>: ${planArgs.mkString(" ")}")
    val spark = GraftSession.build(GraftSession.cpus)
    for (rep <- 1 to reps; name <- names) {
      try {
        val (r, df) = run(spark, sfDir, name, rep)
        lines(r).foreach(println)
        if (rep == reps && planArgs.nonEmpty) {
          // the noop write plans its own copy; execute this frame's plan
          // so its adaptive plan is the final one
          df.queryExecution.toRdd.foreach(_ => ())
          val dir = Paths.get(planArgs.head)
          Files.createDirectories(dir)
          Files.write(dir.resolve(s"${name}_${planArgs(1)}.txt"),
            df.queryExecution.explainString(FormattedMode)
              .getBytes(StandardCharsets.UTF_8))
        }
      } catch { case e: Throwable =>
        println(s"[probe] rep$rep $name FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
