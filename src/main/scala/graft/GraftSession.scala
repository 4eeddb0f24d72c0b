package graft

import org.apache.spark.sql.SparkSession

/** The one session contract every main and the test harness run under:
  * `local[cpus]` with as many shuffle partitions as cores, the UTC
  * session zone (the events-time contract, tsu = unix_micros under UTC,
  * and the footer-bounds probes assume it), graft's SQL functions
  * ([[GraftExtensions]]) and no UI. Timings, plans and outputs are only
  * comparable across tools when they all come from this one session.
  */
object GraftSession {

  /** Cores for a main's session: `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The configured builder, for a caller that must add a static conf
    * (one that cannot change after creation) before `getOrCreate`.
    */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  def build(cpus: Int): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
