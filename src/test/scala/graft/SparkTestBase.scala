package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (JVM startup is ~5 s;
  * per-suite sessions would dominate test wall time).
  */
object SparkTestBase {
  /** Lives as long as the session, so it goes at JVM exit. */
  private lazy val warehouse: Path = {
    val d = Files.createTempDirectory("graft_warehouse_")
    sys.addShutdownHook(Tables.deleteRecursively(d))
    d
  }

  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      // static conf — must be set before session creation; keeps
      // saveAsTable fixtures (BucketingSpec) out of the repo tree
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.spark
  /** Smallest driver-generated scale factor — correctness fixtures. */
  val sf = "/root/testdata/sf0.001"

  /** A fresh `prefix*` directory in the system temp dir for `body`,
    * deleted with everything under it once `body` returns or throws.
    */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally Tables.deleteRecursively(dir)
  }
}
