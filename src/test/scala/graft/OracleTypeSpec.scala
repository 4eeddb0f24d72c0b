package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process.{Process, ProcessLogger}

/** Every oracle's result types must survive the driver's
  * DuckDB → pandas → hash pipeline losslessly. Round 5's only red cell
  * was this class of bug: an uncast integer `sum()` DESCRIBEs as
  * HUGEINT, pandas rehydrates it as float64, and equal values hash
  * differently from Spark's longs. The audit DESCRIBEs (plans, never
  * executes) each registered oracle in DuckDB via the committed
  * tools/check_oracle_types.py and fails on any HUGEINT / UHUGEINT /
  * DECIMAL result column, so no future oracle can regress silently.
  *
  * Needs the driver-side python3+duckdb (present in this container);
  * cancels, not fails, where that interpreter is absent.
  */
class OracleTypeSpec extends AnyFunSuite {

  private def run(cmd: Seq[String]): (Int, String) = {
    val out = new StringBuilder
    val logger = ProcessLogger(l => out.append(l).append('\n'),
      l => out.append(l).append('\n'))
    (Process(cmd).!(logger), out.toString)
  }

  test("no oracle result column DESCRIBEs to a pandas-lossy DuckDB type") {
    assume(run(Seq("python3", "-c", "import duckdb"))._1 == 0,
      "python3+duckdb unavailable (audit runs in the driver container)")
    // an oracle whose SQL names an absent reference path is withheld;
    // any other "describe failed" is still a trap
    val withheld = RefData.absent(RefData.oracleReads)
    if (withheld.nonEmpty) info(RefDataSpec.leftOutNote(withheld))
    val json = java.nio.file.Files.createTempFile("oracle_sql", ".json")
    try {
      java.nio.file.Files.writeString(json,
        Verify.oracleSqlJson(SparkEntry.oracleSql -- withheld.keys))
      val (code, out) = run(Seq("python3", "tools/check_oracle_types.py",
        "/root/testdata/sf0.001", json.toString))
      assert(code == 0, s"\n$out")
    } finally java.nio.file.Files.delete(json)
  }
}
