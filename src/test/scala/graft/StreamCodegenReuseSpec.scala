package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingQueries

/** Streaming runs share the session's generated classes: the run scope
  * turns per-session artifact isolation off, so a stream's tasks load
  * generated code through the executor's default class loader, and a
  * second invocation of a query hits the codegen cache instead of
  * compiling every class again. The scope puts the isolation key back
  * as it found it.
  */
class StreamCodegenReuseSpec extends AnyFunSuite with SparkTestBase {

  private val key = StreamingQueries.isolationKey

  private def invoke(q: String, dir: String = sf): Unit =
    StreamingQueries.queries(q)(spark, dir).collect()

  test("the streaming run scope leaves the artifact isolation key as it found it") {
    assert(spark.conf.getAll.get(key).isEmpty, s"$key set before the test")
    invoke("q98_streaming_word_freq")
    assert(spark.conf.getAll.get(key).isEmpty, s"$key left set by the run scope")
    spark.conf.set(key, "true")
    try {
      invoke("q98_streaming_word_freq")
      assert(spark.conf.getAll.get(key).contains("true"))
    } finally spark.conf.unset(key)
  }

  test("a second invocation of q128, q98, q212 and q285 compiles no class") {
    // q285's bucket state is binary: a collection-typed state is decoded
    // by a projection compiled again in every micro-batch that reads a
    // bucket's earlier members, which the sf0.001 slices never do
    val sf001 = sf.replace("sf0.001", "sf0.01")
    val second = Seq("q128_streaming_restart_resume" -> sf, "q98_streaming_word_freq" -> sf,
        "q212_stream_left_outer_join" -> sf, "q285_streaming_lsh_dedup" -> sf001).map {
      case (q, dir) =>
        invoke(q, dir)
        q -> Probe.compilesDuring(invoke(q, dir))._2
    }
    info(second.map { case (q, n) => s"$q: $n" }.mkString(", "))
    val compiled = second.filter(_._2 > 0)
    assert(compiled.isEmpty, s"second invocations that compiled classes: $compiled")
  }
}
