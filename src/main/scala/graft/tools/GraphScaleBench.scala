package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{CooccurrenceGraph, GraphOps}

/** Dev harness (round-10 VERDICT item 8): measure how the graph
  * family's ITERATIVE kernels scale when their input edge frame grows
  * 10×, turning SCALE.md's "corpus-scale work is only the upstream
  * edge aggregation; the fixpoint runs on the aggregated graph" from
  * an argument into a measurement.
  *
  * Method: build the corpus-derived aggregated edge frame once
  * (checkpointed — its cost is reported separately and NOT billed to
  * the kernels), then for each replication factor K construct K
  * DISJOINT salted replicas (node renamed `name#k`) and time each
  * kernel on the scaled graph. Disjoint replicas grow |V| and |E|
  * exactly K× while preserving per-component structure, so a kernel
  * whose work is edge-linear should scale ≈ K× in task time (less in
  * wall when K=1 under-fills the 32 cores), and any hidden
  * corpus-proportional or super-linear step shows up as ≫ K×.
  *
  * The corpus-derived entity graph aggregates to only dozens of edges
  * (lexicon-bounded — that IS the scale claim for q33/q35/q75/q89), so
  * replication mostly measures fixed scheduling cost. The synthetic
  * mode is the real stress: `synth:E1,E2,...` builds deterministic
  * hash-random graphs with E edges over E/2 nodes (supercritical — one
  * giant component, the worst case for the CC/Borůvka fixpoints) and
  * times the distributed kernels where the per-round joins genuinely
  * move data. The one-task kernels (louvain, lpa) run in K mode only.
  *
  * Usage: runMain graft.tools.GraphScaleBench [sfDir] [K1,K2,... |
  * synth:E1,E2,...] (defaults: /root/testdata/sf0.1 and 1,10).
  * Results land in SCALE.md.
  */
object GraphScaleBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spec = args.lift(1).getOrElse("1,10")
    val spark = graft.GraftSession.build(graft.GraftSession.cpus)

    def timed(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[gscale] $label ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }

    def kernels(tag: String, edges: DataFrame): Unit = {
      timed(s"$tag cc_star")(
        GraphOps.ccStarCore(edges.select(col("src").as("a"),
          col("dst").as("b"))).count())
      timed(s"$tag boruvka_msf")(
        GraphOps.boruvkaCore(spark, edges.select(
          least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"),
          col("weight"))).count())
      timed(s"$tag kcore")(GraphOps.kCoreNumbers(edges).count())
    }

    if (spec.startsWith("synth:")) {
      for (e <- spec.stripPrefix("synth:").split(",").map(_.trim.toLong)) {
        val v = math.max(e / 2, 2L)
        // deterministic hash-random multigraph: e edges over v nodes,
        // mean degree 4 (supercritical — one giant component)
        val edges = spark.range(e).select(
            concat(lit("n"), pmod(xxhash64(col("id"), lit(1)), lit(v)))
              .as("src"),
            concat(lit("n"), pmod(xxhash64(col("id"), lit(2)), lit(v)))
              .as("dst"),
            (pmod(xxhash64(col("id"), lit(3)), lit(1000)) + 1).as("weight"))
          .filter(col("src") =!= col("dst"))
          .localCheckpoint(true)
        println(s"[gscale] --- synth E=$e (${edges.count()} edges, $v nodes) ---")
        kernels(s"E=$e", edges)
        edges.unpersist(blocking = false)
      }
      spark.stop()
      return
    }
    val ks = spec.split(",").map(_.trim.toInt).toSeq

    val t0 = System.nanoTime()
    val base = CooccurrenceGraph.edgeCounts(spark, dir).localCheckpoint(true)
    val nE = base.count()
    println(f"[gscale] edge_agg ${(System.nanoTime() - t0) / 1e9}%.2f s ($nE edges)")

    for (k <- ks) {
      val scaled = (0 until k).map { i =>
        base.select(concat(col("src"), lit(s"#$i")).as("src"),
          concat(col("dst"), lit(s"#$i")).as("dst"), col("weight"))
      }.reduce(_ unionAll _).localCheckpoint(true)
      println(s"[gscale] --- K=$k (${scaled.count()} edges) ---")
      kernels(s"K=$k", scaled)
      // the one-task kernels: lexicon-bounded input only, so no synth rung
      timed(s"K=$k louvain")(GraphOps.louvain(scaled).count())
      timed(s"K=$k lpa")(GraphOps.labelPropagation(scaled).count())
      scaled.unpersist(blocking = false)
    }
    base.unpersist(blocking = false)
    spark.stop()
  }
}
