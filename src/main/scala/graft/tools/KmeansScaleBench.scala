package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Scale probe for the q317 Lloyd family (dev tooling, not part of the
  * library): runs the REGISTERED kmeansLloydCore (via the registered
  * int8 quantization chain) on AnnScaleBench's deterministic clustered
  * synthetic embeddings at growing N and reports wall, cluster-size
  * spread, and purity against the latent centers. The claims under
  * test: (1) wall is scan-bound — ~linear in N, because every round is
  * one pass over the checkpointed quantized frame against a broadcast
  * k×d literal; (2) driver-side state is k×d micro-longs (4 KB at
  * k=8, d=64) REGARDLESS of N — the recenter collects cluster sums,
  * never data; (3) the learned clusters align with latent structure
  * (majority-center share) even at 3 fixed rounds.
  *
  * Usage: runMain graft.tools.KmeansScaleBench [sizes-csv]
  */
object KmeansScaleBench {
  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("20000,200000,1000000")
      .split(",").map(_.trim.toLong)
    val spark = graft.GraftSession.build(graft.GraftSession.cpus)
    for (n <- sizes) {
      val emb = AnnScaleBench.synthEmbeddings(spark, n).localCheckpoint(true)
      emb.count() // materialize outside the timed window
      val quant = graft.ops.Similarity.int8QuantizedCore(emb)
      val t0 = System.nanoTime()
      val out = Similarity.kmeansLloydCore(spark, quant).localCheckpoint(true)
      val rows = out.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val sizesDf = out.groupBy("cluster").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      // purity: share of each learned cluster held by its majority
      // latent center, corpus-weighted
      val purity = out.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cluster", "label").count()
        .groupBy("cluster").agg(max("count").as("maj"), sum("count").as("n"))
        .agg((sum("maj") / sum("n")).as("p")).head().getDouble(0)
      println(f"[kscale] N=$n%d wall=$wall%.1f s rows=$rows%d " +
        f"purity=$purity%.3f sizes=${sizesDf.map(_._2).mkString("/")}")
    }
    // SemDeDup pair-volume arm (r15 verdict task 1): second arg
    // "semdedup[:sizes-csv]". For each N, run the registered Lloyd
    // assignment BOTH ways — fixed k = kmeansK (the r15-registered
    // shape the audit flagged) and the corpus-sized k =
    // semdedupSizedK(N) q320 now registers — and report the
    // within-cluster PAIR VOLUME Σ_c C(|c|,2) each implies (computed
    // from cluster counts, never materialized) plus the Lloyd wall.
    // The claim under measurement: fixed-k pair volume is N²/k
    // (quadratic), sized-k is ~N·popTarget/2 (linear). The sized-k
    // Lloyd wall grows as N·k = N²/pop — the honest flat-codebook
    // k-means trade, which is why the q320 scaladoc prescribes a
    // two-level quantizer past ~10⁸ vectors; any size skipped for wall
    // budget is LOGGED, not silently dropped.
    args.lift(1).filter(_.startsWith("semdedup")).foreach { spec =>
      val ns = spec.split(":").lift(1)
        .map(_.split(",").map(_.trim.toLong).toSeq)
        .getOrElse(Seq(20000L, 200000L, 1000000L))
      for (n <- ns) {
        val emb = AnnScaleBench.synthEmbeddings(spark, n).localCheckpoint(true)
        emb.count()
        val xs = graft.ops.Similarity
          .int8QuantizedCore(emb)
          .select(col("vec_id"), expr("transform(qs, q -> q + 127L)").as("xs"))
          .localCheckpoint(true)
        for ((mode, k) <- Seq(
            ("fixed", graft.ops.Similarity.kmeansK),
            ("sized", graft.ops.Similarity.semdedupSizedK(n)))) {
          // flat-codebook assign is N·k distance evals per round: past
          // ~7e8 evals the local arm measures JVM patience, not the
          // plan — log the skip instead (no silent caps)
          if (n.toDouble * k > 7e8)
            println(f"[kscale] semdedup N=$n%d mode=$mode k=$k%d SKIPPED " +
              "(flat-codebook assign > 7e8 evals locally; " +
              "two-level quantizer regime — see q320 scaladoc)")
          else {
            val t0 = System.nanoTime()
            val (af, _) = graft.ops.Similarity.lloydAssign(spark, xs, k, 3)
            val pairs = af.groupBy("cluster").count()
              .agg(sum(expr("count * (count - 1) div 2")).as("pairs"),
                max("count").as("maxpop"), count(lit(1)).as("nonempty"))
              .head()
            val wall = (System.nanoTime() - t0) / 1e9
            println(f"[kscale] semdedup N=$n%d mode=$mode k=$k%d " +
              f"wall=$wall%.1f s pair_volume=${pairs.getLong(0)}%d " +
              f"max_pop=${pairs.getLong(1)}%d nonempty=${pairs.getLong(2)}%d")
          }
        }
      }
    }
    // k sweep at a fixed N (second arg "ksweep[:N]"): the elbow curve
    // q325's profile serves — total inertia is monotone non-increasing
    // in k, and the wall grows ~linearly with k (one broadcast row per
    // centroid inside the same scan)
    args.lift(1).filter(_.startsWith("ksweep")).foreach { spec =>
      val n = spec.split(":").lift(1).map(_.toLong).getOrElse(200000L)
      val emb = AnnScaleBench.synthEmbeddings(spark, n).localCheckpoint(true)
      emb.count()
      val xs = graft.ops.Similarity
        .int8QuantizedCore(emb)
        .select(col("vec_id"), expr("transform(qs, q -> q + 127L)").as("xs"))
      for (k <- Seq(4, 8, 16, 32)) {
        val t0 = System.nanoTime()
        val (af, _) = graft.ops.Similarity.lloydAssign(spark, xs, k, 3)
        val r = af.agg(sum(expr("cast(d2m2 as decimal(38,0))")).as("inertia"),
          count(lit(1)).as("n")).head()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[kscale] ksweep N=$n%d k=$k%d wall=$wall%.1f s " +
          f"inertia=${r.getDecimal(0).toBigInteger}%s rows=${r.getLong(1)}%d")
      }
    }
    spark.stop()
  }
}
