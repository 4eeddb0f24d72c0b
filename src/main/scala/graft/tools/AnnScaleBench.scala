package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expr.{DotProduct, Vectors}
import graft.ops.Similarity

/** Dev harness (round-11 VERDICT item 7): measure ANN RECALL@k and
  * CANDIDATE VOLUME at synthetic scale — turning the q63/q65/q226
  * scale story ("candidates ≈ n·probes/k or n/2^planes, never n_q×n")
  * into numbers the way GraphScaleBench did for the graph kernels.
  *
  * Corpus: deterministic CLUSTERED embeddings — `nClusters` latent
  * centers with per-component uniform noise, all components pure
  * xxhash64 functions of (cluster, j) / (vec_id, j), so every run and
  * every engine sees the same vectors. Clustered (not uniform) because
  * uniform random 64-d vectors are near-orthogonal and every method
  * trivially ties; latent structure is what gives "true neighbors"
  * meaning and is what real embedding corpora look like.
  *
  * Methods, per corpus size N (queries = vec_id < nQ):
  *   - brute: exact per-query cosine top-k over all N — ground truth
  *     AND the honest baseline cost (n_q × N dot products).
  *   - lsh: the REGISTERED q226 kernel (annBatchedCore — same tables,
  *     same exactly-once collision predicate), only the query
  *     predicate swapped for the bounded id range.
  *   - ivf: k-means inverted lists, √N lists, probes sized to ~1/8 of
  *     the lists (the fraction the q65 prod constants 3/16 embody).
  *
  * Usage: runMain graft.tools.AnnScaleBench [N1,N2,...] [nQ]
  * (defaults: 20000,200000 and 100). Results land in SCALE.md.
  */
object AnnScaleBench {
  val dim = 64
  val nClusters = 64
  val noise = 0.35
  val k = Similarity.topK

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("20000,200000")
      .split(",").map(_.trim.toLong)
    val nQ = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = graft.GraftSession.build(graft.GraftSession.cpus)

    for (n <- sizes) {
      val emb = synthEmbeddings(spark, n).localCheckpoint(true)
      println(s"[ascale] --- N=$n (${emb.count()} vectors, dim $dim, " +
        s"$nClusters latent clusters, $nQ queries) ---")
      val isQuery = col("vec_id") < nQ.toLong

      // ground truth: exact cosine top-k per query
      var t0 = System.nanoTime()
      val truth = bruteTopK(emb, isQuery).localCheckpoint(true)
      val tBrute = (System.nanoTime() - t0) / 1e9
      println(f"[ascale] N=$n brute  ${tBrute}%.2f s " +
        f"(${nQ.toLong * (n - 1)} pairs scored, recall 1.000)")

      // LSH — the registered q226 kernel
      t0 = System.nanoTime()
      val lsh = Similarity.annBatchedCore(emb, isQuery).localCheckpoint(true)
      val tLsh = (System.nanoTime() - t0) / 1e9
      val lshCand = Similarity.annBatchedCandidates(emb, isQuery).count()
      println(f"[ascale] N=$n lsh    ${tLsh}%.2f s (${lshCand} candidates = " +
        f"${lshCand.toDouble / (nQ.toLong * n)}%.4f of brute, " +
        f"recall ${recallAtK(truth, lsh)}%.3f)")

      // IVF — √N lists (capped: the quantizer FIT is the bench's only
      // non-linear step, k·N·iters distance evals; a production corpus
      // fits on a sample instead), ~1/8 of lists probed
      val nLists = math.min(256, math.max(4, math.sqrt(n.toDouble).toInt))
      val probes = math.max(1, nLists / 8)
      t0 = System.nanoTime()
      val (ivf, ivfCand) = ivfTopK(spark, emb, isQuery, nLists, probes)
      val ivfOut = ivf.localCheckpoint(true)
      val tIvf = (System.nanoTime() - t0) / 1e9
      val nIvfCand = ivfCand.count()
      println(f"[ascale] N=$n ivf    ${tIvf}%.2f s (lists=$nLists probes=$probes, " +
        f"$nIvfCand candidates = ${nIvfCand.toDouble / (nQ.toLong * n)}%.4f of brute, " +
        f"recall ${recallAtK(truth, ivfOut)}%.3f)")
    }
    spark.stop()
  }

  /** Deterministic clustered corpus: component j of vector i is
    * center(cluster(i), j) + noise·u(i, j), u ∈ [-1, 1] from xxhash64.
    */
  private[graft] def synthEmbeddings(spark: SparkSession, n: Long): DataFrame = {
    def u(keys: Seq[org.apache.spark.sql.Column], salt: Int) =
      (pmod(xxhash64(keys :+ lit(salt): _*), lit(2000001L)) - lit(1000000L))
        .cast("double") / 1000000.0
    spark.range(n)
      .select(col("id").as("vec_id"),
        pmod(xxhash64(col("id"), lit(7)), lit(nClusters.toLong)).as("cl"))
      .select(col("vec_id"),
        concat(lit("c"), col("cl")).as("label"),
        array((0 until dim).map(j =>
          (u(Seq(col("cl"), lit(j)), 1) + u(Seq(col("vec_id"), lit(j)), 2)
            * noise).cast("float")): _*).as("embedding"))
  }

  /** Exact per-query top-k: candidates × broadcast queries, one dot per
    * pair, per-query window — same rounding and tie-break as the ANN
    * paths so recall compares identically-ranked sets.
    */
  private def bruteTopK(emb: DataFrame, isQuery: org.apache.spark.sql.Column): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"),
      Vectors.norm2(col("embedding")).as("norm"))
    val qs = base.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("norm").as("qnorm"))
    val perQuery = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("vec_id"))
    base.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(DotProduct(col("qvec"), col("embedding"))
          / (col("qnorm") * col("norm")), 6).as("cos"))
      .withColumn("rank", row_number().over(perQuery))
      .filter(col("rank") <= k)
  }

  /** IVF top-k + its candidate frame (for volume counting). */
  private def ivfTopK(spark: SparkSession, emb: DataFrame,
      isQuery: org.apache.spark.sql.Column, nLists: Int,
      probes: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val s = spark
    import s.implicits._
    val withV = emb.withColumn("v", array_to_vector(col("embedding")))
    val model = new KMeans().setK(nLists).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("v").setPredictionCol("cluster").fit(withV)
    val assigned = model.transform(withV).drop("v")
      .withColumn("norm", Vectors.norm2(col("embedding")))
      .localCheckpoint(true)
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray.toSeq) }.toSeq
      .toDF("cluster", "centroid")
    val qs = assigned.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("norm").as("qnorm"))
    val perQueryList = Window.partitionBy("query_id")
      .orderBy(asc("d2"), asc("cluster"))
    val probeFrame = centroids.crossJoin(broadcast(qs))
      .select(col("cluster"), col("query_id"), col("qvec"), col("qnorm"),
        Vectors.sqDist(col("centroid"), col("qvec")).as("d2"))
      .withColumn("r", row_number().over(perQueryList))
      .filter(col("r") <= probes)
      .select("cluster", "query_id", "qvec", "qnorm")
    val cand = assigned.join(broadcast(probeFrame), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(DotProduct(col("qvec"), col("embedding"))
          / (col("qnorm") * col("norm")), 6).as("cos"))
    val perQuery = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("vec_id"))
    (cand.withColumn("rank", row_number().over(perQuery))
      .filter(col("rank") <= k), cand)
  }

  /** Mean over queries of |method top-k ∩ true top-k| / k. */
  private def recallAtK(truth: DataFrame, method: DataFrame): Double = {
    val hit = truth.select(col("query_id"), col("vec_id"))
      .join(method.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"))
      .count()
    val nq = truth.select("query_id").distinct().count()
    if (nq == 0) 0.0 else hit.toDouble / (nq * k)
  }
}
