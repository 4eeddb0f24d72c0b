package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Dev harness: measure the DEDUP family's candidate volume and recall
  * at synthetic scale — completing the measured-scale trilogy
  * (GraphScaleBench round 11, AnnScaleBench round 12) for the third
  * big family whose 100-TB argument SCALE.md makes analytically: the
  * shingle-join/df-cap (q52), banded MinHash LSH (q54), and SimHash
  * sub-band blocking (q56) candidate generators must stay near-linear
  * in corpus size, never approach the n²/2 all-pairs count, and still
  * find the planted near-duplicates.
  *
  * Corpus: deterministic Zipf-ish token stream — token id =
  * (x·x) div vocab for x = xxhash64(doc, pos) mod vocab, so density
  * rises toward small ids (a heavy head that actually exercises the
  * df-cap the way natural text does; uniform tokens would make every
  * shingle unique and the join trivially empty). Every `dupEvery`-th
  * doc copies its predecessor with ~`mutPct`% of positions re-rolled —
  * the planted near-dup pairs whose recall is measured. All content is
  * a pure function of (doc_id, pos): every run sees the same corpus.
  *
  * Per corpus size N, per method: wall time, candidate-pair count
  * (the scale driver), candidates as a fraction of all-pairs, and
  * planted-pair recall at the method's production threshold
  * (Jaccard ≥ 0.5 on capped shingles / LSH est ≥ 0.5 / Hamming ≤ 3).
  * The REGISTERED kernels run verbatim through their core seams — the
  * bench swaps only the input frame.
  *
  * Usage: runMain graft.tools.DedupScaleBench [N1,N2,...] [nocap|simhash]
  * (default 50000,200000). The `simhash` mode runs ONLY the simhash
  * family (16-bit / 32-bit-on-64 / 128-bit four-band blocking) so the
  * 500k-doc width comparison (r13 verdict task 1) doesn't pay the
  * quadratic-prone jaccard join at that N. The `nocap` mode instead measures the
  * q52 shingle join WITH vs WITHOUT its df-cap at each N — the skew
  * cliff the cap prevents, as a number instead of an argument. The
  * pure Zipf-ish stream never pushes a single shingle's df past the
  * cap (measured: cap and nocap arms identical to the candidate at
  * 200k docs), so nocap mode plants the skew it exists to measure:
  * every 5th doc opens with the same 8-token boilerplate prefix (the
  * shared-template shape real corpora have), making each prefix
  * shingle's df = N/5. Run nocap at SMALL N (e.g. 10000,20000): the
  * uncapped arm's candidates grow as C(N/5, 2) per hot shingle —
  * quadratic with a big constant — while the capped arm stays flat.
  * Results land in SCALE.md.
  */
object DedupScaleBench {
  val docLen = 40
  val vocab = 50000
  val dupEvery = 50
  val mutPct = 3 // ≈1.2 of 40 positions re-rolled per planted dup
  // the q313 arm's second planted class: every (dupEvery·k + permOffset)
  // doc is a deterministic even/odd SHUFFLE of its (pristine)
  // predecessor — identical token multiset (simhash Hamming 0), near-
  // zero shared 3-shingles (invisible to the q52 Jaccard source)
  val permOffset = 27

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("50000,200000")
      .split(",").map(_.trim.toLong)
    val spark = graft.GraftSession.build(graft.GraftSession.cpus)

    val nocap = args.contains("nocap")
    for (n <- sizes) {
      val docs = synthDocs(spark, n, boilerplate = nocap)
        .localCheckpoint(true)
      val planted = docs.filter(col("doc_id") % dupEvery === 1
        && col("doc_id") > 0).count()
      val allPairs = n * (n - 1) / 2
      println(s"[dscale] --- N=$n docs ($docLen tokens, vocab $vocab, " +
        s"$planted planted near-dups) ---")

      val simhashOnly = args.contains("simhash")
      // q313 recall-gain arm (r15 verdict task 7): does the third edge
      // source BUY anything? Plant the frequency-weighted near-dup
      // class Jaccard cannot see (token shuffles — same tf vector,
      // disjoint shingles) alongside the mutation class both sources
      // see, and report CLUSTER-level recall per class with the
      // two-source (q57) vs three-source (q313) assignment. The
      // registered clusterAssignmentsCore runs verbatim both ways.
      if (args.contains("q313")) {
        val pdocs = synthDocs(spark, n, permuted = true).localCheckpoint(true)
        def clusterRecall(simhash: Boolean): (Double, Double, Double) = {
          val t0 = System.nanoTime()
          val asg = Dedup.clusterAssignmentsCore(pdocs, simhashEdges = simhash)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          def recall(offset: Long): Double = {
            val pairs = (1L until n).filter(i =>
              i % dupEvery == offset && i > 0)
            pairs.count(i =>
              asg.get(i - 1).exists(c => asg.get(i).contains(c)))
              .toDouble / pairs.size
          }
          (recall(1L), recall(permOffset.toLong),
            (System.nanoTime() - t0) / 1e9)
        }
        val (mut2, perm2, s2) = clusterRecall(simhash = false)
        val (mut3, perm3, s3) = clusterRecall(simhash = true)
        println(f"[dscale] N=$n q313-2src $s2%7.2f s  " +
          f"cluster_recall(mutation)=$mut2%.3f cluster_recall(shuffle)=$perm2%.3f")
        println(f"[dscale] N=$n q313-3src $s3%7.2f s  " +
          f"cluster_recall(mutation)=$mut3%.3f cluster_recall(shuffle)=$perm3%.3f")
      } else if (nocap) {
        // The df-cap's necessity as a measurement (r12 verdict task 8):
        // the same q52 kernel with the cap ON vs OFF. OFF lets the
        // Zipf-head shingles join everyone-with-everyone — candidates
        // (and the hottest key's task) blow past linear; ON keeps the
        // candidate volume flat. Recall on planted dups is reported for
        // both so the cap's cost side is visible too.
        report("jac-cap", n, allPairs, planted,
          () => Dedup.jaccardPairsCore(docs, 0.0),
          col("jaccard") >= 0.5)
        report("jac-nocap", n, allPairs, planted,
          () => Dedup.jaccardPairsCore(docs, 0.0, dfCap = Long.MaxValue),
          col("jaccard") >= 0.5)
        spark.catalog.clearCache()
      } else {

      if (!simhashOnly) {
      // q52 kernel, threshold 0 → the full candidate relation (pairs
      // sharing ≥1 capped shingle), with the verified Jaccard attached
      report("jaccard", n, allPairs, planted,
        () => Dedup.jaccardPairsCore(docs, 0.0),
        col("jaccard") >= 0.5)

      // q54 kernel, est floor 0 → every first-band bucket collision
      report("lsh", n, allPairs, planted,
        () => Dedup.lshCandidatesCore(docs, 0.0),
        col("est_jaccard") >= 0.5)
      }

      // q56 kernel, Hamming cap 64 → every first-sub-band collision
      report("simhash", n, allPairs, planted,
        () => Dedup.simhashPairsCore(docs, 64),
        col("hamming") <= 3)

      // "crossover" mode (r14 task 6): only the two contenders at the
      // production contract — where does 16-bit banding's quadratic
      // candidate volume lose to 6C3's 20-way explode constant?
      val crossoverOnly = args.contains("crossover")
      if (!crossoverOnly) {
      // the r12-verdict scale lever: same kernel at bandBits=32
      // (2 bands — the log₂(corpus)-grown width for ≥10⁹-doc corpora).
      // Expected: candidate volume collapses from a constant fraction
      // of all-pairs (4/2¹⁶) to ~random-collision-free (2/2³²), i.e.
      // essentially only the true near-dups — the linear 100-TB shape.
      // Accept predicate stays the production Hamming ≤ 3 on pairs
      // the wide bands still surface (guaranteed radius is ≤ 1;
      // planted dups mostly land within a band anyway — measured).
      report("simhash32", n, allPairs, planted,
        () => Dedup.simhashPairsCore(docs, 64, bandBits = 32),
        col("hamming") <= 3)

      // the r13-verdict-PRESCRIBED design: candidates from 4×32-bit
      // bands of the 128-bit signature, same h64 ≤ 3 accept. Measured
      // r14: collision-free candidates but recall 0.40 vs 0.48 — the
      // doubled metric cancels the wider bands (see simhash128Pairs
      // scaladoc); kept as the honest negative result
      report("simhash128", n, allPairs, planted,
        () => Dedup.simhash128PairsCore(docs, 64),
        col("hamming") <= 3)
      }

      // the SHIPPED q304: Manku 6-choose-3 blocking of the unchanged
      // 64-bit signature — structurally complete for h64 ≤ 3, so its
      // recall must EQUAL the simhash row's, at collision-free (~2⁻³³
      // per bucket family) candidate volume. maxHamming=64 → verify
      // filter off; the accept predicate below is the production one
      report("simhash6c3", n, allPairs, planted,
        () => Dedup.simhashBlockedPairsCore(docs, 64),
        col("hamming") <= 3)
      }
    }
    spark.stop()
  }

  /** Run one candidate generator, count candidates and planted-pair
    * recall at the production predicate, print one line.
    */
  private def report(name: String, n: Long, allPairs: Long, planted: Long,
                     gen: () => DataFrame,
                     accept: org.apache.spark.sql.Column): Unit = {
    val t0 = System.nanoTime()
    val out = gen().localCheckpoint(true)
    val secs = (System.nanoTime() - t0) / 1e9
    val isPlanted = col("doc_b") === col("doc_a") + 1 &&
      col("doc_b") % dupEvery === 1
    val row = out.agg(
      count(lit(1)).as("cand"),
      count(when(isPlanted && accept, 1)).as("hit")).head()
    val (cand, hit) = (row.getLong(0), row.getLong(1))
    println(f"[dscale] N=$n $name%-8s ${secs}%7.2f s  " +
      f"candidates=$cand%9d (${cand.toDouble / allPairs}%.2e of all-pairs" +
      f", ${cand.toDouble / n}%.2f per doc)  " +
      f"recall=${hit.toDouble / planted}%.3f")
  }

  /** Deterministic corpus: every token a pure function of
    * (effective doc, pos); planted dups re-roll ~mutPct% of positions.
    * `boilerplate` prepends the same 8 fixed tokens to every 5th doc
    * (keyed on the EFFECTIVE doc, so a planted dup of a boilerplate
    * doc copies the prefix except at its mutated positions) — the
    * shared-template skew the nocap mode measures.
    */
  private[graft] def synthDocs(spark: SparkSession, n: Long,
                               boilerplate: Boolean = false,
                               permuted: Boolean = false): DataFrame =
    spark.range(n)
      .select(col("id"), explode(expr(s"sequence(1, $docLen)")).as("pos"))
      .withColumn("is_dup", col("id") % dupEvery === 1 && col("id") > 0)
      // the q313 arm's shuffle class: position p reads the PRISTINE
      // predecessor (offset 27 → its predecessor is never itself a
      // dup) at even/odd-interleaved position — a pure permutation
      .withColumn("is_perm",
        lit(permuted) && col("id") % dupEvery === permOffset && col("id") > 0)
      .withColumn("spos", when(col("is_perm"),
          when(col("pos") <= docLen / 2, col("pos") * 2 - 1)
            .otherwise((col("pos") - docLen / 2) * 2))
        .otherwise(col("pos")))
      // positions where a planted dup diverges from its predecessor
      .withColumn("mutated",
        pmod(xxhash64(col("id"), col("pos"), lit("m")), lit(100)) < mutPct)
      .withColumn("src",
        when(col("is_perm"), col("id") - 1)
          .when(col("is_dup") && !col("mutated"), col("id") - 1)
          .otherwise(col("id")))
      .withColumn("x", pmod(xxhash64(col("src"), col("spos")), lit(vocab.toLong)))
      .withColumn("tok",
        if (boilerplate)
          when(col("src") % 5 === 0 && col("pos") <= 8,
            concat(lit("bp"), col("pos")))
            .otherwise(concat(lit("t"), expr(s"(x * x) div $vocab")))
        else concat(lit("t"), expr(s"(x * x) div $vocab")))
      .groupBy(col("id").as("doc_id"))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("text"))
      .select(col("doc_id"), lit("en").as("lang"), col("text"))
}
