package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.expr.{SimHash64, SimHashMd5, TextFunctions}

/** Deduplication for a large-scale training-data pipeline: exact
  * (hash-groupBy), n-gram Jaccard (blocked + document-frequency-capped
  * shingle join), MinHash signatures + banded LSH candidates, and SimHash.
  *
  * Scale discipline: nothing here is O(n²). Exact dedup is a group-by on
  * a fingerprint. Jaccard candidates come from an equi-join on shingle
  * (bounded by the df cap: a shingle seen in more than `maxShingleDf`
  * docs is too common to be discriminative and is dropped — standard
  * practice, and it removes the quadratic blow-up hot shingles cause).
  * MinHash→bands→bucket-join touches only colliding docs.
  */
object Dedup {

  /** Word n-gram shingles via the codegen'd NGramShingles kernel (one
    * pass over the token array; the old interpreted
    * transform+slice+concat_ws chain was the engine's hottest kernel —
    * expr/Tokenize.scala). size < n → [].
    */
  def shingles(toks: Column, n: Int): Column =
    graft.expr.NGramShingles(toks, n)

  val shingleSize = 3
  val maxShingleDf = 50
  val minJaccard = 0.8

  /** (doc_id, lang, shingle) distinct — the join relation. The
    * tokenize+shingle kernel is the CPU cost of every consumer, so the
    * source is spread first (no-op on a well-split source;
    * Tables.spread).
    */
  private def shingleRows(spark: SparkSession, dir: String): DataFrame =
    shingleRowsOf(Tables.documents(spark, dir))

  /** Same relation over any (doc_id, lang, text) frame — the seam the
    * synthetic-scale bench (tools.DedupScaleBench) drives.
    */
  private[graft] def shingleRowsOf(docs: DataFrame): DataFrame =
    Tables.spread(docs)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(shingles(TextFunctions.tokens(col("text")), shingleSize)))
          .as("sh"))

  /** q308 containment threshold: emit when the smaller doc's capped
    * shingle set is ≥ 90% contained in the larger's.
    */
  private[graft] val minContainmentPct = 90L

  /** q308 — SHINGLE CONTAINMENT PAIRS: the ASYMMETRIC near-dup
    * relation Jaccard structurally misses — a document EMBEDDED in a
    * larger one (quote pages, aggregators, boilerplate-wrapped
    * reposts). With |A| = 20 shingles inside |B| = 60, Jaccard is
    * 20/60 = 0.33 (invisible to q52's 0.8 gate) while the containment
    * of the smaller side, |A∩B|/|A| = 1.0, is exactly the duplication
    * signal a curation run needs (Broder 1997 distinguishes resemblance
    * from containment for precisely this case). Same candidate
    * generator as q52 — df-capped, per-doc-distinct, lang-blocked
    * shingle equi-join (the measured near-linear shape) — different
    * verify arithmetic: cont_ppm = n_common·10⁶ div least(n_a, n_b),
    * EXACT integers end to end (no float even at the edge, unlike
    * q52's rounded double), thresholded by cross-multiplication at
    * [[minContainmentPct]]%. jac_ppm rides along so the output shows
    * which pairs only containment catches.
    *
    * Scale: identical to q52 (one shingle exchange shared across all
    * consumers; the df-cap bounds the join's hottest key) — the
    * verify stage is arithmetic on the already-aggregated pair frame.
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentPairsCore(Tables.documents(spark, dir))

  /** Core over any (doc_id, lang, text) frame — fixture seam. */
  private[graft] def containmentPairsCore(docs: DataFrame): DataFrame = {
    val rows = shingleRowsOf(docs).repartition(col("sh"))
    val hot = rows.groupBy("sh")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf)
      .select("sh")
    val capped = rows.join(hot, Seq("sh"), "left_anti")
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = capped.as("a")
      .join(capped.as("b"),
        col("a.sh") === col("b.sh") && col("a.lang") === col("b.lang")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .filter(col("n_common") * 100L
        >= least(col("n_a"), col("n_b")) * minContainmentPct)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("n_a"), col("n_b"),
        expr("n_common * 1000000 div least(n_a, n_b)").as("cont_ppm"),
        expr("n_common * 1000000 div (n_a + n_b - n_common)").as("jac_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact-dedup statistics: corpus vs distinct-content counts via
    * md5 fingerprint group-by (the only exact-dedup primitive that
    * scales: no sorting, no pairwise compare).
    */
  def exactDedupStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text").cast("binary"))).as("n_distinct"),
        (count(lit(1)) - countDistinct(md5(col("text").cast("binary"))))
          .as("n_dup_docs"))

  /** Per-doc shingle stats (feeds Jaccard denominators). */
  def shingleStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(shingles(TextFunctions.tokens(col("text")), shingleSize)).cast("long")
          .as("n_shingles"),
        size(array_distinct(shingles(TextFunctions.tokens(col("text")), shingleSize)))
          .cast("long").as("n_distinct_shingles"))
      .orderBy("doc_id")

  /** Near-duplicate pairs by n-gram Jaccard ≥ `minJ` over df-capped
    * distinct shingles, blocked by lang. Candidates come from the
    * shingle equi-join; Jaccard is computed over the same capped sets so
    * the metric is self-consistent (documented engine semantics).
    */
  /** q300 cosine threshold, as squared-ppm (0.8² = 640,000). */
  val minCos2Ppm = 640000L

  /** q300 term df-cap — the q52 discipline applied to TERMS. */
  val maxTermDf = 50L

  /** q300 — COSINE TF NEAR-DUP PAIRS: the bag-of-words cosine regime
    * beside the set metrics (q52 Jaccard ignores multiplicity; q257
    * PPJoin is exact set-overlap; this weighs REPEATED terms — the
    * metric that catches a doc padded with its own sentences where
    * set-Jaccard saturates). Fully EXACT and sqrt-free: tf vectors
    * are integer counts, the cosine test cos ≥ t is evaluated as
    * dot² · 10⁶ ≥ t²ppm · ‖a‖² · ‖b‖² with every product in
    * DECIMAL(38,0) (dot ≤ 10¹⁰ on 10⁵-token docs squares past BIGINT),
    * and the emitted statistic is the monotone cos²·10⁶ — the
    * q111/q282 ln/sqrt-dropped stance.
    *
    * Scale: q52's inverted-index shape verbatim — one (term, doc, tf)
    * relation, df-capped via the hash-agg hot-term anti-join (a term
    * in more than [[maxTermDf]] docs is evidence, not signal, and
    * uncapped it is the measured 4.8%-of-all-pairs cliff in
    * SCALE.md), lang-blocked self-join on the term, one pair-grain
    * dot aggregate, norm join-back. Candidates ∝ Σ capped-df², never
    * all-pairs.
    */
  def cosinePairs(spark: SparkSession, dir: String): DataFrame =
    cosinePairsCore(Tables.documents(spark, dir))

  /** Core over any (doc_id, lang, text) frame — fixture seam. */
  private[graft] def cosinePairsCore(docs: DataFrame): DataFrame = {
    // one exchange on the join key serves the hot-set agg, both join
    // sides and the norm table (the q52 ReuseExchange stance)
    val tf = Tables.spread(docs)
      .select(col("doc_id"), col("lang"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("tf"))
      .repartition(col("term"))
    val hot = tf.groupBy("term")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") > maxTermDf)
      .select("term")
    val capped = tf.join(hot, Seq("term"), "left_anti")
    val norms = capped.groupBy("doc_id")
      .agg(sum(expr("tf * tf")).as("n2"))
    val dots = capped.as("a")
      .join(capped.as("b"),
        col("a.term") === col("b.term") && col("a.lang") === col("b.lang")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(expr("a.tf * b.tf")).as("dot"))
    dots
      .join(norms.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n2", "n2_a"), "doc_a")
      .join(norms.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n2", "n2_b"), "doc_b")
      .filter(expr(s"""cast(dot as decimal(38,0)) * dot * 1000000
                       >= $minCos2Ppm * cast(n2_a as decimal(38,0)) * n2_b"""))
      .select(col("doc_a"), col("doc_b"), col("dot"), col("n2_a"),
        col("n2_b"),
        expr("""cast(cast(dot as decimal(38,0)) * dot * 1000000
                div (cast(n2_a as decimal(38,0)) * n2_b) as bigint)""")
          .as("cos2_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  def jaccardPairs(spark: SparkSession, dir: String, minJ: Double = minJaccard): DataFrame =
    jaccardPairsCore(Tables.documents(spark, dir), minJ)

  /** Core over any (doc_id, lang, text) frame — bench/fixture seam. */
  private[graft] def jaccardPairsCore(docs: DataFrame, minJ: Double = minJaccard,
                                      dfCap: Long = maxShingleDf): DataFrame = {
    // df-cap via hash-agg hot-shingle table + anti-join, NOT a
    // count().over(Window.partitionBy("sh")): the window sort-shuffles
    // the FULL shingle relation with one partition per shingle value —
    // unbounded skew (a shingle in 10^6 docs lands on one task) and a
    // sort the cap never needed. The hash agg has map-side combine (the
    // shuffle carries one row per distinct shingle per partition) and
    // the hot set (df > cap) is small, so AQE turns the anti-join into
    // a broadcast — the full relation is never sort-shuffled at all.
    // Measured at sf0.1 local[32], warm: window 1.6-2.0 s, this form
    // 2.8-3.0 s (identical 79-row output) — the window wins SMALL
    // because ReuseExchange shares its single shuffle across all three
    // consumers, but it cannot survive a hot key at scale (count() over
    // partitionBy(sh) materializes every row of the hottest shingle in
    // one task); the ~1 s local regression buys skew-immunity, so the
    // hash-agg form is kept deliberately.
    // One explicit exchange on the join key, shared by ALL four consumers
    // below (hot-set agg, per-doc sizes, both self-join sides) via
    // ReuseExchange: the corpus is scanned and shingled ONCE, and the
    // hash partitioning already satisfies the (sh, lang) join's
    // distribution, so the join adds no further exchange. Without this
    // the shingle map stage re-runs per consumer — and on a
    // footer-packed single parquet file it runs single-core each time.
    val rows = shingleRowsOf(docs).repartition(col("sh"))
    val hot = rows.groupBy("sh")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
      .select("sh")
    val capped = rows.join(hot, Seq("sh"), "left_anti")
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = capped.as("a")
      .join(capped.as("b"),
        col("a.sh") === col("b.sh") && col("a.lang") === col("b.lang")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jac_raw",
        col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jac_raw") >= minJ) // filter pre-round (oracle does the same)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        round(col("jac_raw"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Thresholds swept by q220, in exact ppm (0.30 … 0.90). */
  private[graft] val sweepThresholds: Seq[Long] =
    (3 to 9).map(_ * 100000L)

  /** q220 — DEDUP THRESHOLD SENSITIVITY SWEEP: before committing a
    * near-dup threshold, a curation run asks "how many pairs — and how
    * many removed documents — does each candidate threshold imply?"
    * This answers it for seven thresholds in ONE pass over the q52
    * pair machinery (identical shingles, df-cap, lang blocking — the
    * surfaces can't drift): the pair table is built once at the lowest
    * swept threshold, each pair then fans out to the thresholds it
    * clears (a ≤7× fan-out of the already-tiny pair table, not of the
    * corpus), and a conditional aggregate per threshold reports pair
    * count and the documents a keep-smallest-id policy would drop.
    * The alternative — seven separate dedup runs — re-shingles the
    * corpus seven times; at 100 TB that is the whole cost.
    *
    * Exact: similarity as integer ppm (n_common·10⁶ div union), so
    * the threshold comparisons are BIGINT on both engines; the
    * threshold spine left-joins the counts so a threshold clearing
    * zero pairs still reports an explicit zero row.
    */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val rows = shingleRows(spark, dir).repartition(col("sh"))
    val hot = rows.groupBy("sh")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf)
      .select("sh")
    val capped = rows.join(hot, Seq("sh"), "left_anti")
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = capped.as("a")
      .join(capped.as("b"),
        col("a.sh") === col("b.sh") && col("a.lang") === col("b.lang")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val pairs = inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jac_ppm",
        expr("n_common * 1000000 div (n_a + n_b - n_common)"))
      .filter(col("jac_ppm") >= sweepThresholds.min)
    val counts = pairs
      .select(col("jac_ppm"), col("doc_b"),
        explode(array(sweepThresholds.map(lit): _*)).as("threshold_ppm"))
      .filter(col("jac_ppm") >= col("threshold_ppm"))
      .groupBy("threshold_ppm")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct("doc_b").as("n_drop_docs"))
    val se = spark
    import se.implicits._
    val spine = sweepThresholds.toDF("threshold_ppm")
    spine.join(counts, Seq("threshold_ppm"), "left")
      .na.fill(0L, Seq("n_pairs", "n_drop_docs"))
      .orderBy("threshold_ppm")
  }

  /** q257 Jaccard threshold in exact ppm (0.50). */
  private[graft] val ppjoinThetaPpm = 500000L

  /** q257 — PPJOIN: EXACT set-similarity self-join by PREFIX FILTERING
    * (Xiao et al., WWW'08; Bayardo et al., WWW'07) — all pairs with
    * distinct-shingle Jaccard ≥ θ, with NO df-cap and NO recall loss.
    * The third candidate-generation regime in the dedup family, with a
    * different trade than its siblings: q52 joins on EVERY shingle and
    * keeps exact semantics only after df-capping the hot tail (documents
    * sharing only ultra-common shingles silently fall out); q53/q54 LSH
    * is sub-linear but probabilistic. PPJoin is exact AND pruned:
    * order each document's shingle set by GLOBAL RARITY (df asc, then
    * shingle — any total order works; rarest-first makes prefixes
    * selective), and only the first |x| − ⌈θ·|x|⌉ + 1 shingles of each
    * document enter the join. Completeness: two sets with J ≥ θ overlap
    * in ≥ ⌈θ·max(|a|,|b|)⌉ elements, so under a shared total order their
    * θ-prefixes must intersect — every qualifying pair survives, proven
    * here by the oracle being the UNPRUNED exact relation.
    *
    * Scale shape: candidate volume is Σ_sh (prefix-df choose 2) over
    * PREFIX document frequency — at θ=0.5 half of each posting list
    * never joins, and the surviving prefix mass concentrates in RARE
    * shingles (a shingle common enough to blow up a posting list is by
    * construction late in the rarity order and prefix-pruned out of
    * most documents). The θ-derived length filter (min·10⁶ ≥ θppm·max)
    * prunes cross-size candidates before verification; verification
    * joins the per-doc sorted arrays back by id (arrays ride only the
    * candidate-bounded joins, never the corpus-scale one). One exchange
    * on the prefix-shingle key is shared by both self-join sides
    * (ReuseExchange, q52's discipline); the per-doc index frame is
    * exchanged once on doc_id and reused by both verification probes.
    */
  def ppjoinPairs(spark: SparkSession, dir: String,
                  thetaPpm: Long = ppjoinThetaPpm): DataFrame =
    ppjoinCore(shingleRows(spark, dir).select("doc_id", "sh"), thetaPpm)

  /** Over any (doc_id, sh) relation with per-doc-distinct `sh` — fixture
    * seam for the completeness property spec (random sets, swept θ).
    */
  private[graft] def ppjoinCore(shRows: DataFrame, thetaPpm: Long): DataFrame = {
    // one exchange on sh under BOTH consumers (the df table and the
    // rarity join) — the tokenize+shingle projection runs once.
    // CHECKPOINTED since r17: numberedBy's range-boundary probe is its
    // own Spark job, and cross-job the exchange is NOT reusable — the
    // probe re-ran the whole scan+tokenize+shingle chain (serial on the
    // footer-packed file) once more per invocation. One materialization
    // of the shingle relation is the q302 shared-scan discipline; at
    // scale it is the inverted-index artifact a production PPJoin
    // persists anyway (the q177 stored-index-stats argument). r18:
    // size-gated (Tables.boundedCheckpoint) so a 100-TB shingle
    // relation recomputes from lineage instead of silently filling
    // executor disks.
    val rows = Tables.boundedCheckpoint(shRows.repartition(col("sh")))
    val df = rows
      .groupBy("sh").agg(count(lit(1)).as("df"))
    // dense integer RANK per shingle in the (df asc, sh asc) rarity
    // order, via the q182 two-phase numbering over the shingle
    // DIMENSION table (never the corpus relation). Injective by
    // construction, so every downstream set operation — prefix
    // selection, collision join, intersection count — runs on LONGS
    // instead of hashing shingle strings per candidate pair
    // (array_intersect over 125k candidate pairs × ~300-element string
    // arrays was the measured verify bottleneck; hash-encoding instead
    // would be ~2⁻⁶⁴-probable wrong, and exact beats fast here)
    val ranked = GlobalIndex.numberedBy(df, Seq("df", "sh"))
      .select(col("sh"), col("rn"))
    val docs = rows
      .join(ranked, "sh")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("rn"))).as("shs"))
      .withColumn("n", size(col("shs")).cast("long"))
      .withColumn("prefix",
        expr(s"slice(shs, 1, cast(n - ((n * $thetaPpm + 999999) div 1000000) + 1 as int))"))
      .repartition(col("doc_id"))
      // one row per doc with its sorted array — materialize ONCE: three
      // consumers (prefix explode + both verification probes) otherwise
      // re-run the whole df-join + per-doc sort pipeline each
      // (measured 8.5 s → 2.6 s warm at sf0.1)
      .localCheckpoint(true)
    val pref = docs
      .select(col("doc_id"), col("n"),
        posexplode(col("prefix")).as(Seq("i0", "sh")))
      .withColumn("i", (col("i0") + 1).cast("long")).drop("i0")
      .repartition(col("sh"))
    // POSITIONAL filter (the "PP" in PPJoin): a qualifying pair's FIRST
    // common element e (positions i in a, j in b under the shared
    // rarity order) bounds the whole overlap — every other common
    // element follows e in BOTH arrays, so common ≤ 1 + min(n_a−i,
    // n_b−j); requiring that bound ≥ α = ⌈θ/(1+θ)·(n_a+n_b)⌉ (the
    // J ≥ θ overlap equivalent, exact ceil in ppm integers) discards a
    // collision that can't carry the pair. Lossless: with the length
    // filter, e provably sits inside both θ-prefixes and passes this
    // test, so the pair still surfaces through e even when later
    // collisions are discarded (measured 310k → far fewer candidates
    // at sf0.1; the UNPRUNED oracle re-proves losslessness every run).
    val alpha = expr(s"($thetaPpm * (a.n + b.n) + ${1000000L + thetaPpm} - 1) " +
      s"div ${1000000L + thetaPpm}")
    val cand = pref.as("a").join(pref.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id")
          && least(col("a.n"), col("b.n")) * 1000000L
             >= lit(thetaPpm) * greatest(col("a.n"), col("b.n"))
          && (lit(1L) + least(col("a.n") - col("a.i"), col("b.n") - col("b.i")))
             >= alpha)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("shs").as("a_shs"),
        col("n").as("n_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("shs").as("b_shs"),
        col("n").as("n_b")), "doc_b")
      .withColumn("n_common",
        size(array_intersect(col("a_shs"), col("b_shs"))).cast("long"))
      .withColumn("jac_ppm",
        expr("n_common * 1000000 div (n_a + n_b - n_common)"))
      .filter(col("jac_ppm") >= thetaPpm)
      .select(col("doc_a"), col("doc_b"), col("jac_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  /** q177 — INCREMENTAL NEAR-DUP (delta vs corpus): dedup a NEW batch
    * against an already-deduped corpus without ever re-comparing the
    * corpus to itself — how near-dup runs in steady state at 100 TB
    * (a daily crawl lands against three years of history; base×base
    * was settled yesterday). The cutoff is the data-derived top
    * quarter of the doc_id span; ingest assigns ids monotonically, so
    * every delta id exceeds every base id and ONE equi-join — full
    * corpus (a) × delta only (b), a.doc_id < b.doc_id — enumerates
    * exactly the pairs with a delta member in canonical order while
    * structurally excluding base×base: probe cost is O(delta·df), not
    * O(corpus²). Shingle relation, full-corpus df-cap (the stored
    * index stats a production run would reuse) and Jaccard arithmetic
    * are all q52's, so the two surfaces can never drift; `pair_kind`
    * separates the vs_corpus hits (drop the new doc) from the
    * within_batch ones (pick a batch survivor). The oracle is q52's
    * restricted to delta pairs, proving the restriction loses nothing.
    */
  def incrementalDedup(spark: SparkSession, dir: String,
                       minJ: Double = minJaccard): DataFrame =
    incrementalDedupCore(Tables.spread(Tables.documents(spark, dir)), minJ)

  private[graft] def incrementalDedupCore(docs: DataFrame,
                                          minJ: Double): DataFrame = {
    val cut = docs.agg(
      expr("min(doc_id) + 3 * ((max(doc_id) - min(doc_id) + 1) div 4)")
        .as("cut_id"))
    val rows = docs
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(
          shingles(TextFunctions.tokens(col("text")), shingleSize))).as("sh"))
      .repartition(col("sh"))
      .crossJoin(broadcast(cut))
    val hot = rows.groupBy("sh")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf)
      .select("sh")
    val capped = rows.join(hot, Seq("sh"), "left_anti")
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = capped.as("a")
      .join(capped.filter(col("doc_id") >= col("cut_id")).as("b"),
        col("a.sh") === col("b.sh") && col("a.lang") === col("b.lang")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.cut_id").as("cut_id"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jac_raw",
        col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jac_raw") >= minJ)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        round(col("jac_raw"), 6).as("jaccard"),
        when(col("doc_a") >= col("cut_id"), lit("within_batch"))
          .otherwise(lit("vs_corpus")).as("pair_kind"))
      .orderBy("doc_a", "doc_b")
  }

  // ---- MinHash + banded LSH --------------------------------------------

  val numHashes = 16
  val bandSize = 4
  /** Prime just above 2^32 for the (a·x + b) mod p permutation family.
    * The raw xxhash64 is first reduced mod p (x < 2^32+15) and a < 2^30,
    * so a·x + b < 2^62 + 2^32 — never overflows a signed 64-bit long
    * (Spark 4 runs ANSI mode: silent wraparound is an error, and modular
    * hashing must stay in-domain anyway).
    */
  private val prime = 4294967311L
  private val hashParams: Seq[(Long, Long)] = {
    val rng = new scala.util.Random(7L)
    Seq.fill(numHashes)(
      (math.abs(rng.nextLong()) % ((1L << 30) - 1) + 1,
        math.abs(rng.nextLong()) % prime))
  }

  /** MinHash signature per doc: explode distinct shingles once, take the
    * min of each of the `numHashes` permuted hashes in one aggregation —
    * map-side partial min means the shuffle carries one row per doc per
    * partition, not one per shingle.
    */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSignaturesCore(Tables.documents(spark, dir))

  /** Core over any (doc_id, lang, text) frame — bench/fixture seam. */
  /** PER-ROW MinHash signature, arithmetically identical to
    * [[minhashSignaturesCore]]'s grouped min — same distinct-shingle
    * set, same pmod(xxhash64·a + b, prime) chain, SHARED constants so
    * the two forms cannot drift (StreamingQueriesSpec pins exact
    * equality). NULL when the doc yields no shingles (the grouped form
    * emits no row for those docs). This is the shape a stream wants:
    * signature as a stateless projection on the incoming row, no
    * aggregation before the keyed-state stage. (The batch kernel keeps
    * the explode+groupBy shape because there the map-side partial min
    * is the scale story — one row per doc per partition in the
    * shuffle.) The a·h product stays under 2⁶³: h < prime ≈ 2³², a <
    * 2³⁰ by construction of [[hashParams]].
    */
  private[graft] def rowSignature(text: Column): Column = {
    val shs = array_distinct(shingles(TextFunctions.tokens(text), shingleSize))
    val hs = transform(shs, s => pmod(xxhash64(s), lit(prime)))
    val mins = hashParams.map { case (a, b) =>
      array_min(transform(hs, h => pmod(h * lit(a) + lit(b), lit(prime))))
    }
    when(size(shs) > 0, array(mins: _*))
  }

  private[graft] def minhashSignaturesCore(docs: DataFrame): DataFrame = {
    val base = shingleRowsOf(docs)
      .withColumn("h", pmod(xxhash64(col("sh")), lit(prime)))
    val mins = hashParams.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(prime))).as(s"mh_$i")
    }
    base.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"mh_$i")): _*).as("signature"))
      .orderBy("doc_id")
  }

  /** Banded-LSH near-dup candidates: docs sharing any full band of the
    * signature. Bucket key = (band index, band values); pairs form only
    * inside buckets — never an all-pairs comparison. Estimated Jaccard =
    * fraction of matching signature positions; candidates are then kept
    * at ≥ `minEst`.
    */
  def lshCandidates(spark: SparkSession, dir: String, minEst: Double = 0.5): DataFrame =
    lshCandidatesCore(Tables.documents(spark, dir), minEst)

  /** Core over any (doc_id, lang, text) frame — bench/fixture seam. */
  private[graft] def lshCandidatesCore(docs: DataFrame, minEst: Double = 0.5): DataFrame = {
    val numBands = numHashes / bandSize
    // no persist: both self-join sides are identical subtrees, and
    // Catalyst's ReuseExchange computes the signature aggregation once —
    // caching would replace that with a costlier materialization
    // (measured 2× slower at sf0.1)
    val sigs = minhashSignaturesCore(docs)
    val banded = sigs.select(
      col("doc_id"), col("signature"),
      explode(array((0 until numBands).map(bnd =>
        struct(lit(bnd).as("band"),
          slice(col("signature"), bnd * bandSize + 1, bandSize).as("key"))): _*))
        .as("bucket"))
    // each pair is emitted ONLY by its first colliding band (no earlier
    // band's keys match) — exactly-once by construction, same trick as
    // Similarity.embeddingNearDups. The former dropDuplicates here was
    // a whole extra exchange hauling both 16-long signature arrays per
    // candidate pair.
    val firstBand = not((0 until numBands - 1).map(s =>
      col("a.bucket.band") > s &&
        slice(col("a.signature"), s * bandSize + 1, bandSize) ===
        slice(col("b.signature"), s * bandSize + 1, bandSize))
      .reduce(_ || _))
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .filter(firstBand)
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.signature").as("sig_a"), col("b.signature").as("sig_b"))
    pairs
      .withColumn("est_jaccard",
        round(size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          when(x === y, 1).otherwise(0)), v => v === 1)).cast("double")
          / numHashes, 6))
      .filter(col("est_jaccard") >= minEst)
      .select("doc_a", "doc_b", "est_jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash signature per doc via the custom codegen'd Catalyst
    * expression (graft.expr.SimHash64) — one projection, no UDF.
    */
  def simhashes(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        SimHash64(TextFunctions.filteredTokens(col("text"))).as("simhash"))
      .orderBy("doc_id")

  /** q330 — MD5-DERIVED SIMHASH SIGNATURES, fully oracle-gated (r15
    * verdict task 3, resolved by conversion + a documented negative
    * result): the registered q55 hashes each token with XXH64(seed 42)
    * — a hash DuckDB does not implement, so q55's exact relation
    * genuinely cannot be replayed (the negative half, recorded in
    * BASELINE.json's no_oracle_classes). But nothing about the SIMHASH
    * PATTERN needs XXH64: this twin derives each token's 64 bits from
    * md5 (bit-identical in both engines — the q58/q94 nibble idiom),
    * runs the identical tf-weighted sign-sum majority rule
    * (SimHash64's kernel semantics: bit b set iff Σ±tf > 0), and emits
    * the signature as two 32-bit halves (sig_hi, sig_lo — BIGINT-safe
    * in both engines; a packed 64-bit value would need bit 63, whose
    * sign differs between Spark's Long and a replayable DuckDB
    * BIGINT literal). The q327-for-q65 move applied to the
    * seeded-signature class: q55/q56 stay registered for the
    * codegen'd XXH64 production path; the md5 twin proves the
    * machinery against the oracle.
    *
    * Scale: ONE codegen'd projection over the scan — the
    * [[graft.expr.SimHashMd5]] kernel walks each doc's token array
    * once (one md5 per distinct token via a per-row digest cache),
    * accumulates the 64 ±tf lanes locally, and emits the two halves;
    * no explode, no shuffle before the final orderBy. This is the
    * production SimHash64 shape with md5-derived bits (r16 verdict
    * task 1 — the previous plan fanned 64 rows per distinct token
    * through two shuffled aggregates and cost 16% of the bench).
    * Token-less docs leave the relation via the kernel's null (the
    * oracle's tok-CTE grain).
    */
  def simhashMd5(spark: SparkSession, dir: String): DataFrame =
    simhashMd5Core(Tables.spread(Tables.documents(spark, dir)))

  private[graft] def simhashMd5Core(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(SimHashMd5(TextFunctions.filteredTokens(col("text"))))
          .as("sig"))
      .select(col("doc_id"), col("sig.sig_hi").as("sig_hi"),
        col("sig.sig_lo").as("sig_lo"))
      .orderBy("doc_id")

  /** q331 — MD5-SIMHASH NEAR-DUP PAIRS, oracle-gated end to end: q56's
    * banded blocking (4×16-bit sub-bands over the 64 bits — pigeonhole
    * catches every Hamming ≤ 3 pair) and exact-Hamming verify
    * (bit_count over XOR, identical on the non-negative 32-bit halves
    * in both engines), over [[simhashMd5]]'s replayable signatures.
    * With q330 this oracle-gates the ENTIRE simhash pipeline shape —
    * signature, banding, exactly-once emission, Hamming verify — that
    * q55/q56/q304 could only pin by spec.
    *
    * Scale: q56's argument verbatim (the banded bucket join IS the
    * shipped production plan); the oracle emits DISTINCT pairs where
    * the engine uses the first-colliding-band predicate — same
    * relation, exactly-once by construction.
    */
  def simhashMd5Pairs(spark: SparkSession, dir: String,
                      maxHamming: Int = 3): DataFrame =
    simhashMd5PairsCore(Tables.spread(Tables.documents(spark, dir)), maxHamming)

  private[graft] def simhashMd5PairsCore(docs: DataFrame,
                                         maxHamming: Int = 3): DataFrame = {
    val bandBits = 16
    val mask = (1L << bandBits) - 1
    val sigs = simhashMd5Core(docs)
    // band 0/1 from the low half, 2/3 from the high — all values
    // non-negative < 2^32, so shiftright and XOR agree cross-engine
    def bandKey(side: String, bnd: Int): Column = {
      val half = if (bnd < 2) col(s"$side.sig_lo") else col(s"$side.sig_hi")
      shiftrightunsigned(half, (bnd % 2) * bandBits).bitwiseAND(lit(mask))
    }
    val banded = sigs.select(col("doc_id"), col("sig_hi"), col("sig_lo"),
      explode(array((0 until 4).map(bnd =>
        struct(lit(bnd).as("band"),
          shiftrightunsigned(if (bnd < 2) col("sig_lo") else col("sig_hi"),
            (bnd % 2) * bandBits).bitwiseAND(lit(mask)).as("key"))): _*))
        .as("bucket"))
    val firstBand = not((0 until 3).map(s =>
      col("a.bucket.band") > s && bandKey("a", s) === bandKey("b", s))
      .reduce(_ || _))
    banded.as("a")
      .join(banded.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .filter(firstBand)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (expr("bit_count(a.sig_lo ^ b.sig_lo)")
          + expr("bit_count(a.sig_hi ^ b.sig_hi)")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** q333/q334 register count and banding (4 bands × 4 rows — the
    * q54 scheme at k=16).
    */
  val minhashMd5K = 16
  val minhashMd5Bands = 4

  /** q333 — MD5-DERIVED MINHASH SIGNATURES, fully oracle-gated: the
    * q330-for-q55 move applied to the OTHER seeded-signature
    * subfamily. q53's registers chain xxhash64 through seeded affine
    * maps — unreplayable in DuckDB (no XXH64) — but the MinHash
    * PATTERN only needs k independent hashes. Register r's hash of a
    * shingle is the r%4-th 32-bit SLICE of md5("r/4:shingle") — one
    * md5 per GROUP of four registers (the standard few-strong-hashes
    * economy: a 128-bit digest carries four independent 32-bit
    * registers, so k=16 costs 4 hashes per shingle, not 16), salt by
    * the q58 idiom. The signature is the per-register min over the
    * doc's DISTINCT shingles (set semantics, exactly q53's). Output
    * at (doc_id, reg, minhash) grain — flat rows, not an array,
    * because the driver's hash compare can't hash list cells (the q34
    * members-serialization lesson, avoided instead of re-learned).
    *
    * Scale: ONE generator expression computes the k register hashes
    * per shingle row (the 4 digests evaluate once inside it — NOT as
    * k separate aggregate columns, where projection collapse would
    * inline and re-evaluate the digest chain per column, measured
    * 2.5× slower) and fans ×k into a map-side-combining min agg keyed
    * (doc, reg) — q53's grouped-min shuffle shape, 4 md5s per shingle.
    */
  def minhashMd5(spark: SparkSession, dir: String): DataFrame =
    minhashMd5Core(Tables.documents(spark, dir)).orderBy("doc_id", "reg")

  /** [[Tables.spread]] threshold for the md5-register kernels: the 4 MB
    * default was calibrated on tokenize-grade work, and the minhash
    * kernel does ~32× that per input byte (4 md5 digests per ~40-byte
    * shingle, shingle bytes ≈ 3× text bytes), so a footer-packed file
    * is worth spreading ~32× earlier. Scale-honest by spread's own
    * gates: on a properly-split 100-TB source the partition-count gate
    * makes this a no-op — it exists exactly for the single-file scan
    * that otherwise runs the digest chain on one core (measured at
    * sf0.1: the whole q333 pipeline serial on 1 partition, 6.5 s warm).
    */
  private[graft] val md5KernelSpreadBytesPerCore: Long =
    Tables.spreadMinBytesPerCore / 32

  /** (doc_id, reg, minhash) unsorted — q334's input seam. One codegen'd
    * kernel pass per doc (graft.expr.MinHashMd5 — the SimHashMd5 move,
    * r17): the k register minima come out as an ordered struct array,
    * so a single explode replaces the previous explode-shingles →
    * 4-digests-per-row → ×k posexplode → two-exchange min aggregate
    * chain. Register arithmetic is bit-identical (kernel scaladoc);
    * the oracle replays its own CTE chain unchanged.
    */
  private[graft] def minhashMd5Core(docs: DataFrame): DataFrame =
    Tables.spread(docs, md5KernelSpreadBytesPerCore)
      .select(col("doc_id"), explode(graft.expr.MinHashMd5(
          array_distinct(shingles(TextFunctions.tokens(col("text")), shingleSize)),
          minhashMd5K)).as("rm"))
      .select(col("doc_id"), col("rm.reg").as("reg"),
        col("rm.minhash").as("minhash"))

  /** q334 — MD5-MINHASH BANDED LSH CANDIDATES, oracle-gated end to
    * end: q54's banding (4 bands of 4 registers; a pair is a candidate
    * iff some band's 4 registers all agree), exactly-once via the
    * first-colliding-band predicate on the per-doc band-key array, and
    * the estimated Jaccard as EXACT integers — est_ppm = n_eq·10⁶ div
    * k (matching registers over k), kept at the production 0.5 floor
    * (500000 ppm). With q333 this oracle-gates the entire MinHash+LSH
    * pipeline shape q53/q54/q285 could only pin by spec.
    *
    * Scale: q54's argument — banded bucket equi-join, never all-pairs;
    * the register-agreement count is a k-element zip over the two
    * band-key-derived signatures carried on the joined rows.
    */
  def minhashMd5Candidates(spark: SparkSession, dir: String): DataFrame =
    minhashMd5CandidatesCore(Tables.documents(spark, dir))

  private[graft] def minhashMd5CandidatesCore(docs: DataFrame): DataFrame = {
    val k = minhashMd5K
    val rowsPerBand = k / minhashMd5Bands
    // per-doc signature array (ordered by reg) + band keys derived
    // from it — one aggregation, reused by both join sides
    val sigs = minhashMd5Core(docs)
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(reg, minhash)))," +
        " s -> s.minhash)").as("sig"))
      .withColumn("keys", expr(
        s"""transform(sequence(0, ${minhashMd5Bands - 1}),
              b -> array_join(slice(sig, b * $rowsPerBand + 1, $rowsPerBand),
                              ':'))"""))
    val banded = sigs.select(col("doc_id"), col("sig"), col("keys"),
      posexplode(col("keys")).as(Seq("band", "key")))
    val firstBand = not((0 until minhashMd5Bands - 1).map(s =>
      col("a.band") > s &&
        element_at(col("a.keys"), s + 1) === element_at(col("b.keys"), s + 1))
      .reduce(_ || _))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
      .filter(firstBand)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("""size(filter(zip_with(a.sig, b.sig,
                  (x, y) -> x = y), v -> v))""").cast("long").as("n_eq"))
      .withColumn("est_ppm", expr(s"n_eq * 1000000L div $k"))
      .filter(col("est_ppm") >= 500000L)
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup pairs: block on sub-bands of the 64-bit
    * signature (pigeonhole: k equal-width bands catch every pair
    * within Hamming k−1 — the shipped 4×16-bit split catches the
    * production Hamming ≤ 3 contract), verify by exact Hamming
    * distance — bucket-join, not all-pairs.
    *
    * SCALE LEVER (r12 verdict task 3 — now a PARAMETER, measured in
    * DedupScaleBench): with a fixed sub-band width w, two random
    * signatures collide on some band with probability ≈ (64/w)/2^w —
    * a constant FRACTION of all-pairs, i.e. quadratic candidate
    * growth with a small constant (4/2¹⁶ ≈ 6e-5: fine to ~10⁶ docs,
    * not a 100-TB shape). The width must grow with log₂(corpus):
    * `bandBits = 32` gives 2/2³² ≈ 5e-10 — at 10⁹ docs the expected
    * random-collision volume stays ~O(N) — while pigeonhole still
    * guarantees every Hamming ≤ 1 pair (k−1 = 1). The recall/width
    * trade is explicit: wider bands catch a smaller guaranteed radius
    * (near-dup SimHash pairs concentrate at small Hamming anyway;
    * DedupScaleBench measures planted-pair recall at both widths).
    * Correctness is width-independent because the verify stage is
    * exact Hamming on the full 64-bit signature.
    */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    simhashPairsCore(Tables.documents(spark, dir), maxHamming)

  /** Core over any (doc_id, text) frame — bench/fixture seam.
    * `bandBits` ∈ {8, 16, 32}: sub-band width; 64/bandBits bands.
    */
  private[graft] def simhashPairsCore(docs: DataFrame, maxHamming: Int = 3,
                                      bandBits: Int = 16): DataFrame = {
    require(bandBits > 0 && 64 % bandBits == 0 && bandBits < 64,
      s"bandBits must divide 64 and leave >=2 bands, got $bandBits")
    val nBands = 64 / bandBits
    val mask = (1L << bandBits) - 1
    // no persist — ReuseExchange dedupes the identical self-join sides
    val sigs = Tables.spread(docs)
      .select(col("doc_id"),
        SimHash64(TextFunctions.filteredTokens(col("text"))).as("simhash"))
    val banded = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until nBands).map(bnd =>
        struct(lit(bnd).as("band"),
          shiftrightunsigned(col("simhash"), bnd * bandBits)
            .bitwiseAND(lit(mask)).as("key"))): _*)).as("bucket"))
    // first-colliding-sub-band emission (see lshCandidates): replaces a
    // dropDuplicates exchange over every candidate pair with a cheap
    // codegen'd predicate on the two 64-bit signatures already in hand.
    val firstBand = not((0 until nBands - 1).map(s =>
      col("a.bucket.band") > s &&
        shiftrightunsigned(col("a.simhash"), s * bandBits)
          .bitwiseAND(lit(mask)) ===
        shiftrightunsigned(col("b.simhash"), s * bandBits)
          .bitwiseAND(lit(mask)))
      .reduce(_ || _))
    banded.as("a")
      .join(banded.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .filter(firstBand)
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        SimHash64.hamming(col("a.simhash"), col("b.simhash")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** 128-BIT SIMHASH FOUR-BAND PAIRS — the r13-verdict-prescribed
    * design, implemented and MEASURED (DedupScaleBench `simhash128`
    * arm), and deliberately NOT the shipped scalable generator for the
    * production h64 ≤ 3 contract: doubling the signature width also
    * doubles a near-dup pair's Hamming distance (the halves flip
    * independently), so the radius-3-over-128-bits pigeonhole
    * guarantee under-covers the 64-bit contract — measured planted
    * recall 0.398/0.403 at 200k/500k docs vs 0.478/0.482 for the
    * complete 16-bit banding (a pair at h64 = 3 typically sits at
    * h128 ≈ 6–8, where the chance of a clean 32-bit band is only
    * ~0.5–0.9). The wider metric cancels the wider bands. The design
    * that actually delivers collision-free keys AND recall parity on
    * the UNCHANGED 64-bit contract is [[simhashBlockedPairs]] (q304).
    *
    * Kept as the measured alternative: candidate volume IS at the
    * collision-free floor (4/2³² ≈ 9e-10 of all-pairs — 0.01 cand/doc
    * flat at 500k), and `hamming128` is a finer-grained near-dup
    * metric a curation threshold may prefer outright. Verify stage is
    * exact on both metrics; the emitted relation is every band-
    * colliding pair within `maxHamming` of the 64-bit halves.
    */
  def simhash128Pairs(spark: SparkSession, dir: String,
                      maxHamming: Int = 3): DataFrame =
    simhash128PairsCore(Tables.documents(spark, dir), maxHamming)

  /** Core over any (doc_id, text) frame — bench/fixture seam. */
  private[graft] def simhash128PairsCore(docs: DataFrame,
                                         maxHamming: Int = 3): DataFrame = {
    val mask = 0xFFFFFFFFL
    // band k of [lo, hi]: 32-bit slices, lo low/high then hi low/high
    def bandKey(sig: Column, bnd: Int): Column = {
      val half = if (bnd < 2) sig.getItem(0) else sig.getItem(1)
      shiftrightunsigned(half, (bnd % 2) * 32).bitwiseAND(lit(mask))
    }
    val sigs = Tables.spread(docs)
      .select(col("doc_id"),
        graft.expr.SimHash128(TextFunctions.filteredTokens(col("text")))
          .as("sig"))
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(bnd =>
        struct(lit(bnd).as("band"), bandKey(col("sig"), bnd).as("key"))): _*))
        .as("bucket"))
    // first-colliding-sub-band emission (q54/q56 discipline): a cheap
    // codegen'd predicate on the signatures in hand, not a dropDuplicates
    // exchange over the candidate pairs
    val firstBand = not((0 until 3).map(s =>
      col("a.bucket.band") > s &&
        bandKey(col("a.sig"), s) === bandKey(col("b.sig"), s))
      .reduce(_ || _))
    banded.as("a")
      .join(banded.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .filter(firstBand)
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        SimHash64.hamming(col("a.sig").getItem(0), col("b.sig").getItem(0))
          .cast("long").as("hamming"),
        (SimHash64.hamming(col("a.sig").getItem(0), col("b.sig").getItem(0))
          + SimHash64.hamming(col("a.sig").getItem(1), col("b.sig").getItem(1)))
          .cast("long").as("hamming128"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** The 64-bit signature split into 6 blocks (11,11,11,11,10,10 bits)
    * as (shift, width); keys are concatenations of 3 blocks.
    */
  private[graft] val mankuBlocks: Seq[(Int, Int)] = {
    val widths = Seq(11, 11, 11, 11, 10, 10)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** The C(6,3) = 20 block-triples, lexicographic — each one bucket
    * family of ~32–33-bit keys.
    */
  private[graft] val mankuCombos: Seq[Seq[Int]] =
    (0 until 6).combinations(3).map(_.toSeq).toSeq

  /** q304 — SIMHASH NEAR-DUP PAIRS WITH 10⁹-DOC-SCALE BLOCKING (r13
    * verdict task 1, resolved by measurement): the EXACT q56 output
    * relation — every pair within Hamming ≤ `maxHamming` (3) on the
    * unchanged 64-bit signature, verified exactly — generated by the
    * published Manku–Jain–Sarma blocking (WWW 2007, §3: the Google
    * simhash dedup design) instead of q56's 4×16-bit bands: split the
    * signature into 6 blocks and bucket on each of the C(6,3) = 20
    * block-TRIPLES (~33-bit keys). Pigeonhole on blocks: ≤ 3 flipped
    * bits touch ≤ 3 blocks, so 3 blocks are clean and THAT triple's
    * key matches — completeness for the full radius-3 contract is
    * structural, recall parity with q56 is equality (DedupSpec pins
    * set-equality on the corpus; DedupScaleBench measures identical
    * planted recall).
    *
    * Why not the r13-prescribed 128-bit 4×32 banding: measured, it
    * loses ~17% of contract pairs (see [[simhash128Pairs]]) because
    * the wider metric doubles each pair's Hamming. Why not q56's
    * 16-bit bands at scale: each band collides a constant 4/2¹⁶ of
    * ALL pairs — measured 20.3 candidates/doc at 500k docs and
    * growing linearly (quadratic total). Here each of the 20 bucket
    * families collides ~2⁻³³ of all-pairs (~20·2⁻³³ ≈ 2.3e-9 total —
    * O(N) expected collisions at 10⁹ docs) and the bucket fan-out is
    * a per-doc CONSTANT (20 rows) — the classic space-for-
    * completeness trade, linear in the corpus.
    *
    * Rows-only like q55/q56 (hash-seeded signature, no DuckDB twin);
    * the set-equality spec against independently-banded q56 is the
    * strongest gate available — two structurally different complete
    * generators must produce the identical relation.
    */
  def simhashBlockedPairs(spark: SparkSession, dir: String,
                          maxHamming: Int = 3): DataFrame =
    simhashBlockedPairsCore(Tables.documents(spark, dir), maxHamming)

  /** Core over any (doc_id, text) frame — bench/fixture seam. */
  private[graft] def simhashBlockedPairsCore(docs: DataFrame,
                                             maxHamming: Int = 3): DataFrame = {
    def comboKey(sig: Column, combo: Seq[Int]): Column =
      combo.foldLeft(lit(0L)) { (acc, b) =>
        val (off, w) = mankuBlocks(b)
        shiftleft(acc, w).bitwiseOR(
          shiftrightunsigned(sig, off).bitwiseAND(lit((1L << w) - 1)))
      }
    val sigs = Tables.spread(docs)
      .select(col("doc_id"),
        SimHash64(TextFunctions.filteredTokens(col("text"))).as("simhash"))
    val banded = sigs.select(col("doc_id"), col("simhash"),
      explode(array(mankuCombos.zipWithIndex.map { case (cmb, i) =>
        struct(lit(i).as("band"), comboKey(col("simhash"), cmb).as("key"))
      }: _*)).as("bucket"))
    // first-colliding-combo emission (q54/q56 discipline): dedupe the
    // ≤20-fold multi-bucket hits with a codegen'd predicate over the
    // two signatures, not an exchange over candidate pairs
    val firstBand = not(mankuCombos.zipWithIndex.init.map { case (cmb, i) =>
      col("a.bucket.band") > i &&
        comboKey(col("a.simhash"), cmb) === comboKey(col("b.simhash"), cmb)
    }.reduce(_ || _))
    banded.as("a")
      .join(banded.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .filter(firstBand)
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        SimHash64.hamming(col("a.simhash"), col("b.simhash")).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** q314 window width (tokens). Lee et al. use 50 BPE tokens over
    * web documents; this corpus is 10-99 whitespace tokens per doc
    * (median 56), so the equivalent "long enough that chance
    * collisions are impossible, short enough that real spans exist"
    * width is 20.
    */
  private[graft] val dupSpanW = 20

  /** q314 — DUPLICATE-SPAN COVERAGE (windowed ExactSubstr — the
    * measurement behind Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better", §4.1): document-level dedup (q50)
    * misses the dominant real-world regime — documents that are NOT
    * copies but CONTAIN long verbatim runs of each other (licenses,
    * boilerplate, quoted posts). Per doc: how many of its w-token
    * windows occur ≥2 times in the whole corpus (within- or
    * cross-document), and how many of its token POSITIONS those
    * duplicated windows cover (position union, q305's no-double-count
    * discipline) — the exact mass ExactSubstr dedup would cut. Exact
    * truncating ppm; `mostly_dup` is the cross-multiplied ≥50% flag.
    * Docs shorter than w have no windows and are absent (the q41
    * zero-token stance).
    *
    * Scale vs the suffix-array original: windows are one row per
    * token (linear), the duplicate set is one hash agg on md5 keys,
    * and coverage fans out w positions per DUPLICATED occurrence only
    * — linear in the duplicated mass, never pair-quadratic (no cap
    * needed: a window occurring k times costs k·w rows, not C(k,2)).
    */
  def duplicateSpans(spark: SparkSession, dir: String): DataFrame =
    duplicateSpansCore(Tables.spread(Tables.documents(spark, dir)))

  /** The q314/q315 shared window relation: one (doc, window-hash,
    * start) row per token position that opens a full window; md5 of
    * the space-joined window = the shuffle key (32 hex chars instead
    * of a ~120-char token run), same digest on the oracle side. ONE
    * explicit exchange on the hash key under every consumer (r17 —
    * the q52 ReuseExchange discipline): the before-plan carried 12
    * parquet scans because the tokenize+window+md5 subtree re-ran for
    * each of the five consumers, each time serially on the
    * footer-packed single file (plans/r17/q314_*_before.txt).
    */
  private def dupWindows(docs: DataFrame, w: Int): DataFrame =
    Tables.spread(docs, md5KernelSpreadBytesPerCore)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.expr.TextFunctions.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= w)
      .select(col("doc_id"), explode(expr(
        s"""transform(
              filter(sequence(1, size(ws)), i -> i + ${w - 1} <= size(ws)),
              i -> struct(
                md5(cast(concat_ws(' ', slice(ws, i, $w)) as binary)) as h,
                i as start))""")).as("t"))
      .select(col("doc_id"), col("t.h").as("h"), col("t.start").as("start"))
      .repartition(col("h"))

  /** Core over any (doc_id, text) frame — fixture seam. */
  private[graft] def duplicateSpansCore(docs: DataFrame,
                                        w: Int = dupSpanW): DataFrame = {
    val win = dupWindows(docs, w)
    val dup = win.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val dupOcc = win.join(dup, Seq("h"))
    val cov = dupOcc
      .select(col("doc_id"),
        explode(expr(s"sequence(start, start + ${w - 1})")).as("pos"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_tokens"))
    val wstats = win.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    val dupw = dupOcc.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_windows"))
    // n_words = n_windows + w − 1 exactly: every kept doc has
    // size(ws) ≥ w, so n_windows = size − w + 1 ≥ 1 — the identity
    // drops the former per-doc sizes branch (one more full
    // tokenize+scan) from the plan (r17)
    wstats
      .withColumn("n_words", col("n_windows") + (w - 1).toLong)
      .join(dupw, Seq("doc_id"), "left")
      .join(cov, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup_windows", "n_dup_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_windows"),
        col("n_dup_windows"), col("n_dup_tokens"),
        expr("""cast(cast(n_dup_tokens as decimal(38,0)) * 1000000
                div n_words as bigint)""").as("dup_span_ppm"),
        (col("n_dup_tokens") * 2L >= col("n_words")).as("mostly_dup"))
      .orderBy("doc_id")
  }

  /** q315 kept-fragment floor: segments shorter than this survive no
    * ExactSubstr cut (Lee et al. drop sub-sentence fragments — a
    * 1-4-token island between two cut spans is noise, not data).
    */
  private[graft] val spanKeepMin = 5

  /** q315 — SPAN-REMOVAL MANIFEST (the EDIT q314 measures): per doc,
    * the maximal intervals of token positions NOT covered by any
    * duplicated w-window — i.e. exactly what survives an ExactSubstr
    * cut (Lee et al. 2021 §4.1 removes the duplicated substring and
    * keeps the flanks). q314 answers "how much would dedup cut";
    * this emits the cut itself as (doc_id, seg_start, seg_end,
    * seg_len) kept segments, fragments under [[spanKeepMin]] dropped.
    * Clean docs keep one whole-doc segment; wall-to-wall duplicated
    * docs keep nothing.
    *
    * Scale: the interval algebra runs on the DUPLICATED occurrences
    * only — covered intervals merge via a per-doc running-max window
    * (the q-interval-union kernel), kept segments are the lag-gaps
    * plus head/tail — never an all-positions explode; docs without a
    * single duplicated window bypass the window path entirely via the
    * anti-join branch.
    */
  def spanRemovalManifest(spark: SparkSession, dir: String): DataFrame =
    spanRemovalManifestCore(Tables.spread(Tables.documents(spark, dir)))

  /** Core over any (doc_id, text) frame — fixture seam. */
  private[graft] def spanRemovalManifestCore(docs: DataFrame,
                                             w: Int = dupSpanW,
                                             keepMin: Int = spanKeepMin)
      : DataFrame = {
    // the q314 shared-window discipline (see dupWindows): one exchange
    // under every consumer; n_words derives from the per-doc window
    // count (n_windows + w − 1), dropping the former sizes branch
    val win = dupWindows(docs, w)
    val dup = win.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val occ = win.join(dup, Seq("h"))
      .select(col("doc_id"), col("start").cast("long").as("s"),
        (col("start") + (w - 1)).cast("long").as("e"))
    // merge covered intervals: new island iff this window starts past
    // the running max end + 1 (touching intervals merge, a 1-position
    // gap does not)
    val wOrd = Window.partitionBy("doc_id").orderBy("s")
    val islands = occ
      .withColumn("pme",
        max("e").over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("pme").isNull || col("s") > col("pme") + 1L, 1L)
          .otherwise(0L))
      .withColumn("isl",
        sum("ni").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "isl")
      .agg(min("s").as("c_start"), max("e").as("c_end"))
    val n = win.groupBy("doc_id").agg(
      (count(lit(1)) + (w - 1).toLong).as("n_words"))
    val wIsl = Window.partitionBy("doc_id").orderBy("c_start")
    // the gap BEFORE each covered island (head gap via the lag-null
    // coalesce), the tail gap after the last island, and whole clean docs
    val gaps = islands
      .withColumn("prev_end", lag("c_end", 1).over(wIsl))
      .select(col("doc_id"),
        (coalesce(col("prev_end"), lit(0L)) + 1L).as("seg_start"),
        (col("c_start") - 1L).as("seg_end"))
    val tails = islands.groupBy("doc_id").agg(max("c_end").as("last_end"))
      .join(n, Seq("doc_id"))
      .select(col("doc_id"), (col("last_end") + 1L).as("seg_start"),
        col("n_words").as("seg_end"))
    val clean = n
      .join(islands.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(1L).as("seg_start"),
        col("n_words").as("seg_end"))
    gaps.unionByName(tails).unionByName(clean)
      .filter(col("seg_end") - col("seg_start") + 1L >= keepMin)
      .select(col("doc_id"), col("seg_start"), col("seg_end"),
        (col("seg_end") - col("seg_start") + 1L).as("seg_len"))
      .orderBy("doc_id", "seg_start")
  }

  /** The dedup END STEP a training-data pipeline actually needs: the
    * pair relations (exact md5 groups + Jaccard near-dups) merged into
    * duplicate CLUSTERS with a canonical representative (min doc_id) —
    * the "keep one per cluster" decision, not just candidate pairs.
    *
    * Exact groups enter as STAR edges (min-doc rep → member), so a
    * 10^6-copy boilerplate document contributes 10^6−1 edges and
    * converges in one CC iteration — never the quadratic pair set.
    * Near-dup edges are q52's (already df-capped + lang-blocked).
    * Components via GraphX CC over doc_id vertex ids; the vertex set is
    * only the docs that appear in some duplicate pair — at 100 TB the
    * graph is proportional to the DUPLICATED subset, not the corpus.
    * Output is label-free (rep = min member), so a DuckDB recursive-CTE
    * closure reproduces it exactly (q34 pattern).
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterMembers(clusterAssignmentsCore(Tables.documents(spark, dir)))

  /** Shared q57/q313 shaping: assignment grain → one row per cluster
    * with the sorted member list and its size.
    */
  private def clusterMembers(asg: DataFrame): DataFrame = asg
    .groupBy("cluster")
    .agg(sort_array(collect_list("doc_id")).as("members"),
      count(lit(1)).as("n_members"))
    .select(
      col("members")(0).as("cluster_rep"),
      array_join(transform(col("members"), _.cast("string")), ",").as("members"),
      col("n_members"))
    .orderBy("cluster_rep")

  /** q313 — DUPLICATE CLUSTERS WITH SIMHASH EDGES (r14 verdict task
    * 6): q57's end step over THREE pair sources — exact-md5 stars ∪
    * q52 Jaccard edges ∪ q304's Manku-blocked simhash pairs — so the
    * cluster relation finally sees the regime shingle Jaccard misses
    * at scale (frequency-weighted similarity: two docs dominated by
    * the same common-token mass whose distinct-shingle overlap is
    * small still sit within Hamming 3). The q304 generator is the
    * 10⁹-doc-scale design (20 per-doc-constant bucket keys, O(N)
    * expected collisions), so the third source costs what the other
    * two do — linear in the corpus, graph proportional to the
    * duplicated subset.
    *
    * Rows-only (the seeded-signature class — simhash has no DuckDB
    * twin, q55/q56/q304's classification): DedupSpec pins the full
    * relation against an independent plain-Scala union-find replica
    * over the same three pair sets, and pins the COARSENING law vs
    * q57 (every q57 cluster maps inside exactly one q313 cluster —
    * extra edges can only merge components, never split them).
    */
  def dedupClustersSimhash(spark: SparkSession, dir: String): DataFrame =
    clusterMembers(
      clusterAssignmentsCore(Tables.documents(spark, dir),
        simhashEdges = true))

  /** Duplicate-cluster membership at the ASSIGNMENT grain: (doc_id,
    * cluster) for every doc appearing in at least one duplicate pair,
    * cluster = min doc_id of its component (GraphX CC's label). The
    * shared core of q57 (which re-groups it into member lists) and the
    * q302 pipeline (which anti-joins the non-representatives away) —
    * the eager checkpoint means a caller composing several tiers pays
    * the pair-graph construction once.
    */
  private[graft] def clusterAssignmentsCore(
      docs0: DataFrame, simhashEdges: Boolean = false,
      md5SimhashEdges: Boolean = false): DataFrame = {
    import org.apache.spark.graphx.Graph
    val docs = docs0.filter(col("text").isNotNull)
    val fp = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    val reps = fp.groupBy("fp")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select("fp", "rep")
    val exactEdges = fp.join(reps, "fp")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("a"), col("doc_id").as("b"))
    val nearEdges = jaccardPairsCore(docs)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    // optional third edge source (r14 verdict task 6): q304's
    // Manku-blocked simhash pairs — the near-dup regime shingle
    // Jaccard misses (frequency-weighted similarity under heavy
    // common-token mass, where the distinct-shingle overlap is small
    // but the signatures sit within Hamming 3). Same per-doc-constant
    // generation cost as the other two sources; OFF by default so
    // q57/q302/q310's oracle-gated relations are untouched.
    val edgeFrames =
      if (simhashEdges) Seq(exactEdges, nearEdges, simhashBlockedPairsCore(docs)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
      // q336's regime: the md5-simhash pairs (q331) instead of q304's
      // XXH64-seeded ones — same third-edge semantics, DuckDB-replayable
      else if (md5SimhashEdges) Seq(exactEdges, nearEdges,
        simhashMd5PairsCore(docs)
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
      else Seq(exactEdges, nearEdges)
    val edges = edgeFrames.reduce(_ union _)
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    // the duplicate-pair graph is tiny next to the corpus: collapse it
    // before Pregel so iteration cost is scheduling-free (GraphOps does
    // the same for the lexicon-bounded co-occurrence graph)
    val g = Graph.fromEdgeTuples(edges.coalesce(2), defaultValue = 0)
    val cc = g.connectedComponents()
    val s = docs0.sparkSession
    import s.implicits._
    val out = cc.vertices.toDF("doc_id", "cluster").localCheckpoint(true)
    cc.unpersist(blocking = false)
    g.unpersist(blocking = false)
    out
  }

  /** q336 — DEDUP CLUSTERS OVER ALL THREE EDGE REGIMES, FULLY
    * ORACLE-GATED: q313's end-step (exact-md5 stars ∪ q52 Jaccard
    * edges ∪ simhash near-dup pairs → connected components → member
    * lists) with the XXH64-seeded q304 edge source swapped for q331's
    * md5-derived pairs — so the complete three-regime cluster relation
    * finally replays in DuckDB (q57's recursive closure + the q331
    * pair CTEs as the third `e` source), where q313 could only be
    * pinned by replica. The q330-move completed at the COMPOSITION
    * level: signature → banding → Hamming verify → cluster closure,
    * every stage rows+schema+hash-gated. q313 stays registered for
    * the production XXH64 path.
    *
    * Scale: q313's argument verbatim — three per-doc-constant pair
    * generators, graph bounded by the duplicated subset.
    */
  def dedupClustersMd5(spark: SparkSession, dir: String): DataFrame =
    clusterMembers(
      clusterAssignmentsCore(Tables.documents(spark, dir),
        md5SimhashEdges = true))

  /** q310 — QUALITY-AWARE CANONICAL PICK PER DUPLICATE CLUSTER: q57
    * answers "which docs are copies of each other"; this answers the
    * decision a production dedup actually ships — WHICH copy to keep.
    * Min-doc-id (q57's label, q302's tier-1 rule) is the standard
    * arbitrary-but-stable choice; the better rule is quality-aware:
    * per cluster keep the member winning the total order (Gopher keep
    * DESC, token count DESC, doc_id ASC) — a gate-passing member beats
    * a failing one, the longest wins among equals, and the id breaks
    * exact ties deterministically. `differs_from_min` audits how often
    * the quality pick disagrees with the naive label — the number that
    * justifies (or retires) the extra compute.
    *
    * Exact integers/booleans only, so the argmax replays in DuckDB as
    * a window over the same recursive closure (the q57 oracle) joined
    * to the q291 keep bit and token counts.
    *
    * Scale: the cluster relation is bounded by the DUPLICATED subset
    * (q57's argument), the per-cluster window runs over member lists
    * (duplicate-group-sized), and the quality/token joins are doc_id
    * equi-joins.
    */
  def clusterCanonicalPick(spark: SparkSession, dir: String): DataFrame =
    clusterCanonicalPickCore(
      Tables.spread(Tables.documents(spark, dir))
        .filter(col("text").isNotNull)
        .select("doc_id", "lang", "text")
        .localCheckpoint(true))

  /** Core over any (doc_id, lang, text) frame — fixture seam; the
    * caller materializes `docs` once for the cluster + quality passes.
    */
  private[graft] def clusterCanonicalPickCore(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val asg = clusterAssignmentsCore(docs)
    val keep = TextAnalysis.gopherRulesCore(docs)
      .select(col("doc_id"), col("keep"))
    val toks = docs.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
    val m = asg
      .join(keep, Seq("doc_id"), "left")
      .na.fill(false, Seq("keep"))
      .join(toks, Seq("doc_id"))
    val byQuality = Window.partitionBy("cluster")
      .orderBy(desc("keep"), desc("n_tok"), asc("doc_id"))
    m.withColumn("rn", row_number().over(byQuality))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cluster")))
      .filter(col("rn") === 1)
      .select(col("cluster").as("cluster_rep"),
        col("doc_id").as("picked"), col("n_members"),
        col("keep").as("picked_keep"), col("n_tok").as("picked_n_tok"),
        (col("doc_id") =!= col("cluster")).as("differs_from_min"))
      .orderBy("cluster_rep")
  }

  /** q87 — train/eval DECONTAMINATION: flag train-split documents that
    * share winnow fingerprints with the eval split (the standard
    * pre-training hygiene step — a contaminated train doc inflates eval
    * scores). Pure composition of two verified kernels: the q59 md5
    * split rule ([[Sampling.splitExpr]], the single definition both
    * consumers evaluate) and the q48 winnow fingerprint set (shared
    * substrings ≥ 8 code points guarantee shared fingerprints, so
    * verbatim leakage cannot hide behind small edits).
    *
    * Shape: the eval fingerprint universe is DISTINCT'd before the join
    * (at scale the eval set is a small curated corpus, so this is the
    * broadcast-sized side); train fingerprints left-join it on the
    * 64-bit fingerprint value (hash-uniform keys) and one aggregate per
    * train doc yields total vs shared counts. Only contaminated docs
    * are emitted.
    */
  def decontamination(spark: SparkSession, dir: String): DataFrame = {
    def fps(side: String) = Tables.documents(spark, dir)
      .withColumn("split", Sampling.splitExpr)
      .filter(col("split") === side)
      .select(col("doc_id"),
        explode(graft.expr.WinnowFingerprint(col("text"))).as("fp"))
    val evalFp = fps("eval").select("fp").distinct().withColumn("hit", lit(1))
    fps("train")
      .join(evalFp, Seq("fp"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"), count(col("hit")).as("n_shared"))
      .filter(col("n_shared") > 0)
      .select("doc_id", "n_fp", "n_shared")
      .orderBy("doc_id")
  }

  /** q232 span-gram length: the repeated-substring threshold, in
    * tokens. A shared run of `spanGramLen` consecutive tokens is the
    * unit of evidence; coverage is measured over the UNION of all such
    * runs, so a shared span of m ≥ spanGramLen tokens contributes
    * exactly m covered tokens (every window inside it matches).
    */
  val spanGramLen = 5

  /** q232 — EXACT SUBSTRING-SPAN COVERAGE: per document, how many of
    * its tokens sit inside a token run of length ≥ [[spanGramLen]] that
    * also appears in ANOTHER document — the per-doc accounting behind
    * exact-substring dedup (Lee et al. 2022 "Deduplicating Training
    * Data Makes Language Models Better" §3.1 builds a suffix array to
    * find such runs; the Spark-native equivalent is positional L-gram
    * fingerprints + one hash aggregate, no suffix structure to build or
    * shard). Winnowing (q48/q87) SAMPLES grams and answers "do these
    * docs share something"; q232 keeps EVERY position and answers "how
    * much of this doc is duplicated text" — the signal curation uses to
    * drop or trim boilerplate-heavy docs.
    *
    * Shape: one generator pass emits (doc, start, md5(L-token slice))
    * per position — corpus-token-scale, the honest cost of exact
    * substring accounting; a gram is "duplicated" iff its doc set has
    * ≥ 2 members, detected by min(doc) ≠ max(doc) in ONE hash aggregate
    * (never a count-distinct sketch, never a self-join). Matched
    * positions flow back through a LEFT SEMI join on the gram hash —
    * semi joins never multiply rows, so a boilerplate gram in millions
    * of docs costs its own row count, not a pair blowup. Per-doc
    * interval union is the gaps-and-islands running-max window,
    * partitioned by doc (frame = doc length, never corpus).
    */
  def substringSpanCoverage(spark: SparkSession, dir: String): DataFrame =
    spanCoverageCore(Tables.spread(Tables.documents(spark, dir)))

  /** The coverage transform over any (doc_id, text) frame; fixture seam
    * for the spec.
    */
  private[graft] def spanCoverageCore(docs: DataFrame): DataFrame = {
    val L = spanGramLen
    val toks = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ws"))
      .withColumn("n", size(col("ws")).cast("long"))
      .filter(col("n") >= L)
    val grams = toks
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), (col("n") - L).cast("int"))).as("start"))
      .select(col("doc_id"), col("start").cast("long").as("start"),
        md5(concat_ws(" ",
          slice(col("ws"), col("start") + 1, lit(L))).cast("binary"))
          .as("gram"))
    val dup = grams.groupBy("gram")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("gram")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("start")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val perDoc = grams
      .join(dup, Seq("gram"), "left_semi")
      .withColumn("contrib",
        greatest(lit(0L), (col("start") + (L - 1)) -
          greatest(col("start") - 1,
            coalesce(max(col("start") + (L - 1)).over(w), lit(-1L)))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dup_positions"),
        sum("contrib").as("covered_tokens"))
    toks.select(col("doc_id"), col("n").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_positions"), lit(0L)).as("dup_positions"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        expr("coalesce(covered_tokens, 0L) * 1000000 div n_tokens")
          .as("coverage_ppm"))
      .orderBy("doc_id")
  }

  type Q = (SparkSession, String) => DataFrame

  // ---- q247: edit-distance near-dups -----------------------------------

  /** q247 prefix-key length and edit budget. 160 chars (not 48):
    * the corpus's planted near-dups are byte-identical in their first
    * ~100 chars, so a shorter key only ever rediscovers exact dups
    * (lev = 0) and the edit path stays vacuous — at 160 the key spans
    * the first divergence and the nonzero-distance branch is
    * exercised (measured: 5 pairs at lev = 4 at sf0.01).
    */
  val levPrefixLen = 160
  val levMax = 12

  /** q247 — EDIT-DISTANCE NEAR-DUPLICATES over a document prefix key:
    * the character-grain sibling of the token-set family (q52 Jaccard
    * sees shared shingles, q56 SimHash sees hash bands; Levenshtein
    * sees INSERTIONS/EDITS directly — the only one of the three that
    * catches small in-place edits of otherwise-identical openings).
    * Pairs are blocked on the first two tokens of the prefix — the
    * standard linkage blocking trade (a near-dup whose edit falls in
    * the first two words is missed; candidate volume drops from n²/2
    * to Σ blocks b²/2) — then verified with Spark's THRESHOLDED
    * `levenshtein(l, r, max)`: the DP row early-exits once the budget
    * is exceeded (O(len·max) not O(len²), and no full distance is
    * computed for the vast majority of non-matching pairs).
    *
    * Scale: one shuffle on the block key; per-block work is quadratic
    * in block size, which the two-token key bounds by the corpus's
    * opening-bigram profile (same bound family as q140's name-blocking
    * and q56's band buckets). Skewed openings would salt the block key
    * exactly like q168.
    */
  def levenshteinNearDups(spark: SparkSession, dir: String): DataFrame =
    levNearDupsCore(Tables.documents(spark, dir))

  private[graft] def levNearDupsCore(docs: DataFrame): DataFrame = {
    val keyed = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        substring(col("text"), 1, levPrefixLen).as("k"))
      .withColumn("blk",
        concat_ws(" ", slice(split(col("k"), " "), 1, 2)))
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      // r18: graft.expr.LevenshteinBand == Spark's levenshtein(l,r,max)
      // bit-for-bit (LevenshteinBandSpec pins parity; the DuckDB oracle
      // re-checks the ≤-threshold region each round) but strips the
      // shared prefix/suffix first — blocked pairs share long openings
      // by construction, and the strip cuts the measured ~63 µs/pair
      // banded DP to the few bytes that differ
      .withColumn("lev",
        graft.expr.LevenshteinBand(col("a.k"), col("b.k"), levMax)
          .cast("long"))
      .filter(col("lev") >= 0 && col("lev") <= levMax)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("lev"))
      .orderBy("doc_a", "doc_b")
  }

  /** q262 bench-membership rule: every doc whose id is ≡0 mod this is
    * the held-out benchmark suite (deterministic stand-in for the real
    * eval files a decontamination pass guards).
    */
  private[graft] val benchMod = 97L

  /** q262 — EXACT N-GRAM CONTAMINATION: the GPT-3/PaLM-style exact
    * decontamination check, complementing q87's winnowing pass. q87
    * fingerprints a SAMPLE of spans (winnowing guarantees one pick per
    * window — robust, but a short overlap can fall between picks);
    * q262 is the exhaustive variant — EVERY 3-gram of the benchmark
    * set, equi-joined against every 3-gram of the training corpus, so
    * no overlap of ≥ 3 tokens escapes. Output: per contaminated doc,
    * total overlapping gram occurrences and distinct benchmark grams
    * hit — the evidence table a filtering decision reads.
    *
    * Scale: benchmark suites are small by construction (they are eval
    * sets, not corpora), so the distinct bench-gram side is
    * BROADCAST; the corpus side streams through the hash join with no
    * shuffle of the big relation at all, then one per-doc hash agg.
    */
  def ngramContamination(spark: SparkSession, dir: String): DataFrame =
    ngramContaminationCore(Tables.spread(Tables.documents(spark, dir)))

  /** Core over any (doc_id, text, …) frame — fixture seam. */
  private[graft] def ngramContaminationCore(docs: DataFrame): DataFrame = {
    val grams = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(shingles(TextFunctions.tokens(col("text")), shingleSize))
          .as("g"))
    val bench = grams.filter(col("doc_id") % benchMod === 0)
      .select("g").distinct()
    grams.filter(col("doc_id") % benchMod =!= 0)
      .join(broadcast(bench), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("g")).as("n_distinct_hits"))
      .orderBy("doc_id")
  }

  /** q264 segment grain (tokens per disjoint segment). */
  private[graft] val segDedupLen = 16

  /** q264 — SEGMENT-GRAIN DEDUP WITH DOC RETENTION: the
    * RefinedWeb/CCNet "line-level" dedup adapted to token segments —
    * chop each doc into disjoint [[segDedupLen]]-token segments,
    * keep only each segment's GLOBAL first occurrence (min
    * (doc_id, seg_idx) over the segment's md5), and report per doc
    * how much of it survives. Exact doc-level dedup (q18/q50) misses
    * boilerplate repeated INSIDE otherwise-distinct docs; this is the
    * sub-document grain that catches it, and `retention` is the
    * per-doc quality signal curation thresholds on.
    *
    * Scale: first-occurrence is a hash agg of min(struct(doc_id,
    * seg_idx)) on the segment md5 — never a per-key window over the
    * corpus — then one equi-join back on the md5 and a per-doc agg.
    * Everything is key-partitioned; the md5 key space is uniform by
    * construction, so no skew defense is needed.
    */
  def segmentDedupRetention(spark: SparkSession, dir: String): DataFrame =
    segmentDedupRetentionCore(Tables.spread(Tables.documents(spark, dir)))

  /** Core over any (doc_id, text, …) frame — fixture seam. */
  private[graft] def segmentDedupRetentionCore(docs: DataFrame): DataFrame = {
    val L = segDedupLen
    val segs = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"),
        posexplode(expr(s"sequence(1, size(ws), $L)")).as(Seq("seg_idx", "i")),
        col("ws"))
      .select(col("doc_id"), col("seg_idx").cast("long").as("seg_idx"),
        md5(concat_ws(" ", slice(col("ws"), col("i"), lit(L)))
          .cast("binary")).as("seg_md5"))
    val winners = segs
      .groupBy("seg_md5")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("w"))
      .select(col("seg_md5"), col("w.doc_id").as("w_doc"),
        col("w.seg_idx").as("w_seg"))
    segs.join(winners, "seg_md5")
      .withColumn("kept",
        col("doc_id") === col("w_doc") && col("seg_idx") === col("w_seg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("retention",
        round(col("n_kept").cast("double") / col("n_segs"), 6))
      .orderBy("doc_id")
  }

  /** q265 — PER-DOC N-GRAM NOVELTY PROFILE: for every document, the
    * fraction (ppm) of its DISTINCT 3-grams whose global first
    * occurrence (min doc_id over the corpus) is this document — the
    * "marginal contribution" readout of a dedup pipeline. q264 asks
    * "which spans survive dedup"; q265 asks the curation-ordering
    * question "how much genuinely new text does each doc add in
    * ingestion order" — low-novelty tails are what near-dup filters
    * and boilerplate trims remove first, and the same statistic run
    * on a candidate acquisition batch prices its incremental value
    * before any training tokens are spent.
    *
    * Scale: NO gram-grain join-back — the denominator (distinct grams
    * per doc) and the numerator (grams whose min doc_id lands here)
    * are two independent hash aggs of the same exploded frame, joined
    * at DOC grain. A hot gram shared by millions of docs costs one
    * combiner cell, never a fan-out. Novelty is exact integer ppm
    * (DECIMAL(38,0) div — the q196/q198 fixed-point discipline).
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame =
    ngramNoveltyCore(Tables.spread(Tables.documents(spark, dir)))

  /** Core over any (doc_id, text, …) frame — fixture seam. */
  private[graft] def ngramNoveltyCore(docs: DataFrame): DataFrame = {
    val grams = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(array_distinct(
          shingles(TextFunctions.tokens(col("text")), shingleSize))).as("g"))
    val perDoc = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val novel = grams.groupBy("g").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm",
        expr("CAST(CAST(n_novel AS DECIMAL(38,0)) * 1000000 div n_grams" +
          " AS BIGINT)"))
      .orderBy("doc_id")
  }

  /** q268 fingerprint width (leading chars). Mirrors and template
    * farms share document HEADS (navigation chrome, license blocks,
    * syndication preambles) even when tails diverge, so the overlap
    * fingerprint hashes the first [[crossSourcePrefix]] characters —
    * full-text md5 would see only byte-identical mirrors.
    */
  private[graft] val crossSourcePrefix = 80

  /** q268 — CROSS-SOURCE OVERLAP MATRIX: for every ordered source pair
    * (a < b), how many distinct text-head fingerprints they share and
    * how many documents sit on each side of the shared mass — the
    * corpus-forensics readout that catches one crawl mirroring another
    * (licensing risk, silent double-counting in mixture weights)
    * BEFORE per-pair dedup spends compute. q18/q50 answer "how many
    * dups"; q268 answers "which SOURCES are copying each other".
    *
    * Scale: texts collapse to (fingerprint, source) grain first (one
    * hash agg), so the pair join runs at fingerprint grain with
    * fan-out ≤ |sources| per fingerprint — the source domain is
    * dimension-sized by construction, never data-sized; output is
    * ≤ |sources|² rows.
    */
  def crossSourceOverlap(spark: SparkSession, dir: String): DataFrame =
    crossSourceOverlapCore(Tables.spread(Tables.documents(spark, dir)))

  /** Core over any (text, source, …) frame — fixture seam. */
  private[graft] def crossSourceOverlapCore(docs: DataFrame): DataFrame = {
    val fps = docs
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(md5(substring(col("text"), 1, crossSourcePrefix)
        .cast("binary")).as("fp"), col("source"))
      .groupBy("fp", "source").agg(count(lit(1)).as("n_copies"))
    val a = fps.select(col("fp"), col("source").as("source_a"),
      col("n_copies").as("n_docs_a"))
    val b = fps.select(col("fp"), col("source").as("source_b"),
      col("n_copies").as("n_docs_b"))
    a.join(b, Seq("fp"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_heads"),
        sum("n_docs_a").as("n_docs_a"),
        sum("n_docs_b").as("n_docs_b"))
      .orderBy("source_a", "source_b")
  }

  /** q287 — SOURCE VOCABULARY OVERLAP: pairwise Jaccard of the distinct
    * TOKEN sets per source — the lexical sibling of q268 (which catches
    * copied document HEADS; this catches shared VOCABULARY, the signal
    * for same-domain/same-language crawls whose documents are disjoint
    * but whose token distributions will double-count in a mixture). All
    * exact integers: distinct-collapse, bounded pair counts, one
    * truncating ppm division.
    *
    * Scale: ONE corpus-scale stage — the distinct (source, token)
    * collapse (hash agg). The token-key self-join fans out ≤ |sources|
    * per token (dimension-bounded), and one exchange serves both sides
    * (ReuseExchange); output ≤ |sources|² rows.
    */
  def sourceVocabOverlap(spark: SparkSession, dir: String): DataFrame =
    vocabOverlapCore(Tables.spread(Tables.documents(spark, dir)))

  /** Core over any (source, text) frame — fixture seam. */
  private[graft] def vocabOverlapCore(docs: DataFrame): DataFrame = {
    val st = docs
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("w"))
      .distinct()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("n"))
    st.as("a").join(st.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n").as("n_vocab_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n").as("n_vocab_b"))), "source_b")
      .select(col("source_a"), col("source_b"),
        col("n_vocab_a"), col("n_vocab_b"), col("n_common"),
        expr("""n_common * 1000000
                div (n_vocab_a + n_vocab_b - n_common)""").as("jaccard_ppm"))
      .orderBy("source_a", "source_b")
  }

  /** q292 — DUPLICATE-CLUSTER SIZE HISTOGRAM: the dedup burn-down
    * report — for each exact-duplicate cluster size k, how many
    * clusters, how many documents they hold, and how many are EXCESS
    * (k−1 per cluster = what dedup would delete), with the corpus
    * share in exact ppm. q50 counts duplicates; this shows the SHAPE
    * (a thousand pairs vs one thousand-copy template farm need
    * different responses), which is the first chart in every dedup
    * postmortem.
    *
    * Scale: one hash agg to fingerprint grain, a second to the
    * bounded cluster-size grain; the totals ride the kernel's own
    * window over that bounded frame. Exact integers end to end.
    */
  def dupClusterSizes(spark: SparkSession, dir: String): DataFrame =
    dupClusterSizesCore(Tables.spread(Tables.documents(spark, dir)))

  /** Core over any frame with text — fixture seam. */
  private[graft] def dupClusterSizesCore(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(md5(col("text").cast("binary")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_clusters"))
      .select(col("k").as("cluster_size"), col("n_clusters"),
        (col("k") * col("n_clusters")).as("n_docs"),
        ((col("k") - 1) * col("n_clusters")).as("n_excess"))
      // window over the bounded size-grain frame (≤ max cluster size
      // rows), not the corpus
      .withColumn("share_ppm",
        expr("n_docs * 1000000 div nullif(sum(n_docs) over (), 0)"))
      .orderBy("cluster_size")

  val queries: Map[String, Q] = Map(
    "q287_source_vocab_overlap" -> (sourceVocabOverlap(_, _)),
    "q292_dup_cluster_sizes" -> (dupClusterSizes(_, _)),
    "q262_ngram_contamination" -> (ngramContamination(_, _)),
    "q264_segment_dedup" -> (segmentDedupRetention(_, _)),
    "q265_ngram_novelty" -> (ngramNovelty(_, _)),
    "q268_cross_source_overlap" -> (crossSourceOverlap(_, _)),
    "q247_levenshtein_near_dups" -> (levenshteinNearDups(_, _)),
    "q87_decontamination" -> (decontamination(_, _)),
    "q232_substring_span_coverage" -> (substringSpanCoverage(_, _)),
    "q50_exact_dedup_stats" -> (exactDedupStats(_, _)),
    "q51_shingle_stats" -> (shingleStats(_, _)),
    "q52_jaccard_pairs" -> (jaccardPairs(_, _)),
    "q300_cosine_tf_pairs" -> (cosinePairs(_, _)),
    // signature serialized for the driver (pandas can't hash numpy
    // arrays, CORRECTNESS_r02); library API keeps the native array<long>.
    "q53_minhash_signatures" -> ((s, d) =>
      minhashSignatures(s, d).withColumn("signature",
        array_join(transform(col("signature"), _.cast("string")), ","))),
    "q54_lsh_candidates" -> (lshCandidates(_, _)),
    "q55_simhash" -> (simhashes(_, _)),
    "q56_simhash_pairs" -> (simhashPairs(_, _)),
    // the md5-derived oracle-gated twins of q55/q56 (r16)
    "q330_simhash_md5" -> (simhashMd5(_, _)),
    "q331_simhash_md5_pairs" -> (simhashMd5Pairs(_, _)),
    // the md5-derived oracle-gated twins of q53/q54 (r16)
    "q333_minhash_md5" -> (minhashMd5(_, _)),
    "q334_minhash_md5_candidates" -> (minhashMd5Candidates(_, _)),
    // the oracle-gated three-edge-regime cluster end-step (r16)
    "q336_dedup_clusters_md5" -> (dedupClustersMd5(_, _)),
    // rows-only like q55/q56 (hash-seeded); DedupSpec pins q304
    // set-equal to q56 on the corpus (two structurally different
    // complete generators of the same radius-3 relation) and the
    // 128-bit variant against a brute-force replica; DedupScaleBench
    // measures the candidate/recall trades of all the blocking widths
    "q304_simhash_blocked_pairs" -> (simhashBlockedPairs(_, _)),
    "q308_containment_pairs" -> (containmentPairs(_, _)),
    "q310_cluster_canonical_pick" -> (clusterCanonicalPick(_, _)),
    "q57_dedup_clusters" -> (dedupClusters(_, _)),
    "q313_dedup_clusters_simhash" -> (dedupClustersSimhash(_, _)),
    "q314_duplicate_spans" -> (duplicateSpans(_, _)),
    "q315_span_removal_manifest" -> (spanRemovalManifest(_, _)),
    "q177_incremental_dedup" -> (incrementalDedup(_, _)),
    "q220_dedup_threshold_sweep" -> (dedupThresholdSweep(_, _)),
    "q257_ppjoin_pairs" -> (ppjoinPairs(_, _)))

  /** Shared q330/q331 preface: q40's filtered-token relation, tf
    * collapse, the md5-nibble bit rule (bit b of token w = bit (b mod
    * 4) of hex nibble (b div 4) — the identical formula the engine
    * interpolates), sign sums, and the two packed 32-bit halves.
    */
  private def simhashMd5Ctes: String =
    s"""tok AS (
          SELECT doc_id, w FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents WHERE text IS NOT NULL)
          WHERE w <> '' AND w NOT IN (${TextAnalysis.stopList})
            AND length(w) > 1 AND NOT regexp_matches(w, '^[0-9]+$$')),
        tf AS (SELECT doc_id, w, count(*)::BIGINT AS c
               FROM tok GROUP BY 1, 2),
        bits AS (
          SELECT doc_id, b,
            CASE WHEN (((strpos('0123456789abcdef',
                substr(md5(w), b // 4 + 1, 1)) - 1) >> (b % 4)) & 1) = 1
              THEN c ELSE -c END AS contrib
          FROM tf, range(0, 64) t(b)),
        sg AS (SELECT doc_id, b, sum(contrib) AS s FROM bits GROUP BY 1, 2),
        sig AS (
          SELECT doc_id,
            sum(CASE WHEN b >= 32 AND s > 0 THEN 1::BIGINT << (b - 32)
                     ELSE 0 END)::BIGINT AS sig_hi,
            sum(CASE WHEN b < 32 AND s > 0 THEN 1::BIGINT << b
                     ELSE 0 END)::BIGINT AS sig_lo
          FROM sg GROUP BY 1)"""

  /** Shared q333/q334 preface: the q51/q257 shingle relation (distinct
    * 3-gram windows over non-empty whitespace tokens) fanned over the
    * k registers with the identical group-sliced md5 rule — register
    * r's hash = 32-bit slice (r mod 4) of md5("r div 4:shingle") —
    * min per (doc, reg).
    */
  private def minhashMd5Ctes: String =
    s"""t AS (
          SELECT doc_id,
            list_filter(string_split(text, ' '), w -> w <> '') AS ws
          FROM documents WHERE text IS NOT NULL),
        sh AS (
          SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(ws) < $shingleSize THEN []
                 ELSE list_transform(range(len(ws)-${shingleSize - 1}),
                        i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
            END)) AS sh
          FROM t),
        hx AS (
          SELECT doc_id, r,
            ('0x' || substr(md5((r // 4)::VARCHAR || ':' || sh),
               (r % 4) * 8 + 1, 8))::BIGINT AS h
          FROM sh, range(0, $minhashMd5K) t2(r)),
        mh AS (
          SELECT doc_id, r AS reg, min(h) AS minhash
          FROM hx GROUP BY 1, 2)"""

  val oracles: Map[String, String] = Map(
    // q336: q57's recursive closure with the q330/q331 simhash pair
    // CTEs as the third edge source — the composed three-regime
    // cluster relation, replayed whole
    "q336_dedup_clusters_md5" ->
      s"""WITH RECURSIVE t AS (
            SELECT doc_id, lang,
              list_filter(string_split(text,' '), w -> w <> '') AS ws
            FROM documents),
          sh0 AS (
            SELECT doc_id, lang, unnest(list_distinct(
              CASE WHEN len(ws) < $shingleSize THEN []
                   ELSE list_transform(range(len(ws)-${shingleSize - 1}),
                          i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
              END)) AS sh
            FROM t),
          rare AS (SELECT sh FROM sh0 GROUP BY sh
                   HAVING count(*) <= $maxShingleDf),
          capped AS (SELECT sh0.* FROM sh0 JOIN rare USING (sh)),
          sizes AS (SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY 1),
          inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM capped a JOIN capped b
              ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
            GROUP BY 1,2),
          nearp AS (
            SELECT doc_a AS a, doc_b AS b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common)
              >= $minJaccard),
          fps AS (SELECT doc_id, md5(text) AS fp FROM documents
                  WHERE text IS NOT NULL),
          reps AS (SELECT fp, min(doc_id) AS rep FROM fps
                   GROUP BY fp HAVING count(*) > 1),
          exacte AS (
            SELECT r.rep AS a, f.doc_id AS b
            FROM fps f JOIN reps r USING (fp) WHERE f.doc_id <> r.rep),
          $simhashMd5Ctes,
          bnd AS (
            SELECT doc_id, sig_hi, sig_lo, b AS band,
              CASE WHEN b < 2 THEN (sig_lo >> (b * 16)) & 65535
                   ELSE (sig_hi >> ((b - 2) * 16)) & 65535 END AS key
            FROM sig, range(0, 4) t2(b)),
          shp AS (
            SELECT DISTINCT sa.doc_id AS a, sb.doc_id AS b
            FROM bnd sa JOIN bnd sb
              ON sa.band = sb.band AND sa.key = sb.key
                AND sa.doc_id < sb.doc_id
            WHERE bit_count(xor(sa.sig_lo, sb.sig_lo))
              + bit_count(xor(sa.sig_hi, sb.sig_hi)) <= 3),
          e AS (SELECT a, b FROM exacte UNION SELECT a, b FROM nearp
                UNION SELECT a, b FROM shp),
          sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
          vs AS (SELECT DISTINCT a AS v FROM sym),
          reach AS (
            SELECT v AS a, v AS b FROM vs
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
          comp AS (SELECT a AS v, min(b) AS rep FROM reach GROUP BY 1),
          grp AS (
            SELECT rep, list_sort(list(v)) AS ms, count(*) AS n_members
            FROM comp GROUP BY 1)
          SELECT ms[1] AS cluster_rep, array_to_string(ms, ',') AS members,
            n_members
          FROM grp ORDER BY cluster_rep""",
    "q333_minhash_md5" ->
      s"""WITH $minhashMd5Ctes
          SELECT doc_id, reg, minhash FROM mh ORDER BY doc_id, reg""",
    // q334: band keys as ':'-joined register runs, DISTINCT pair
    // emission (= the engine's first-colliding-band exactly-once),
    // exact integer agreement count and truncating est ppm
    "q334_minhash_md5_candidates" -> {
      val rpb = minhashMd5K / minhashMd5Bands
      s"""WITH $minhashMd5Ctes,
          bk AS (
            SELECT doc_id, reg // $rpb AS band,
              string_agg(minhash::VARCHAR, ':' ORDER BY reg) AS key
            FROM mh GROUP BY 1, 2),
          cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bk a JOIN bk b
              ON a.band = b.band AND a.key = b.key
                AND a.doc_id < b.doc_id),
          eq AS (
            SELECT c.doc_a, c.doc_b, count(*) FILTER (
              WHERE ma.minhash = mb.minhash)::BIGINT AS n_eq
            FROM cand c
            JOIN mh ma ON ma.doc_id = c.doc_a
            JOIN mh mb ON mb.doc_id = c.doc_b AND mb.reg = ma.reg
            GROUP BY 1, 2)
          SELECT doc_a, doc_b, n_eq,
            (n_eq * 1000000 // $minhashMd5K)::BIGINT AS est_ppm
          FROM eq WHERE n_eq * 1000000 // $minhashMd5K >= 500000
          ORDER BY doc_a, doc_b"""
    },
    "q330_simhash_md5" ->
      s"""WITH $simhashMd5Ctes
          SELECT doc_id, sig_hi, sig_lo FROM sig ORDER BY doc_id""",
    // q331: 4×16-bit bands over the halves, DISTINCT pair emission (=
    // the engine's first-colliding-band exactly-once), exact Hamming
    // via bit_count over xor on the non-negative halves
    "q331_simhash_md5_pairs" ->
      s"""WITH $simhashMd5Ctes,
          bnd AS (
            SELECT doc_id, sig_hi, sig_lo, b AS band,
              CASE WHEN b < 2 THEN (sig_lo >> (b * 16)) & 65535
                   ELSE (sig_hi >> ((b - 2) * 16)) & 65535 END AS key
            FROM sig, range(0, 4) t(b)),
          p AS (
            SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
              (bit_count(xor(a.sig_lo, b2.sig_lo))
               + bit_count(xor(a.sig_hi, b2.sig_hi)))::BIGINT AS hamming
            FROM bnd a JOIN bnd b2
              ON a.band = b2.band AND a.key = b2.key
                AND a.doc_id < b2.doc_id)
          SELECT doc_a, doc_b, hamming FROM p
          WHERE hamming <= 3 ORDER BY doc_a, doc_b""",
    // q314: same whitespace tokens, same md5 window keys (concat_ws '
    // ' = array_to_string), same position-union coverage and
    // truncating ppm
    "q314_duplicate_spans" -> {
      val w = dupSpanW
      s"""WITH t AS (
            SELECT doc_id,
              list_filter(string_split(text, ' '), x -> x <> '') AS ws
            FROM documents WHERE text IS NOT NULL),
          b AS (
            SELECT doc_id, ws, len(ws)::BIGINT AS n_words
            FROM t WHERE len(ws) >= $w),
          w0 AS (
            SELECT doc_id, unnest(list_transform(range(len(ws) - ${w - 1}),
              i -> {'h': md5(array_to_string(
                      list_slice(ws, i+1, i+$w), ' ')),
                    'start': i+1})) AS t
            FROM b),
          w2 AS (SELECT doc_id, t.h AS h, t.start AS start FROM w0),
          dup AS (SELECT h FROM w2 GROUP BY h HAVING count(*) >= 2),
          cov AS (
            SELECT DISTINCT doc_id,
              unnest(generate_series(start, start + ${w - 1})) AS pos
            FROM w2 JOIN dup USING (h)),
          cv AS (SELECT doc_id, count(*)::BIGINT AS n_dup_tokens
                 FROM cov GROUP BY 1),
          wst AS (SELECT doc_id, count(*)::BIGINT AS n_windows
                  FROM w2 GROUP BY 1),
          dw AS (SELECT doc_id, count(*)::BIGINT AS n_dup_windows
                 FROM w2 JOIN dup USING (h) GROUP BY 1)
          SELECT b.doc_id, n_words, n_windows,
            coalesce(n_dup_windows, 0)::BIGINT AS n_dup_windows,
            coalesce(n_dup_tokens, 0)::BIGINT AS n_dup_tokens,
            (coalesce(n_dup_tokens, 0)::HUGEINT * 1000000 // n_words)
              ::BIGINT AS dup_span_ppm,
            coalesce(n_dup_tokens, 0) * 2 >= n_words AS mostly_dup
          FROM b JOIN wst USING (doc_id)
          LEFT JOIN dw USING (doc_id) LEFT JOIN cv USING (doc_id)
          ORDER BY doc_id"""
    },
    // q315: same windows/digests as q314, covered-interval union via
    // the same running-max island rule, kept segments as lag-gaps +
    // tail + clean-doc branch, same keep floor
    "q315_span_removal_manifest" -> {
      val w = dupSpanW
      s"""WITH t AS (
            SELECT doc_id,
              list_filter(string_split(text, ' '), x -> x <> '') AS ws
            FROM documents WHERE text IS NOT NULL),
          b AS (
            SELECT doc_id, ws, len(ws)::BIGINT AS n_words
            FROM t WHERE len(ws) >= $w),
          w0 AS (
            SELECT doc_id, unnest(list_transform(range(len(ws) - ${w - 1}),
              i -> {'h': md5(array_to_string(
                      list_slice(ws, i+1, i+$w), ' ')),
                    'start': i+1})) AS t
            FROM b),
          w2 AS (SELECT doc_id, t.h AS h, t.start AS start FROM w0),
          dup AS (SELECT h FROM w2 GROUP BY h HAVING count(*) >= 2),
          occ AS (
            SELECT doc_id, start::BIGINT AS s, (start + ${w - 1})::BIGINT AS e
            FROM w2 JOIN dup USING (h)),
          m0 AS (
            SELECT doc_id, s, e,
              max(e) OVER (PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
            FROM occ),
          m1 AS (
            SELECT doc_id, s, e,
              CASE WHEN pme IS NULL OR s > pme + 1 THEN 1 ELSE 0 END AS ni
            FROM m0),
          m2 AS (
            SELECT doc_id, s, e,
              sum(ni) OVER (PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
            FROM m1),
          isl AS (
            SELECT doc_id, isl, min(s) AS c_start, max(e) AS c_end
            FROM m2 GROUP BY 1, 2),
          nw AS (SELECT doc_id, n_words FROM b),
          gaps AS (
            SELECT doc_id,
              coalesce(lag(c_end) OVER (PARTITION BY doc_id
                ORDER BY c_start), 0) + 1 AS seg_start,
              c_start - 1 AS seg_end
            FROM isl),
          tails AS (
            SELECT isl.doc_id, max(c_end) + 1 AS seg_start,
              max(nw.n_words) AS seg_end
            FROM isl JOIN nw ON nw.doc_id = isl.doc_id GROUP BY 1),
          clean AS (
            SELECT doc_id, 1 AS seg_start, n_words AS seg_end FROM nw
            WHERE doc_id NOT IN (SELECT doc_id FROM isl)),
          segs AS (
            SELECT * FROM gaps UNION ALL SELECT * FROM tails
            UNION ALL SELECT * FROM clean)
          SELECT doc_id, seg_start::BIGINT AS seg_start,
            seg_end::BIGINT AS seg_end,
            (seg_end - seg_start + 1)::BIGINT AS seg_len
          FROM segs WHERE seg_end - seg_start + 1 >= $spanKeepMin
          ORDER BY doc_id, seg_start"""
    },
    // q300: same whitespace tokens, tf collapse, df-cap anti-join,
    // lang-blocked term self-join; the sqrt-free cross-multiplied
    // threshold and cos² ppm in HUGEINT
    "q300_cosine_tf_pairs" ->
      s"""WITH tf AS (
            SELECT doc_id, lang, w AS term, count(*)::BIGINT AS tf
            FROM (SELECT doc_id, lang,
                    unnest(list_filter(string_split(text, ' '),
                      w -> w <> '')) AS w
                  FROM documents WHERE text IS NOT NULL)
            GROUP BY 1, 2, 3),
          hot AS (
            SELECT term FROM tf GROUP BY term
            HAVING count(DISTINCT doc_id) > $maxTermDf),
          capped AS (
            SELECT * FROM tf WHERE term NOT IN (SELECT term FROM hot)),
          norms AS (
            SELECT doc_id, sum(tf * tf)::BIGINT AS n2
            FROM capped GROUP BY 1),
          dots AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              sum(a.tf::HUGEINT * b.tf) AS dot
            FROM capped a JOIN capped b
              ON a.term = b.term AND a.lang = b.lang
              AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT doc_a, doc_b, dot::BIGINT AS dot, na.n2 AS n2_a,
            nb.n2 AS n2_b,
            (dot * dot * 1000000
              // (na.n2::HUGEINT * nb.n2))::BIGINT AS cos2_ppm
          FROM dots
          JOIN norms na ON na.doc_id = doc_a
          JOIN norms nb ON nb.doc_id = doc_b
          WHERE dot * dot * 1000000
            >= $minCos2Ppm * (na.n2::HUGEINT * nb.n2)
          ORDER BY doc_a, doc_b""",
    // q262: same 3-gram generator (the q257 shingle CTE form, WITHOUT
    // list_distinct on the corpus side — hits count occurrences), same
    // bench-membership rule, same distinct-bench join
    "q262_ngram_contamination" ->
      s"""WITH t AS (
            SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS ws
            FROM documents WHERE text IS NOT NULL),
          grams AS (
            SELECT doc_id, unnest(
              CASE WHEN len(ws) < $shingleSize THEN []
                   ELSE list_transform(range(len(ws)-${shingleSize - 1}),
                          i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
              END) AS g
            FROM t),
          bench AS (
            SELECT DISTINCT g FROM grams WHERE doc_id % $benchMod = 0)
          SELECT g.doc_id, count(*)::BIGINT AS n_hits,
            count(DISTINCT g.g)::BIGINT AS n_distinct_hits
          FROM grams g JOIN bench b ON g.g = b.g
          WHERE g.doc_id % $benchMod <> 0
          GROUP BY 1 ORDER BY 1""",
    // q268: same head fingerprint (md5 over the same 80-char prefix —
    // both engines hash identical UTF-8 bytes), same pair join at
    // fingerprint grain
    // q292: same md5 fingerprint grain, same two-level collapse, same
    // truncating ppm share over the bounded size-grain window
    "q292_dup_cluster_sizes" ->
      """WITH fp AS (
           SELECT md5(text) AS fp, count(*)::BIGINT AS k
           FROM documents WHERE text IS NOT NULL GROUP BY 1),
         sz AS (
           SELECT k AS cluster_size, count(*)::BIGINT AS n_clusters
           FROM fp GROUP BY 1)
         SELECT cluster_size, n_clusters,
           (cluster_size * n_clusters)::BIGINT AS n_docs,
           ((cluster_size - 1) * n_clusters)::BIGINT AS n_excess,
           (cluster_size * n_clusters * 1000000
             // nullif(sum(cluster_size * n_clusters) OVER (), 0))
             ::BIGINT AS share_ppm
         FROM sz ORDER BY cluster_size""",
    // q287: same distinct (source, token) collapse, same bounded pair
    // counts, same truncating ppm Jaccard
    "q287_source_vocab_overlap" ->
      """WITH st AS (
           SELECT DISTINCT source, w FROM (
             SELECT source, unnest(string_split(text, ' ')) AS w
             FROM documents
             WHERE text IS NOT NULL AND source IS NOT NULL)
           WHERE w <> ''),
         sz AS (SELECT source, count(*)::BIGINT AS n FROM st GROUP BY 1),
         p AS (
           SELECT a.source AS source_a, b.source AS source_b,
             count(*)::BIGINT AS n_common
           FROM st a JOIN st b ON a.w = b.w AND a.source < b.source
           GROUP BY 1, 2)
         SELECT source_a, source_b,
           za.n AS n_vocab_a, zb.n AS n_vocab_b, n_common,
           (n_common * 1000000 // (za.n + zb.n - n_common))::BIGINT
             AS jaccard_ppm
         FROM p
         JOIN sz za ON za.source = p.source_a
         JOIN sz zb ON zb.source = p.source_b
         ORDER BY source_a, source_b""",
    "q268_cross_source_overlap" ->
      s"""WITH fps AS (
            SELECT md5(substr(text, 1, $crossSourcePrefix)) AS fp, source,
              count(*) AS n_copies
            FROM documents
            WHERE text IS NOT NULL AND source IS NOT NULL
            GROUP BY 1, 2)
          SELECT a.source AS source_a, b.source AS source_b,
            count(*)::BIGINT AS n_shared_heads,
            sum(a.n_copies)::BIGINT AS n_docs_a,
            sum(b.n_copies)::BIGINT AS n_docs_b
          FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
          GROUP BY 1, 2 ORDER BY 1, 2""",
    // q265: same per-doc-distinct 3-gram generator, first occurrence
    // and per-doc denominators as the same two independent aggs, same
    // integral ppm
    "q265_ngram_novelty" ->
      s"""WITH t AS (
            SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS ws
            FROM documents WHERE text IS NOT NULL),
          g AS (
            SELECT doc_id, unnest(list_distinct(
              CASE WHEN len(ws) < $shingleSize THEN []
                   ELSE list_transform(range(len(ws)-${shingleSize - 1}),
                          i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
              END)) AS g
            FROM t),
          perdoc AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
          novel AS (
            SELECT doc_id, count(*) AS n_novel
            FROM (SELECT min(doc_id) AS doc_id FROM g GROUP BY g)
            GROUP BY 1)
          SELECT p.doc_id, p.n_grams::BIGINT AS n_grams,
            coalesce(n.n_novel, 0)::BIGINT AS n_novel,
            (coalesce(n.n_novel, 0)::HUGEINT * 1000000
              // p.n_grams)::BIGINT AS novelty_ppm
          FROM perdoc p LEFT JOIN novel n USING (doc_id) ORDER BY doc_id""",
    // q264: same disjoint segmentation and md5, first occurrence via a
    // rank window (extensionally = the engine's min-struct agg)
    "q264_segment_dedup" ->
      s"""WITH t AS (
            SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS ws
            FROM documents WHERE text IS NOT NULL),
          segs AS (
            SELECT doc_id, (i - 1) // $segDedupLen AS seg_idx,
              md5(array_to_string(ws[i:i+${segDedupLen - 1}], ' ')) AS seg_md5
            FROM (SELECT doc_id, ws,
                    unnest(generate_series(1, len(ws), $segDedupLen)) AS i
                  FROM t WHERE len(ws) > 0)),
          flagged AS (
            SELECT doc_id,
              (row_number() OVER (PARTITION BY seg_md5
                 ORDER BY doc_id, seg_idx) = 1) AS kept
            FROM segs)
          SELECT doc_id, count(*)::BIGINT AS n_segs,
            sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
            round(sum(CASE WHEN kept THEN 1 ELSE 0 END)::DOUBLE
              / count(*), 6) AS retention
          FROM flagged GROUP BY 1 ORDER BY 1""",
    // q257: the UNPRUNED exact θ-Jaccard relation (full shingle join,
    // no df-cap, no prefix) — the oracle deliberately skips the
    // engine's prefix filter, so a hash match PROVES the pruning's
    // completeness theorem on this corpus, not just self-consistency.
    // Integer-ppm similarity (q220's convention) keeps the threshold
    // compare exact in BIGINT on both engines.
    "q257_ppjoin_pairs" ->
      s"""WITH t AS (
            SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS ws
            FROM documents),
          sh AS (
            SELECT doc_id, unnest(list_distinct(
              CASE WHEN len(ws) < 3 THEN []
                   ELSE list_transform(range(len(ws)-2),
                          i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
              END)) AS sh
            FROM t),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1,2)
          SELECT doc_a, doc_b,
            n_common * 1000000 // (sa.n + sb.n - n_common) AS jac_ppm
          FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE n_common * 1000000 // (sa.n + sb.n - n_common) >= $ppjoinThetaPpm
          ORDER BY doc_a, doc_b""",
    // q247: same prefix key, same two-token block, plain levenshtein
    // (DuckDB lacks the threshold arg; the ≤ levMax filter makes the
    // thresholded and plain forms extensionally identical)
    "q247_levenshtein_near_dups" ->
      s"""WITH keyed AS (
            SELECT doc_id, substr(text, 1, $levPrefixLen) AS k,
              array_to_string(string_split(substr(text, 1, $levPrefixLen),
                ' ')[1:2], ' ') AS blk
            FROM documents WHERE text IS NOT NULL)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            levenshtein(a.k, b.k)::BIGINT AS lev
          FROM keyed a JOIN keyed b
            ON a.blk = b.blk AND a.doc_id < b.doc_id
          WHERE levenshtein(a.k, b.k) <= $levMax
          ORDER BY doc_a, doc_b""",
    // q232: same tokenizer mapping, same positional L-gram md5 over the
    // space-joined slice, duplicated-gram rule min(doc)<>max(doc), and
    // the identical gaps-and-islands running-max interval union
    "q232_substring_span_coverage" ->
      s"""WITH d AS (
            SELECT doc_id,
              list_filter(string_split(text, ' '), w -> w <> '') AS ws
            FROM documents WHERE text IS NOT NULL),
          t AS (
            SELECT doc_id, ws, len(ws)::BIGINT AS n
            FROM d WHERE len(ws) >= $spanGramLen),
          g AS (
            SELECT doc_id, i::BIGINT AS start,
              md5(array_to_string(
                ws[i + 1 : i + $spanGramLen], ' ')) AS gram
            FROM t, LATERAL unnest(
              generate_series(0, (n - $spanGramLen)::INT)) AS u(i)),
          dup AS (
            SELECT gram FROM g GROUP BY gram
            HAVING min(doc_id) <> max(doc_id)),
          m AS (SELECT g.* FROM g WHERE gram IN (SELECT gram FROM dup)),
          isl AS (
            SELECT doc_id,
              greatest(0, (start + ${spanGramLen - 1})
                - greatest(start - 1,
                    coalesce(max(start + ${spanGramLen - 1}) OVER (
                      PARTITION BY doc_id ORDER BY start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      -1))) AS contrib
            FROM m),
          p AS (
            SELECT doc_id, count(*)::BIGINT AS dup_positions,
              sum(contrib)::BIGINT AS covered_tokens
            FROM isl GROUP BY 1)
          SELECT t.doc_id, t.n AS n_tokens,
            coalesce(p.dup_positions, 0)::BIGINT AS dup_positions,
            coalesce(p.covered_tokens, 0)::BIGINT AS covered_tokens,
            (coalesce(p.covered_tokens, 0) * 1000000 // t.n)::BIGINT
              AS coverage_ppm
          FROM t LEFT JOIN p USING (doc_id) ORDER BY doc_id""",
    // q220: q52's relation verbatim, integer-ppm similarity, unnested
    // threshold spine left-joining the conditional counts
    "q220_dedup_threshold_sweep" ->
      """WITH t AS (
           SELECT doc_id, lang, list_filter(string_split(text,' '), w -> w <> '') AS ws
           FROM documents),
         sh0 AS (
           SELECT doc_id, lang, unnest(list_distinct(
             CASE WHEN len(ws) < 3 THEN []
                  ELSE list_transform(range(len(ws)-2),
                         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
             END)) AS sh
           FROM t),
         rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 50),
         capped AS (SELECT sh0.* FROM sh0 JOIN rare USING (sh)),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
           FROM capped a JOIN capped b
             ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
           GROUP BY 1,2),
         pairs AS (
           SELECT doc_b,
             n_common * 1000000 // (sa.n_sh + sb.n_sh - n_common) AS jac_ppm
           FROM inter
           JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
           WHERE n_common * 1000000 // (sa.n_sh + sb.n_sh - n_common)
             >= 300000),
         spine AS (
           SELECT unnest([300000, 400000, 500000, 600000, 700000,
             800000, 900000])::BIGINT AS threshold_ppm),
         agg AS (
           SELECT s.threshold_ppm, count(*)::BIGINT AS n_pairs,
             count(DISTINCT p.doc_b)::BIGINT AS n_drop_docs
           FROM spine s JOIN pairs p ON p.jac_ppm >= s.threshold_ppm
           GROUP BY 1)
         SELECT spine.threshold_ppm,
           coalesce(agg.n_pairs, 0)::BIGINT AS n_pairs,
           coalesce(agg.n_drop_docs, 0)::BIGINT AS n_drop_docs
         FROM spine LEFT JOIN agg USING (threshold_ppm)
         ORDER BY threshold_ppm""",
    // q177: q52's oracle restricted to pairs whose b member is in the
    // delta (the top quarter of the doc_id span) — the incremental
    // join must find exactly the delta-touching subset of q52's pairs
    "q177_incremental_dedup" ->
      """WITH t AS (
           SELECT doc_id, lang, list_filter(string_split(text,' '), w -> w <> '') AS ws
           FROM documents),
         cut AS (
           SELECT min(doc_id) + 3 * ((max(doc_id) - min(doc_id) + 1) // 4)
             AS cut_id
           FROM documents),
         sh0 AS (
           SELECT doc_id, lang, unnest(list_distinct(
             CASE WHEN len(ws) < 3 THEN []
                  ELSE list_transform(range(len(ws)-2),
                         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
             END)) AS sh
           FROM t),
         rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 50),
         capped AS (SELECT sh0.* FROM sh0 JOIN rare USING (sh)),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
           FROM capped a JOIN capped b
             ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
           WHERE b.doc_id >= (SELECT cut_id FROM cut)
           GROUP BY 1,2)
         SELECT doc_a, doc_b, n_common,
           round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard,
           CASE WHEN doc_a >= (SELECT cut_id FROM cut) THEN 'within_batch'
                ELSE 'vs_corpus' END AS pair_kind
         FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.8
         ORDER BY doc_a, doc_b""",
    // q87: winnow picks CTE (TextAnalysis, HUGEINT mod-2^64 twin) + the
    // q59 split rule, joined and aggregated exactly like the engine
    "q87_decontamination" -> (TextAnalysis.winnowPicksCte +
      """, split AS (
           SELECT doc_id,
             CASE WHEN strpos('0123456789abcdef',
               substr(md5(doc_id::VARCHAR || ':split'), 1, 1)) - 1 < 14
             THEN 'train' ELSE 'eval' END AS sp
           FROM documents
         ), tr AS (
           SELECT p.doc_id, p.m FROM picks p
           JOIN split s ON p.doc_id = s.doc_id WHERE s.sp = 'train'
         ), ev AS (
           SELECT DISTINCT p.m FROM picks p
           JOIN split s ON p.doc_id = s.doc_id WHERE s.sp = 'eval'
         )
         SELECT t.doc_id, count(*) AS n_fp, count(e.m) AS n_shared
         FROM tr t LEFT JOIN ev e ON t.m = e.m
         GROUP BY 1 HAVING count(e.m) > 0
         ORDER BY t.doc_id"""),
    "q50_exact_dedup_stats" ->
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct,
         count(*) - count(DISTINCT md5(text)) AS n_dup_docs FROM documents""",
    "q51_shingle_stats" ->
      """WITH t AS (
           SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS ws
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(ws) < 3 THEN []
                  ELSE list_transform(range(len(ws)-2),
                         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
             END AS shs
           FROM t)
         SELECT doc_id, len(shs)::BIGINT AS n_shingles,
           len(list_distinct(shs))::BIGINT AS n_distinct_shingles
         FROM sh ORDER BY doc_id""",
    // q308: q52's candidate CTEs verbatim, the containment verify —
    // exact integer ppm and the cross-multiplied 90% gate on the
    // smaller side
    "q308_containment_pairs" ->
      s"""WITH t AS (
           SELECT doc_id, lang, list_filter(string_split(text,' '), w -> w <> '') AS ws
           FROM documents),
         sh0 AS (
           SELECT doc_id, lang, unnest(list_distinct(
             CASE WHEN len(ws) < 3 THEN []
                  ELSE list_transform(range(len(ws)-2),
                         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
             END)) AS sh
           FROM t),
         rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 50),
         capped AS (SELECT sh0.* FROM sh0 JOIN rare USING (sh)),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
           FROM capped a JOIN capped b
             ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
           GROUP BY 1,2)
         SELECT doc_a, doc_b, n_common::BIGINT AS n_common,
           sa.n_sh::BIGINT AS n_a, sb.n_sh::BIGINT AS n_b,
           (n_common::HUGEINT * 1000000
             // least(sa.n_sh, sb.n_sh))::BIGINT AS cont_ppm,
           (n_common::HUGEINT * 1000000
             // (sa.n_sh + sb.n_sh - n_common))::BIGINT AS jac_ppm
         FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE n_common * 100 >= least(sa.n_sh, sb.n_sh) * $minContainmentPct
         ORDER BY doc_a, doc_b""",
    "q52_jaccard_pairs" ->
      """WITH t AS (
           SELECT doc_id, lang, list_filter(string_split(text,' '), w -> w <> '') AS ws
           FROM documents),
         sh0 AS (
           SELECT doc_id, lang, unnest(list_distinct(
             CASE WHEN len(ws) < 3 THEN []
                  ELSE list_transform(range(len(ws)-2),
                         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
             END)) AS sh
           FROM t),
         rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 50),
         capped AS (SELECT sh0.* FROM sh0 JOIN rare USING (sh)),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
           FROM capped a JOIN capped b
             ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
           GROUP BY 1,2)
         SELECT doc_a, doc_b, n_common,
           round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
         FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.8
         ORDER BY doc_a, doc_b""",
    // q310: q57's recursive closure joined to q291's keep bit and the
    // token counts; the same (keep DESC, n_tok DESC, doc_id) argmax
    // window — booleans and integers only
    "q310_cluster_canonical_pick" ->
      s"""WITH RECURSIVE t AS (
           SELECT doc_id, lang, list_filter(string_split(text,' '), w -> w <> '') AS ws
           FROM documents WHERE text IS NOT NULL),
         sh0 AS (
           SELECT doc_id, lang, unnest(list_distinct(
             CASE WHEN len(ws) < 3 THEN []
                  ELSE list_transform(range(len(ws)-2),
                         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
             END)) AS sh
           FROM t),
         rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 50),
         capped AS (SELECT sh0.* FROM sh0 JOIN rare USING (sh)),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
           FROM capped a JOIN capped b
             ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
           GROUP BY 1,2),
         nearp AS (
           SELECT doc_a AS a, doc_b AS b
           FROM inter
           JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
           WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.8),
         fps AS (SELECT doc_id, md5(text) AS fp FROM documents
                 WHERE text IS NOT NULL),
         grps AS (SELECT fp, min(doc_id) AS rep FROM fps
                  GROUP BY fp HAVING count(*) > 1),
         exacte AS (
           SELECT r.rep AS a, f.doc_id AS b
           FROM fps f JOIN grps r USING (fp) WHERE f.doc_id <> r.rep),
         e AS (SELECT a, b FROM exacte UNION SELECT a, b FROM nearp),
         sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
         vs AS (SELECT DISTINCT a AS v FROM sym),
         reach AS (
           SELECT v AS a, v AS b FROM vs
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         comp AS (SELECT a AS v, min(b) AS rep FROM reach GROUP BY 1),
         m AS (
           SELECT doc_id,
             len(ws)::BIGINT AS n_words,
             coalesce(list_sum(list_transform(ws, w -> length(w))), 0)
               ::BIGINT AS sum_len,
             len(list_filter(ws, w ->
               contains(w, '#') OR contains(w, '...')))::BIGINT AS n_symbol,
             len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
               ::BIGINT AS n_alpha,
             len(list_filter(list_distinct(ws),
               w -> w IN (${TextAnalysis.stopList})))::BIGINT
               AS n_stop_distinct,
             len(ws)::BIGINT AS n_tok
           FROM t),
         j AS (
           SELECT c.v AS doc_id, c.rep AS cluster,
             (m.n_words > 0
               AND m.n_words >= 50 AND m.n_words <= 100000
               AND m.sum_len >= 3 * m.n_words
               AND m.sum_len <= 10 * m.n_words
               AND 10 * m.n_symbol <= m.n_words
               AND 5 * m.n_alpha >= 4 * m.n_words
               AND m.n_stop_distinct >= 2) AS keep,
             m.n_tok
           FROM comp c JOIN m ON m.doc_id = c.v),
         pick AS (
           SELECT cluster AS cluster_rep, doc_id AS picked,
             count(*) OVER (PARTITION BY cluster)::BIGINT AS n_members,
             keep AS picked_keep, n_tok AS picked_n_tok,
             doc_id <> cluster AS differs_from_min,
             row_number() OVER (PARTITION BY cluster
               ORDER BY keep DESC, n_tok DESC, doc_id) AS rn
           FROM j)
         SELECT cluster_rep, picked, n_members, picked_keep,
           picked_n_tok, differs_from_min
         FROM pick WHERE rn = 1 ORDER BY cluster_rep""",
    // the cluster output is label-free (rep = min member), so a
    // recursive reachability closure over the SAME edge relation
    // (exact-md5 star edges ∪ q52's Jaccard pairs) reproduces it
    // exactly — strings and integers only, no float drift
    "q57_dedup_clusters" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, lang, list_filter(string_split(text,' '), w -> w <> '') AS ws
           FROM documents),
         sh0 AS (
           SELECT doc_id, lang, unnest(list_distinct(
             CASE WHEN len(ws) < 3 THEN []
                  ELSE list_transform(range(len(ws)-2),
                         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
             END)) AS sh
           FROM t),
         rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 50),
         capped AS (SELECT sh0.* FROM sh0 JOIN rare USING (sh)),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
           FROM capped a JOIN capped b
             ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
           GROUP BY 1,2),
         nearp AS (
           SELECT doc_a AS a, doc_b AS b
           FROM inter
           JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
           WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.8),
         fps AS (SELECT doc_id, md5(text) AS fp FROM documents
                 WHERE text IS NOT NULL),
         reps AS (SELECT fp, min(doc_id) AS rep FROM fps
                  GROUP BY fp HAVING count(*) > 1),
         exacte AS (
           SELECT r.rep AS a, f.doc_id AS b
           FROM fps f JOIN reps r USING (fp) WHERE f.doc_id <> r.rep),
         e AS (SELECT a, b FROM exacte UNION SELECT a, b FROM nearp),
         sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
         vs AS (SELECT DISTINCT a AS v FROM sym),
         reach AS (
           SELECT v AS a, v AS b FROM vs
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         comp AS (SELECT a AS v, min(b) AS rep FROM reach GROUP BY 1),
         grp AS (
           SELECT rep, list_sort(list(v)) AS ms, count(*) AS n_members
           FROM comp GROUP BY 1)
         SELECT ms[1] AS cluster_rep, array_to_string(ms, ',') AS members,
           n_members
         FROM grp ORDER BY cluster_rep""")
  // q53-q56, q304: hash-function-specific outputs (xxhash64/SimHash) —
  // no DuckDB twin; verified in DedupSpec against brute-force Jaccard /
  // Hamming ground truth on a controlled corpus.
}
