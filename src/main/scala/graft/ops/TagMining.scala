package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.fpm.FPGrowth
import graft.{RefData, Tables}

/** Frequent-itemset / association-rule mining — the reference's tag
  * pipeline (tag/main.py:187-194: pyspark.ml.fpm.FPGrowth,
  * minSupport=0.05, minConfidence=0.3), Scala-native via
  * org.apache.spark.ml.fpm.FPGrowth. Transactions are the per-document
  * entity sets (the `tags_arr` analog; tag/main.py:55 builds its
  * transactions the same way: split → array column).
  *
  * FP-Growth is inherently multi-job (item frequency count → per-
  * partition FP-tree → conditional-tree mining, shuffled by suffix);
  * that structure is the library's, and it parallelizes by transaction
  * partition — no driver materialization of the transaction set.
  */
object TagMining {

  val minSupport = 0.05
  val minConfidence = 0.3

  /** Per-doc transaction: deduped, sorted entity array (non-empty). */
  def transactions(spark: SparkSession, dir: String): DataFrame =
    CooccurrenceGraph.nonEmptySets(Tables.documents(spark, dir), "items")

  private def fit(spark: SparkSession, dir: String) =
    new FPGrowth()
      .setItemsCol("items")
      .setMinSupport(minSupport)
      .setMinConfidence(minConfidence)
      .fit(transactions(spark, dir))

  /** Frequent itemsets (items sorted for canonical form, rows totally
    * ordered for determinism).
    */
  def freqItemsets(spark: SparkSession, dir: String): DataFrame =
    fit(spark, dir).freqItemsets
      .select(sort_array(col("items")).as("items"), col("freq"))
      .orderBy(desc("freq"), asc("items"))

  /** Association rules with confidence / lift / support
    * (tag/main.py:191-194 sorts by lift).
    */
  def associationRules(spark: SparkSession, dir: String): DataFrame =
    fit(spark, dir).associationRules
      .select(
        sort_array(col("antecedent")).as("antecedent"),
        sort_array(col("consequent")).as("consequent"),
        round(col("confidence"), 6).as("confidence"),
        round(col("lift"), 6).as("lift"),
        round(col("support"), 6).as("support"))
      .orderBy(desc("lift"), asc("antecedent"), asc("consequent"))

  /** Top-N tag co-occurrence counts over the FREQUENT-ITEMSET table
    * (tag/fp_growth_analysis.py:158-165): top tags by number of frequent
    * itemsets containing them (itemsets count once each, not weighted by
    * freq — the reference iterates `pdf_freq['items']` rows), then one
    * count per unordered in-itemset pair with both tags in the top set.
    * Emitted flat as (tag_a < tag_b, n_cooccur) — the reference's
    * symmetric heatmap matrix is this relation mirrored. Tie-break on
    * the top-N cut is (count desc, tag asc); pandas value_counts keeps
    * first-seen order on ties, which no distributed engine should
    * reproduce. Pair generation is double posexplode i<j (G2 pattern) —
    * itemsets are lexicon-bounded (≤10 items), and the top-tag filter is
    * a 10-row broadcast semi-join, so nothing here scales with corpus
    * size beyond the FP-Growth fit itself.
    */
  def tagCooccurrence(spark: SparkSession, dir: String, topN: Int = 10): DataFrame = {
    val fi = freqItemsets(spark, dir).select("items")
    val topTags = fi.select(explode(col("items")).as("tag"))
      .groupBy("tag").agg(count(lit(1)).as("n_itemsets"))
      .orderBy(desc("n_itemsets"), asc("tag"))
      .limit(topN)
      .select("tag")
    fi.select(col("items"), posexplode(col("items")).as(Seq("i", "tag_a")))
      .select(col("tag_a"), col("i"), posexplode(col("items")).as(Seq("j", "tag_b")))
      .filter(col("i") < col("j"))
      .join(broadcast(topTags.withColumnRenamed("tag", "tag_a")), Seq("tag_a"), "left_semi")
      .join(broadcast(topTags.withColumnRenamed("tag", "tag_b")), Seq("tag_b"), "left_semi")
      .groupBy("tag_a", "tag_b")
      .agg(count(lit(1)).as("n_cooccur"))
      .select("tag_a", "tag_b", "n_cooccur")
      .orderBy("tag_a", "tag_b")
  }

  val seqMinSupport = 0.3
  val seqMaxPatternLen = 3
  val seqMaxLen = 50

  /** q124 — SEQUENTIAL pattern mining (PrefixSpan): which ordered
    * event-type subsequences recur across users, the order-aware twin
    * of FP-Growth's itemsets (q70 asks "what co-occurs", this asks
    * "what follows what" — and unlike q116's contiguous session paths,
    * a pattern may skip events: signup…→…purchase matches however
    * much noise sits between). `ml.fpm.PrefixSpan`, like FP-Growth a
    * multi-job library algorithm: sequences are projected and mined by
    * prefix, distributed by candidate prefix.
    *
    * Per-user sequences are ordered (tsu, event_id) — the repo-wide
    * deterministic tie-break — and capped at `seqMaxLen` events (the
    * per-user state bound; the cap is part of the query's definition
    * and the oracle applies it identically). Support counts USERS
    * (once each), min count = ceil(minSupport·n_seq) — FP-Growth's
    * exact integer gate. The oracle brute-force enumerates every
    * pattern up to length 3 by ordered self-joins (tractable: the
    * alphabet is the closed event_type domain) and counts users with
    * an ordered occurrence — an independent formulation of the same
    * support definition.
    */
  def sequencePatterns(spark: SparkSession, dir: String): DataFrame =
    sequencePatternsCore(Tables.eventsMicros(spark, dir))

  private[graft] def sequencePatternsCore(ev: DataFrame): DataFrame = {
    import org.apache.spark.ml.fpm.PrefixSpan
    val byTime = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("tsu", "event_id")
    val seqs = ev
      // the oracle's count(DISTINCT user_id) and equi-joins drop NULL
      // users; match that explicitly rather than forming a null-keyed
      // sequence (window PARTITION BY would happily group the nulls)
      .filter(col("user_id").isNotNull)
      .withColumn("rn", row_number().over(byTime))
      .filter(col("rn") <= seqMaxLen)
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("rn"), col("event_type"))))
        .as("evs"))
      .select(expr("transform(evs, e -> array(e.event_type))").as("sequence"))
    new PrefixSpan()
      .setMinSupport(seqMinSupport)
      .setMaxPatternLength(seqMaxPatternLen)
      .setSequenceCol("sequence")
      .findFrequentSequentialPatterns(seqs)
      .select(
        expr("array_join(transform(sequence, x -> x[0]), '>')").as("pattern"),
        col("freq").as("n_users"))
      .orderBy(desc("n_users"), asc("pattern"))
  }

  // ---- q243/q244: CJK column-name fixture (SURVEY §7.5) ----------------

  /** Committed fixture mirroring the reference's anime-metadata CSV
    * (tag/bilibili_anime_spider.py:91-98 writes 标题/标签/追番人数/评分/
    * 剧集状态; tag/main.py:45 reads it): CJK COLUMN NAMES end-to-end —
    * scan → derive → filter → groupBy → parquet sink → DuckDB oracle —
    * proving unicode identifiers survive every layer (quoting, parquet
    * field names, the driver's sort-columns-by-name hash).
    */
  val animeCsvPath = RefData.path("anime/data.csv")

  /** All-string scan (the reference passes inferSchema=true at
    * tag/main.py:45; typed derivation below is explicit instead, so
    * the oracle's all_varchar read sees identical raw values).
    */
  private def animeRaw(spark: SparkSession): DataFrame =
    spark.read.option("header", true).csv(animeCsvPath)

  /** The tag/main.py:52-57 cleaning rules, ANSI-safe: follower counts
    * parsed with the 万=×10000 unit rule, junk follower rows
    * (想看/追剧) and tagless (无) rows dropped, tags split to an
    * array. Double arithmetic throughout (the reference's float cast
    * would reproduce, but double keeps the oracle comparison exact
    * without an fp-narrowing step on both sides).
    */
  private[graft] def animeClean(spark: SparkSession): DataFrame =
    animeRaw(spark)
      .withColumn("follows",
        expr("""try_cast(regexp_extract(`追番人数`, '(\\d+\\.?\\d*)', 1)
                as double)""") *
          when(col("追番人数").contains("万"), lit(10000.0)).otherwise(lit(1.0)))
      .withColumn("tags_arr", split(col("标签"), ","))
      .withColumn("rating", expr("try_cast(`评分` as double)"))
      .filter(col("tags_arr").isNotNull && col("标签") =!= "无" &&
        !col("追番人数").contains("想看") && !col("追番人数").contains("追剧") &&
        size(col("tags_arr")) > 0)

  /** q243 — the cleaned table, CJK title column kept under its native
    * name in the OUTPUT schema (the point of the fixture).
    */
  def animeCleanCjk(spark: SparkSession, dir: String): DataFrame =
    animeClean(spark)
      .select(col("标题"), col("follows"), col("rating"),
        size(col("tags_arr")).cast("long").as("n_tags"),
        col("剧集状态").cast("long").as("finished"))
      .orderBy("标题")

  /** q244 — tag frequencies with a CJK GROUP-BY output column (标签 as
    * the exploded per-tag grain; the tag/main.py:166-170 tag-frequency
    * bar chart's data).
    */
  def animeTagFreqCjk(spark: SparkSession, dir: String): DataFrame =
    animeClean(spark)
      .select(explode(col("tags_arr")).as("标签"))
      .groupBy("标签")
      .agg(count(lit(1)).as("n_titles"))
      .orderBy(desc("n_titles"), col("标签"))

  type Q = (SparkSession, String) => DataFrame

  // Registered surface serializes the itemset arrays (the driver's pandas
  // compare can't hash numpy arrays — CORRECTNESS_r02); the library API
  // (`freqItemsets` / `associationRules`) keeps native arrays.
  val queries: Map[String, Q] = Map(
    "q124_sequence_patterns" -> (sequencePatterns(_, _)),
    "q70_freq_itemsets" -> ((s, d) =>
      freqItemsets(s, d).withColumn("items", array_join(col("items"), ","))),
    "q71_assoc_rules" -> ((s, d) =>
      associationRules(s, d)
        .withColumn("antecedent", array_join(col("antecedent"), ","))
        .withColumn("consequent", array_join(col("consequent"), ","))),
    "q72_tag_cooccurrence" -> (tagCooccurrence(_, _)),
    "q243_anime_clean_cjk" -> (animeCleanCjk(_, _)),
    "q244_anime_tag_freq_cjk" -> (animeTagFreqCjk(_, _)))

  /** DuckDB oracles by brute-force subset enumeration: a doc contains
    * itemset S iff S ⊆ its basket, so enumerating every non-empty
    * subset of every basket (bitmask over the sorted distinct items)
    * and counting occurrences reproduces FP-Growth's itemset table
    * exactly — tractable because baskets are lexicon-bounded (≤10
    * items → ≤1023 subsets per doc). Rules follow from the itemset
    * table: every single-item consequent of every k≥2 itemset, with
    * confidence/lift/support as the same Long→Double divisions Spark's
    * AssociationRules performs (mllib AssociationRules.Rule), so the
    * doubles match bit-for-bit before rounding. minCount matches
    * FPGrowth's `ceil(minSupport * numTransactions)`.
    *
    * TagMiningSpec additionally pins hand-computed itemsets and the
    * support-monotonicity property.
    */
  private val txCte =
    s"""WITH toks AS (
         SELECT doc_id,
           CASE t WHEN 'sorts' THEN 'sort' WHEN 'joins' THEN 'join'
                  WHEN 'scans' THEN 'scan' WHEN 'streams' THEN 'stream'
                  WHEN 'windows' THEN 'window' ELSE t END AS w
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
               FROM documents WHERE text IS NOT NULL)
       ), ents AS (
         SELECT DISTINCT doc_id, w FROM toks
         WHERE w IN ('spark','join','scan','window','hash',
                     'merge','sort','stream','batch','shuffle')
       ), tx AS (
         SELECT doc_id, list_sort(list(w)) AS items FROM ents GROUP BY doc_id
       ), n AS (SELECT count(*) AS n_tx FROM tx),
       minc AS (
         SELECT CAST(ceil($minSupport::DOUBLE * n_tx) AS BIGINT) AS min_count FROM n
       ), sub AS (
         SELECT list_filter(t.items, (x, i) -> ((m.m >> (i - 1)) & 1) = 1) AS itemset
         FROM tx t,
           LATERAL (SELECT unnest(generate_series(1, (1 << len(t.items)) - 1)) AS m) m
       ), fi AS (
         SELECT itemset, count(*) AS freq FROM sub GROUP BY 1
         HAVING count(*) >= (SELECT min_count FROM minc)
       )"""

  /** Shared DuckDB CTE for the q243/q244 oracles: same raw all-varchar
    * read, same 万-unit parse, same junk filters, CJK identifiers
    * double-quoted.
    */
  private val animeCleanCte =
    s"""WITH raw AS (
         SELECT * FROM read_csv('$animeCsvPath', header=true,
           all_varchar=true)
       ), c AS (
         SELECT "标题",
           TRY_CAST(regexp_extract("追番人数", '(\\d+\\.?\\d*)', 1) AS DOUBLE)
             * (CASE WHEN contains("追番人数", '万')
                  THEN 10000.0::DOUBLE ELSE 1.0::DOUBLE END) AS follows,
           string_split("标签", ',') AS tags_arr,
           TRY_CAST("评分" AS DOUBLE) AS rating,
           TRY_CAST("剧集状态" AS BIGINT) AS finished,
           "标签", "追番人数"
         FROM raw
       ), cleaned AS (
         SELECT * FROM c
         WHERE tags_arr IS NOT NULL AND "标签" <> '无'
           AND NOT contains("追番人数", '想看')
           AND NOT contains("追番人数", '追剧')
           AND len(tags_arr) > 0
       )"""

  val oracles: Map[String, String] = Map(
    "q243_anime_clean_cjk" ->
      (animeCleanCte +
        s""" SELECT "标题", follows, rating,
             len(tags_arr)::BIGINT AS n_tags, finished
           FROM cleaned ORDER BY "标题""""),
    "q244_anime_tag_freq_cjk" ->
      (animeCleanCte +
        s""", tags AS (
             SELECT unnest(tags_arr) AS "标签" FROM cleaned)
           SELECT "标签", count(*)::BIGINT AS n_titles
           FROM tags GROUP BY 1 ORDER BY n_titles DESC, "标签""""),
    // q124: brute-force ordered-occurrence enumeration — a user
    // supports a pattern iff an ordered (not necessarily contiguous)
    // occurrence exists; lengths 1-3 via 0/1/2 ordered self-joins,
    // the same ceil-gate as FP-Growth
    "q124_sequence_patterns" ->
      s"""WITH ev AS (
           SELECT user_id, event_id, event_type,
             epoch_ns(ts) // 1000 AS tsu
           FROM events
           WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         r AS (
           SELECT user_id, event_type AS t,
             row_number() OVER (PARTITION BY user_id
               ORDER BY tsu, event_id) AS rn
           FROM ev),
         rr AS (SELECT * FROM r WHERE rn <= ${seqMaxLen}),
         n AS (SELECT count(DISTINCT user_id) AS n_seq FROM rr),
         minc AS (
           SELECT CAST(ceil(${seqMinSupport}::DOUBLE * n_seq) AS BIGINT)
             AS mc FROM n),
         p1 AS (
           SELECT t AS pattern, count(DISTINCT user_id) AS n_users
           FROM rr GROUP BY 1),
         p2 AS (
           SELECT a.t || '>' || b.t AS pattern,
             count(DISTINCT a.user_id) AS n_users
           FROM rr a JOIN rr b
             ON a.user_id = b.user_id AND a.rn < b.rn
           GROUP BY 1),
         p3 AS (
           SELECT a.t || '>' || b.t || '>' || c.t AS pattern,
             count(DISTINCT a.user_id) AS n_users
           FROM rr a
           JOIN rr b ON a.user_id = b.user_id AND a.rn < b.rn
           JOIN rr c ON b.user_id = c.user_id AND b.rn < c.rn
           GROUP BY 1),
         allp AS (
           SELECT * FROM p1
           UNION ALL SELECT * FROM p2
           UNION ALL SELECT * FROM p3)
         SELECT pattern, n_users::BIGINT AS n_users
         FROM allp, minc WHERE n_users >= minc.mc
         ORDER BY n_users DESC, pattern""",
    "q70_freq_itemsets" -> (txCte +
      """ SELECT array_to_string(itemset, ',') AS items, freq
          FROM fi ORDER BY freq DESC, items"""),
    "q71_assoc_rules" -> (txCte +
      s""", rules AS (
           SELECT list_sort(list_filter(s.itemset, (x, i) -> i <> c.i)) AS ante,
             [s.itemset[c.i]] AS cons, s.freq AS freq_union
           FROM fi s,
             LATERAL (SELECT unnest(generate_series(1, len(s.itemset))) AS i) c
           WHERE len(s.itemset) >= 2
         ), scored AS (
           SELECT r.ante, r.cons, r.freq_union,
             r.freq_union::DOUBLE / fa.freq::DOUBLE AS conf,
             fc.freq AS freq_c
           FROM rules r
           JOIN fi fa ON fa.itemset = r.ante
           JOIN fi fc ON fc.itemset = r.cons
         )
         SELECT array_to_string(ante, ',') AS antecedent,
           array_to_string(cons, ',') AS consequent,
           round(conf, 6) AS confidence,
           round(conf / (freq_c::DOUBLE / (SELECT n_tx FROM n)::DOUBLE), 6) AS lift,
           round(freq_union::DOUBLE / (SELECT n_tx FROM n)::DOUBLE, 6) AS support
         FROM scored, n
         WHERE conf >= $minConfidence::DOUBLE
         ORDER BY lift DESC, antecedent, consequent"""),
    "q72_tag_cooccurrence" -> (txCte +
      """, tags AS (
           SELECT t AS tag FROM (SELECT unnest(itemset) AS t FROM fi)
           GROUP BY 1 ORDER BY count(*) DESC, tag LIMIT 10
         ), px AS (
           SELECT f.itemset[ia.i] AS tag_a, f.itemset[ja.j] AS tag_b
           FROM fi f,
             LATERAL (SELECT unnest(generate_series(1, len(f.itemset))) AS i) ia,
             LATERAL (SELECT unnest(generate_series(1, len(f.itemset))) AS j) ja
           WHERE ia.i < ja.j
         )
         SELECT tag_a, tag_b, count(*) AS n_cooccur
         FROM px
         WHERE tag_a IN (SELECT tag FROM tags)
           AND tag_b IN (SELECT tag FROM tags)
         GROUP BY 1, 2 ORDER BY 1, 2"""))
}
