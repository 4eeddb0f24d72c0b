package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.expr.Lexicon

/** Entity co-occurrence graph — the reference's character-relation
  * pipeline (relation_graph/danmaku_analysis_cluster.py:107-158),
  * DataFrame-only. The reference drops to the RDD API and shuffles
  * pickled Python tuples for edge counting
  * (danmaku_analysis_cluster.py:139-151); here pair generation is a
  * double posexplode with a `pos1 < pos2` filter over the per-row sorted
  * entity array — no join, no RDD, whole pipeline stays in
  * Tungsten/codegen, and the only exchanges are the two group-by
  * aggregations.
  *
  * Skew note (BASELINE.md: top entity appears >10× more than #2): the
  * groupBy keys here are (entity) and (src,dst) — count aggregation is
  * partial+final, so hot keys combine map-side before the exchange;
  * AQE's skew handling covers the residual.
  */
object CooccurrenceGraph {

  /** (row_key, entities) with per-row deduped, sorted entity arrays.
    * Sorting makes the emitted pair (a,b) canonical (a < b), matching
    * the reference's sorted(set(...)) (danmaku_analysis_cluster.py:142).
    */
  def entityRows(spark: SparkSession, dir: String): DataFrame =
    nonEmptySets(Tables.spread(Tables.documents(spark, dir)), "entities")

  /** (doc_id, `name`) for documents with at least one lexicon entity:
    * the sorted extraction, evaluated ONCE per document. A plain
    * `select(...).filter(size(set) > 0)` lets the optimizer push the
    * size filter below the projection with the alias inlined, so the
    * extraction ran twice per row (three times with the expression the
    * kernel replaced, which also drew an inferred `isnotnull`). Here
    * the set leaves through a one-element `explode`: the filter reads a
    * generator output, which no rule pushes or inlines below the
    * `Generate` (TokenEntitiesSpec counts the kernel in each plan).
    */
  private[ops] def nonEmptySets(docs: DataFrame, name: String): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(array(sort_array(Lexicon.extractEntities(col("text"))))).as(name))
      .filter(size(col(name)) > 0)

  /** Node table (Id, Size): mention count per entity — one mention per
    * document per entity (set semantics, danmaku_analysis_cluster.py:100).
    */
  def nodes(spark: SparkSession, dir: String): DataFrame =
    entityRows(spark, dir)
      .select(explode(col("entities")).as("entity_id"))
      .groupBy("entity_id")
      .agg(count(lit(1)).as("heat"))
      .orderBy(desc("heat"), asc("entity_id"))

  /** Edge table (src, dst, weight): co-mention count per canonical pair.
    * Pair generation is per-row (no self-join): two chained posexplodes
    * of the same sorted array filtered to pos1 < pos2 — G2's idiomatic
    * Spark mapping (SURVEY.md §2.4).
    */
  /** Edge weights without presentation ordering — the form downstream
    * consumers (degrees, GraphOps) build on; `edges` adds the sort for
    * the query/oracle surface.
    */
  def edgeCounts(spark: SparkSession, dir: String): DataFrame =
    entityRows(spark, dir)
      .select(col("doc_id"), col("entities"),
        posexplode(col("entities")).as(Seq("i", "src")))
      .select(col("doc_id"), col("i"), col("src"),
        posexplode(col("entities")).as(Seq("j", "dst")))
      .filter(col("i") < col("j"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("weight"))

  def edges(spark: SparkSession, dir: String): DataFrame =
    edgeCounts(spark, dir)
      .orderBy(desc("weight"), asc("src"), asc("dst"))

  /** Weighted degree per node: edges unioned both directions, summed. */
  def degrees(spark: SparkSession, dir: String): DataFrame = {
    val e = edgeCounts(spark, dir)
    e.select(col("src").as("entity_id"), col("weight"))
      .unionAll(e.select(col("dst").as("entity_id"), col("weight")))
      .groupBy("entity_id")
      .agg(sum("weight").as("degree"))
      .orderBy(desc("degree"), asc("entity_id"))
  }

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "q30_entity_nodes" -> (nodes(_, _)),
    "q31_entity_edges" -> (edges(_, _)),
    "q32_entity_degrees" -> (degrees(_, _)))

  /** Shared oracle CTE: tokenize → canonicalize aliases → lexicon filter
    * → per-doc distinct — mirrors Lexicon.extractEntities.
    */
  private[ops] val entsCte =
    """WITH toks AS (
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
       )"""

  val oracles: Map[String, String] = Map(
    "q30_entity_nodes" -> (entsCte +
      """ SELECT w AS entity_id, count(*) AS heat FROM ents
          GROUP BY 1 ORDER BY heat DESC, entity_id"""),
    "q31_entity_edges" -> (entsCte +
      """ SELECT a.w AS src, b.w AS dst, count(*) AS weight
          FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.w < b.w
          GROUP BY 1,2 ORDER BY weight DESC, src, dst"""),
    "q32_entity_degrees" -> (entsCte +
      """, e AS (
            SELECT a.w AS src, b.w AS dst, count(*) AS weight
            FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.w < b.w
            GROUP BY 1,2)
          SELECT entity_id, sum(weight)::BIGINT AS degree FROM (
            SELECT src AS entity_id, weight FROM e
            UNION ALL SELECT dst, weight FROM e)
          GROUP BY 1 ORDER BY degree DESC, entity_id"""))
}
