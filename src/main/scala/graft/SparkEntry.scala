package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see SURVEY.md §7.
  * `queries` is the engine's full registered surface; every entry with a
  * DuckDB-expressible result also appears in `oracleSql` (same column
  * names both sides — the driver hash-compares after sorting columns by
  * name).
  */
object SparkEntry {

  private[graft] val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Relational.queries, Relational.oracles),
      (EnergyPipeline.queries, EnergyPipeline.oracles),
      (CooccurrenceGraph.queries, CooccurrenceGraph.oracles),
      (TextAnalysis.queries, TextAnalysis.oracles),
      (Dedup.queries, Dedup.oracles),
      (Sampling.queries, Sampling.oracles),
      (Scoring.queries, Scoring.oracles),
      (CorpusPrep.queries, CorpusPrep.oracles),
      (Similarity.queries, Similarity.oracles),
      (TagMining.queries, TagMining.oracles),
      (Multimodal.queries, Multimodal.oracles),
      (Skew.queries, Skew.oracles),
      (GraphOps.queries, GraphOps.oracles),
      (Sessionization.queries, Sessionization.oracles),
      (TemporalJoins.queries, TemporalJoins.oracles),
      (Behavior.queries, Behavior.oracles),
      (Changelog.queries, Changelog.oracles),
      (GlobalIndex.queries, GlobalIndex.oracles),
      (Linkage.queries, Linkage.oracles),
      (SpatialGrid.queries, SpatialGrid.oracles),
      (Quality.queries, Quality.oracles),
      (Integrity.queries, Integrity.oracles),
      (Fidelity.queries, Fidelity.oracles),
      (graft.sources.BinaryIngest.queries, graft.sources.BinaryIngest.oracles),
      (graft.sources.ParquetLayout.queries, graft.sources.ParquetLayout.oracles),
      (graft.streaming.StreamingQueries.queries, graft.streaming.StreamingQueries.oracles))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's signature pipeline: per-user energy ranking with
    * highlight flags (hot/spark_energy.py:60-79).
    */
  def entry(spark: SparkSession): DataFrame =
    EnergyPipeline.queries("q21_energy_ranked")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. A query that
    * reads the reference corpus first checks its [[RefData.queryReads]]
    * paths, so an unmounted corpus fails it with one message naming the
    * path.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _).map { case (name, fn) =>
      name -> RefData.queryReads.get(name).fold(fn)(paths =>
        (s: SparkSession, dir: String) => { paths.foreach(RefData.require); fn(s, dir) })
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (FP-Growth, hash-seeded signatures, stub decoders) → driver records
    * a weaker rows-only check; those are covered by scalatest specs.
    */
  def oracleSql: Map[String, String] =
    modules.map(_._2).reduce(_ ++ _)
}
