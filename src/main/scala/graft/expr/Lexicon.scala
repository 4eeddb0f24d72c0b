package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Lexicon-driven scoring as native Catalyst expressions.
  *
  * The reference implements its sentiment scorer as a Python UDF with four
  * ordered substring tiers, first hit wins (hot/spark_energy.py:35-59). A
  * UDF is an optimization barrier (blocks pushdown, breaks whole-stage
  * codegen, and in PySpark adds a pickle round-trip per row); the same
  * tiered first-match-wins semantics is a `when` chain — fully
  * codegen'd, constant-folded, and pushdown-transparent.
  */
object Lexicon {

  /** Tiered weights for `events.event_type` — the analog of the
    * reference's god/high/mid/noise tiers (spark_energy.py:16-18).
    * First matching tier wins; unknown types get weight 1.0.
    */
  val eventTypeTiers: Seq[(Seq[String], Double)] = Seq(
    Seq("purchase") -> 5.0,
    Seq("signup") -> 3.0,
    Seq("click") -> 2.0,
    Seq("error") -> 0.5)

  val defaultWeight = 1.0

  /** Tiered first-match-wins score, null-safe (null/empty → default,
    * matching spark_energy.py:38-39). Generic over the tier content —
    * `RefLexicons.energyTiers` plugs the reference's real lexicon in
    * (ops.Fidelity), `eventTypeTiers` is the synthetic-corpus analog.
    */
  def score(c: Column,
            tiers: Seq[(Seq[String], Double)] = eventTypeTiers,
            default: Double = defaultWeight): Column = {
    val lowered = lower(c)
    val chain = tiers.foldLeft(Option.empty[Column]) {
      case (acc, (terms, w)) =>
        val hit = terms.map(t => lowered.contains(t)).reduce(_ || _)
        Some(acc.fold(when(hit, w))(_.when(hit, w)))
    }.get
    when(c.isNull || c === "", default).otherwise(chain.otherwise(default))
  }

  /** The entity lexicon for co-occurrence analysis — the analog of the
    * reference's ~40-alias character map
    * (relation_graph/danmaku_analysis_cluster.py:25-107). Over the
    * driver's `documents` corpus the "characters" are engine terms.
    */
  val entities: Seq[String] = Seq(
    "spark", "join", "scan", "window", "hash",
    "merge", "sort", "stream", "batch", "shuffle")

  /** Alias → canonical form. The reference maps many alias spellings to
    * one canonical character; here a small demonstration map that the
    * extractor applies before matching.
    */
  val aliases: Map[String, String] = Map(
    "sorts" -> "sort", "joins" -> "join", "scans" -> "scan",
    "streams" -> "stream", "windows" -> "window")

  /** Entity extraction: split on spaces, canonicalize aliases, keep
    * lexicon hits, dedupe in first-occurrence order (one mention per
    * entity per row, matching the reference's set() at
    * danmaku_analysis_cluster.py:100); NULL text gives NULL. One
    * codegen'd pass over the UTF-8 bytes ([[TokenEntities]]); callers
    * sort the result.
    */
  def extractEntities(textCol: Column): Column =
    TokenEntities(textCol, entities, aliases.toSeq)
}
