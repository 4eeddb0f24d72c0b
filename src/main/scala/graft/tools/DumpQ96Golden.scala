package graft.tools

/** Regenerates ops/FidelityGolden.scala — the committed golden for
  * q96's oracle gate (r12 verdict task 5). q96's input is the
  * reference's COMMITTED SPY corpus (refdata/, fixed) and its
  * tokenizer is the deterministic dictionary max-match segmenter with
  * a fixed committed dictionary, so its (word, frequency) top-500 is a
  * constant of the repo — pinnable as a DuckDB VALUES literal the
  * driver hash-compares like any other oracle. Run after any
  * deliberate change to the segmenter/dictionary/corpus, review the
  * diff, commit.
  *
  * Provenance (r13 ADVICE): the golden is generated by the engine it
  * gates, so on its own it would only pin regressions. FidelitySpec's
  * "independent plain-Scala segment+count replica" test re-derives the
  * same top-500 from an implementation sharing only data (dictionary/
  * stopwords/numeric class) with the engine — golden == engine (driver
  * gate) ∧ engine == replica (spec) certifies the golden's content,
  * not just its stability.
  *
  * Usage: runMain graft.tools.DumpQ96Golden
  */
object DumpQ96Golden {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build(graft.GraftSession.cpus)
    val rows = graft.SparkEntry.queries("q96_word_freq")(spark, "unused")
      .collect()
    def esc(s: String) = s.replace("'", "''")
    val values = rows.map(r =>
      s"('${esc(r.getString(0))}', ${r.getLong(1)})").mkString(",\n    ")
    // A triple-quote inside the data would terminate the generated
    // Scala string literal. Fail loudly rather than silently mutate the
    // golden (r13 ADVICE — the old code stripped the sequence, i.e.
    // certified output the engine never produced).
    require(!values.contains("\"\"\""),
      "golden rows contain a \"\"\" sequence — emit with proper escaping " +
        "instead of generating a corrupt literal")
    val src =
      s"""package graft.ops
         |
         |/** GENERATED by graft.tools.DumpQ96Golden — do not hand-edit.
         |  * The committed golden for q96's oracle: the top-500
         |  * (word, frequency) relation over the reference's committed
         |  * SPY corpus under the fixed dictionary max-match segmenter.
         |  * A pure constant of the repo (corpus + dictionary + rules
         |  * all committed), emitted as a DuckDB VALUES literal so the
         |  * driver hash-gates q96 like any oracle-backed query.
         |  */
         |object FidelityGolden {
         |  val q96OracleSql: String =
         |    \"\"\"SELECT word, frequency::BIGINT AS frequency FROM (VALUES
         |    $values
         |    ) AS t(word, frequency)
         |    ORDER BY frequency DESC, word\"\"\"
         |}
         |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get("src/main/scala/graft/ops/FidelityGolden.scala"),
      src.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[q96golden] wrote ${rows.length} rows")
    spark.stop()
  }
}
