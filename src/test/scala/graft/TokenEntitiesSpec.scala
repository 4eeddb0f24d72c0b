package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.{Lexicon, TokenEntities}

/** Parity pin for the entity-extraction kernel: every row of
  * `TokenEntities` must equal the Spark-builtin expression it replaced
  * — `array_intersect(transform(split(text, " "), alias fold),
  * lexicon)`, kept here as an independent replica — on the input
  * regions the byte scan treats specially: NULL and empty text, empty
  * tokens from leading/trailing/repeated spaces, alias tokens and their
  * near-misses, non-ASCII tokens, repeated entities, and random token
  * strings.
  */
class TokenEntitiesSpec extends AnyFunSuite with SparkTestBase
    with AdaptiveSparkPlanHelper {

  /** The replaced expression, verbatim in semantics. */
  private def replica(text: Column, entities: Seq[String],
                      aliases: Seq[(String, String)]): Column =
    array_intersect(
      transform(split(text, " "), t => aliases.foldLeft(t)((acc, kv) =>
        when(acc === kv._1, kv._2).otherwise(acc))),
      typedLit(entities))

  private def parity(texts: Seq[Option[String]],
                     entities: Seq[String] = Lexicon.entities,
                     aliases: Seq[(String, String)] = Lexicon.aliases.toSeq): Unit = {
    val s = spark
    import s.implicits._
    val rows = texts.zipWithIndex.map { case (t, i) => (i, t) }
    // a local relation is folded by the optimizer through interpreted
    // `eval`; an RDD source runs the generated code
    for (src <- Seq(rows.toDF("i", "text"),
        spark.sparkContext.parallelize(rows, 2).toDF("i", "text"))) {
      val df = src.select(col("i"), col("text"),
        TokenEntities(col("text"), entities, aliases).as("got"),
        replica(col("text"), entities, aliases).as("want"))
      val out = df.collect()
      assert(out.length == texts.length)
      val bad = out.filter(r => r.get(2) != r.get(3))
      assert(bad.isEmpty, bad.take(5).map(r =>
        s"text=${r.get(1)} got=${r.get(2)} want=${r.get(3)}").mkString("\n"))
    }
  }

  test("hand cases: null, empty, space runs, aliases, near-misses, non-ASCII") {
    parity(Seq(
      None, Some(""), Some(" "), Some("   "),
      Some(" spark"), Some("spark "), Some("  spark  join  "),
      Some("spark joins the shuffle spark"), Some("windows sorts"),
      Some("nothing here"),
      // near-misses: prefix/suffix extensions, case, punctuation
      Some("sorted Spark joins, spar sparks sort_ sortss"),
      Some("join\tspark\nsort"), // only the space byte separates
      // non-ASCII around and inside tokens
      Some("스파크 spark😀 😀 spark ｓｐａｒｋ café join"),
      Some("中文 spark 中文 join"),
      // repeated entities and alias/canonical collisions dedupe
      Some("sort sorts sort sorts join joins join"),
      Some("stream streams batch batch hash merge shuffle scan scans window")))
  }

  test("general lexicons: chained aliases, order-sensitive folds, an empty entity") {
    val texts = Seq(Some("x y z"), Some("y x"), Some("a  b"), Some(""), Some(" "),
      Some("z"), None, Some("spark x"))
    // x → y → spark: the fold applies later steps to earlier results
    parity(texts, Seq("spark", "z"), Seq("x" -> "y", "y" -> "spark"))
    // reversed order: x only reaches y, which is not an entity
    parity(texts, Seq("spark", "z"), Seq("y" -> "spark", "x" -> "y"))
    // an empty entity matches the empty tokens of a space run
    parity(texts, Seq("", "a"), Seq("b" -> ""))
    // an entity that is itself an alias key is only kept via its canon
    parity(texts, Seq("x", "z"), Seq("x" -> "q"))
  }

  test("random token strings match the replaced expression") {
    val rnd = new scala.util.Random(20261018L)
    val pool = Lexicon.entities ++ Lexicon.aliases.keys ++ Seq(
      "", "sorted", "Spark", "joins,", "spar", "the", "a", "😀", "중", "é",
      "windowss", "streams😀", "ＳＰＡＲＫ")
    def token(): String =
      if (rnd.nextInt(4) == 0)
        Seq.fill(1 + rnd.nextInt(6))(
          if (rnd.nextBoolean()) ('a' + rnd.nextInt(26)).toChar.toString
          else new String(Character.toChars(0x80 + rnd.nextInt(0x1F000)))).mkString
      else pool(rnd.nextInt(pool.length))
    val texts = Seq.fill(3000) {
      if (rnd.nextInt(50) == 0) None
      else Some(Seq.fill(rnd.nextInt(12))(token())
        .mkString(" " * (1 + rnd.nextInt(2))))
    }
    parity(texts)
  }

  test("type contract: the replaced expression's data type, nullable with its input") {
    val s = spark
    import s.implicits._
    val df = Seq(Option("spark")).toDF("text")
      .select(Lexicon.extractEntities(col("text")).as("got"),
        replica(col("text"), Lexicon.entities, Lexicon.aliases.toSeq).as("want"))
    assert(df.schema("got").dataType == df.schema("want").dataType)
    assert(df.schema("got").nullable == df.schema("want").nullable)
  }

  test("the kernel is codegen'd: no fallback, evaluated inside WholeStageCodegen") {
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[TokenEntities]))
    val df = ops.CooccurrenceGraph.entityRows(spark, sf)
    df.collect() // the final adaptive plan holds the codegen stages
    val plan = df.queryExecution.executedPlan
    val inStage = collect(plan) { case w: WholeStageCodegenExec =>
      w.child.find(_.expressions.exists(_.exists(_.isInstanceOf[TokenEntities]))).isDefined
    }
    assert(inStage.contains(true), plan.treeString)
  }

  test("entityRows and transactions keep the old pipeline's rows and schema") {
    val old = Tables.documents(spark, sf).filter(col("text").isNotNull)
      .select(col("doc_id"), sort_array(replica(col("text"),
        Lexicon.entities, Lexicon.aliases.toSeq)).as("entities"))
      .filter(size(col("entities")) > 0)
    for (now <- Seq(ops.CooccurrenceGraph.entityRows(spark, sf),
        ops.TagMining.transactions(spark, sf).withColumnRenamed("items", "entities"))) {
      assert(now.schema == old.schema)
      assert(now.orderBy("doc_id").collect().toSeq == old.orderBy("doc_id").collect().toSeq)
    }
  }

  test("the extraction is evaluated once per document: one kernel per optimized plan") {
    // a select/filter form carries it twice (the pushed-down size
    // filter and the projection); the replaced expression was also
    // copied into an inferred isnotnull
    def kernels(df: DataFrame): Int = df.queryExecution.optimizedPlan
      .collect { case p => p.expressions.map(_.collect { case t: TokenEntities => t }.size).sum }
      .sum
    val plans = Seq(
      "entityRows" -> ops.CooccurrenceGraph.entityRows(spark, sf),
      "nodes" -> ops.CooccurrenceGraph.nodes(spark, sf),
      "edgeCounts" -> ops.CooccurrenceGraph.edgeCounts(spark, sf),
      "edges" -> ops.CooccurrenceGraph.edges(spark, sf),
      "transactions" -> ops.TagMining.transactions(spark, sf))
    plans.foreach { case (name, df) =>
      val n = kernels(df)
      assert(n == 1, s"$name carries the kernel $n times:\n${df.queryExecution.optimizedPlan}")
    }
  }
}
