package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expr.{DotProduct, SimHash64, WinnowFingerprint}

/** Spark extension entry point: registers graft's custom Catalyst
  * expressions as SQL functions, so SQL users get them alongside the
  * Column API (`SELECT simhash64(tokens), dot_product(a, b) ...`).
  *
  * Activate with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * at session build (done by `GraftSession`).
  * SURVEY.md §7.4 reserved this hook; the engine needs no custom
  * optimizer rules — Catalyst's stock rewrites cover the surveyed
  * surface — so function injection is its only current payload.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      if (args.length != n)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> name,
            "expectedNum" -> n.toString,
            "actualNum" -> args.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      build(args)
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      arity("simhash64", 1)(args => SimHash64(args.head))))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      arity("dot_product", 2)(args => DotProduct(args(0), args(1)))))
    // winnow_fingerprint(text) with the library-default k=5, w=4 —
    // SQL arguments must be foldable ints to keep the expression
    // codegen-static, so the parameterized form stays Column-API-only
    ext.injectFunction((
      new FunctionIdentifier("winnow_fingerprint"),
      new ExpressionInfo(classOf[WinnowFingerprint].getName, "winnow_fingerprint"),
      arity("winnow_fingerprint", 1)(args => WinnowFingerprint(args.head, 5, 4))))
  }
}
