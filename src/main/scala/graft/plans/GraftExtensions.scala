package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.{ColumnBridge => B}

import graft.functions.BusinessTime

/** SparkSessionExtensions hook: registers the engine's native expressions
  * as SQL functions, so `spark.sql("SELECT business_seconds(a, b)")` works
  * with `spark.sql.extensions=graft.plans.GraftExtensions` (or by calling
  * [[GraftExtensions.register]] on an existing session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => ThresholdLevenshteinRule)
  }
}

object GraftExtensions {

  private def arity(n: Int, name: String)(f: Seq[Expression] => Expression): Seq[Expression] => Expression = {
    children =>
      require(children.length == n, s"$name takes $n argument(s)")
      f(children)
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  /** Every native expression of the engine, SQL-callable. Parameterized
    * kernels (shingle width, simhash bits) take integer literals; the
    * coefficient/plane-matrix kernels (MinHashSignature, HyperplaneBucket,
    * NearestCentroid) stay Column-API-only — their constructor parameters
    * are driver-computed arrays, not SQL values.
    */
  private[plans] val builders: Seq[(String, org.apache.spark.sql.catalyst.expressions.ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("business_seconds", BusinessSeconds.info,
      arity(2, "business_seconds(start, end)")(c => BusinessSeconds(c.head, c(1)))),
    ("snake_case", SnakeCase.info,
      arity(1, "snake_case(str)")(c => SnakeCase(c.head))),
    ("dot_product", DotProduct.info,
      arity(2, "dot_product(a, b)")(c => DotProduct(c.head, c(1)))),
    ("jaccard_sorted", JaccardSorted.info,
      arity(2, "jaccard_sorted(a, b)")(c => JaccardSorted(c.head, c(1)))),
    ("containment_sorted", ContainmentSorted.info,
      arity(2, "containment_sorted(a, b)")(c => ContainmentSorted(c.head, c(1)))),
    ("shingle_hashes", ShingleHashes.info,
      arity(2, "shingle_hashes(text, k)")(c => ShingleHashes(c.head, intLit(c(1), "k")))),
    ("simhash64", SimHash64.info,
      arity(2, "simhash64(text, bits)")(c => SimHash64(c.head, intLit(c(1), "bits")))),
    ("ngram_stats", NgramStats.info,
      arity(2, "ngram_stats(text, n)")(c => NgramStats(c.head, intLit(c(1), "n")))),
    ("kmv_min_k", KmvMinK.info,
      arity(2, "kmv_min_k(hash, k)")(c => KmvMinK(c.head, intLit(c(1), "k")))),
    ("hll_registers", HllRegisters.info,
      arity(2, "hll_registers(coin, p)")(c => HllRegisters(c.head, intLit(c(1), "p")))),
    ("nfc_clean", NfcClean.info,
      arity(1, "nfc_clean(str)")(c => NfcClean(c.head))),
    ("morton_code", MortonCode.info,
      arity(3, "morton_code(a, b, bits)")(c => MortonCode(c.head, c(1), intLit(c(2), "bits")))),
    ("hilbert_code", HilbertCode.info,
      arity(3, "hilbert_code(a, b, bits)")(c => HilbertCode(c.head, c(1), intLit(c(2), "bits")))),
    ("topk_pairs", TopKPairs.info,
      arity(3, "topk_pairs(ord, payload, k)")(c => TopKPairs(c.head, c(1), intLit(c(2), "k")))))

  /** Column-API form of `business_seconds`, under `calendar` (the SQL
    * function's is the default one). Needs no [[register]].
    */
  def businessSecondsExpr(start: Column, end: Column,
                          calendar: BusinessTime.Calendar = BusinessTime.Calendar()): Column =
    B.column(BusinessSeconds(B.expression(start), B.expression(end), calendar))

  /** Column-API form of the native one-pass `snake_case`. Needs no [[register]]. */
  def snakeCaseExpr(c: Column): Column = B.column(SnakeCase(B.expression(c)))

  /** Register the SQL functions and the optimizer rule on an
    * already-built session. Idempotent: a session that already resolves
    * `snake_case` (an earlier call, or the extensions conf) is left as it
    * is, so the rule is installed once.
    */
  def register(spark: SparkSession): Unit = {
    if (spark.sessionState.functionRegistry.functionExists(FunctionIdentifier("snake_case"))) return
    builders.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(FunctionIdentifier(name), info, builder)
    }
    // extraOptimizations is the runtime twin of injectOptimizerRule for
    // sessions built without the extensions conf
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ ThresholdLevenshteinRule
  }
}
