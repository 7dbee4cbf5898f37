package graft.plans

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSuite
import graft.operators.TextAnalysis

/** [[NgramStats]]: hand-computed cases, edge inputs, and equality with a
  * driver-side multiset count of n-gram strings over the test corpus
  * (agreement across the corpus also rules out xxhash64 collisions in the
  * counts).
  */
class NgramStatsSpec extends SparkSuite {

  import spark.implicits._

  private def stats(text: String, n: Int): Row =
    evalOne(TextAnalysis.ngramStats(lit(text), n)).asInstanceOf[Row]

  test("hand-computed 2-gram and 3-gram stats") {
    // 2-grams of "a b a b a": [a b, b a, a b, b a] -> 4 total, top 2, all dup
    val g2 = stats("a b a b a", 2)
    assert(g2 === Row(4, 2, 4))
    // 3-grams: [a b a, b a b, a b a] -> 3 total, top 2, dup 2
    val g3 = stats("a b a b a", 3)
    assert(g3 === Row(3, 2, 2))
    // all-distinct grams: top 1, dup 0
    assert(stats("w x y z", 2) === Row(3, 1, 0))
    // identical tokens: one gram repeated
    assert(stats("q q q q", 2) === Row(3, 3, 3))
  }

  test("normalization matches the shingle kernels: trim + lower + \\s+ split") {
    assert(stats("  A  b\ta ", 2) === stats("a b a", 2))
  }

  test("short and degenerate docs yield null") {
    assert(stats("one", 2) === null)
    assert(stats("", 2) === null) // empty splits to one empty token
    assert(evalOne(TextAnalysis.ngramStats(lit(null).cast("string"), 2)) === null)
  }

  /** (n_ngrams, top_count, dup_occurrences) from the n-gram STRINGS of
    * `text`, normalized as Spark's `split(lower(trim(text)), "\\s+")`:
    * `trim` strips spaces only, and the split keeps empty tokens.
    */
  private def multisetStats(text: String, n: Int): Option[(Int, Int, Int)] =
    Option(text).flatMap { t =>
      val toks = t.replaceAll("^ +| +$", "").toLowerCase.split("\\s+", -1)
      val grams = toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).values.map(_.size)
      if (grams.isEmpty) None
      else Some((grams.size, counts.max, counts.filter(_ > 1).sum))
    }

  test("kernel equals a driver-side multiset count of n-grams across the corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (n <- Seq(2, 3)) {
      val rows = docs.select(col("text"), TextAnalysis.ngramStats(col("text"), n)).collect()
      assert(rows.nonEmpty)
      val got = rows.map(r => Option(r.getStruct(1)).map(s => (s.getInt(0), s.getInt(1), s.getInt(2))))
      val want = rows.map(r => multisetStats(r.getString(0), n))
      val diff = got.indices.filter(i => got(i) != want(i))
      assert(diff.isEmpty, s"n=$n: ${diff.size} mismatches, first ${diff.headOption.map(i => (got(i), want(i)))}")
      assert(want.exists(_.exists(_._3 > 0)), s"n=$n: no repeated gram anywhere in the corpus")
    }
  }

  test("ngram_stats is SQL-callable via GraftExtensions") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT ngram_stats('a b a b a', 2) AS s").select("s.*").collect()(0)
    assert(r === Row(4, 2, 4))
  }

  test("kernel equals a multiset-count reference on random docs (ScalaCheck)") {
    // random docs over a small vocab maximize repeated n-grams; the
    // reference counts n-gram STRINGS, so agreement also rules out hash
    // collisions across the generated corpus
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "fff", "g")
    val genDoc = Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
    val genN = Gen.choose(1, 4)
    val prop = Prop.forAll(genDoc, genN) { (toks, n) =>
      val text = toks.mkString(" ")
      val got = NgramStats.compute(UTF8String.fromString(text), n)
      multisetStats(text, n) match {
        case None => got == null
        case Some((total, top, dup)) =>
          got != null && got.getInt(0) == total && got.getInt(1) == top && got.getInt(2) == dup &&
            top <= total && dup <= total && ((dup == 0) == (top == 1))
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("repetitionMetrics fractions are consistent with the struct fields") {
    val df = TextAnalysis.repetitionMetrics(
      Seq((1L, "a b a b a"), (2L, "all tokens here are unique")).toDF("doc_id", "text"), "text")
    val r = df.orderBy("doc_id").collect()
    assert(r(0).getAs[Double]("top_2gram_frac") === 0.5)
    assert(r(0).getAs[Double]("dup_2gram_frac") === 1.0)
    assert(r(0).getAs[Double]("dup_token_frac") === 1.0 - 2.0 / 5.0)
    assert(r(1).getAs[Double]("dup_2gram_frac") === 0.0)
    assert(r(1).getAs[Double]("dup_token_frac") === 0.0)
  }
}
