package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Hashed-n-gram linear classifier inference: feature extraction,
  * integer-grid determinism, and the broadcast-join plan shape.
  */
class QualityClassifierSpec extends SparkSuite {
  import spark.implicits._

  test("n_feats = 2n-1 (unigrams + bigrams), single-token docs have no bigrams") {
    val df = Seq((1L, "a b c d"), (2L, "solo")).toDF("doc_id", "text")
    val got = QualityClassifier.scoreHashModel(df, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(got(0).getAs[Int]("n_feats") == 7)
    assert(got(1).getAs[Int]("n_feats") == 1)
  }

  test("FeatureBuckets kernel is bit-identical to md24(features) % buckets") {
    val rnd = new scala.util.Random(7)
    val words = Vector("the", "Quick", "BROWN", "fox", "héllo", "мир", "日本",
      "a", "", "x1", "42")
    val docs = ((1L to 120L).map { i =>
      (i, Seq.fill(rnd.nextInt(12))(words(rnd.nextInt(words.length)))
        .mkString(" "))
    } ++ Seq(
      (200L, ""), (201L, "   "), (202L, "solo"), (203L, " lead"),
      (204L, "trail "), (205L, "\ttab\tsep"), (206L, "a  b   c"),
      (207L, "ünïcode ÄÖÜ ß"), (208L, "a\nb\rc"))).toDF("id", "text")
    for (buckets <- Seq(7, 64, 4096)) {
      val kernel = docs.select(col("id"),
        QualityClassifier.featureBuckets(col("text"), buckets).as("bs"))
        .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
      val composed = docs.select(col("id"),
        transform(QualityClassifier.features(col("text")),
          f => (ReferenceForms.md24Hof(f) % buckets).cast("int")).as("bs"))
        .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
      assert(kernel == composed, s"buckets=$buckets")
    }
  }

  test("Md5Prefix kernel is bit-identical to conv(substring(md5, 1, k), 16, 10)") {
    val rnd = new scala.util.Random(23)
    val strs = (1 to 150).map(_ => rnd.alphanumeric.take(rnd.nextInt(40)).mkString) ++
      Seq("", " ", "héllo wörld", "мир труд май", "日本語テキスト", "a\tb\nc",
        "ab:12345", "hll:999", "w:4095")
    val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    for (k <- Seq(1, 6, 12, 14, 15)) {
      val kernel = df.select(col("id"),
        graft.plans.Md5Prefix.of(col("s"), k).as("v"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      val composed = df.select(col("id"),
        conv(substring(md5(col("s")), 1, k), 16, 10).cast("long").as("v"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(kernel == composed, s"k=$k")
    }
  }

  test("FeatureDot kernel is bit-identical to the composed HOF scorer") {
    val rnd = new scala.util.Random(13)
    val buckets = 64
    val w = Array.fill(buckets + 1)(rnd.nextLong() % 1000000L)
    val docs = (1L to 200L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(30))(
        (rnd.nextInt(buckets + 1), rnd.nextInt(5).toLong + 1)))
    }.toDF("id", "fs")
      .select(col("id"), expr("transform(fs, f -> struct(f._1 as bucket, f._2 as cnt))").as("fs"))
    val kernel = docs.select(col("id"), QualityClassifier.scoreAgainst(w).as("s"))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val hof = docs.select(col("id"), ReferenceForms.scoreAgainstHof(w).as("s"))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(kernel == hof)
  }

  test("score matches a driver-side recomputation of the hash model") {
    // recompute md5-derived buckets/weights in plain Scala (a fully
    // independent path from the Column expressions)
    def md24(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(3).map(b => f"$b%02x").mkString, 16)
    }
    val text = "the quick brown fox the quick"
    val toks = text.split("\\s+").map(_.toLowerCase).toSeq
    val feats = toks ++ toks.sliding(2).map(_.mkString(" "))
    val expectedFp = feats.map(f => md24("w:" + (md24(f) % 4096)) - (1L << 23)).sum
    val expected = expectedFp.toDouble / (feats.size.toDouble * (1L << 23))

    val r = QualityClassifier.scoreHashModel(
      Seq((1L, text)).toDF("doc_id", "text"), "text", "doc_id").collect()(0)
    assert(r.getAs[Int]("n_feats") == feats.size)
    assert(r.getAs[Double]("score") == expected)
    assert(r.getAs[Boolean]("label") == (expectedFp > 0))
  }

  test("score is bit-identical under repartitioning (int64 sums)") {
    val rnd = new scala.util.Random(5)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val df = (0 until 50).map(i =>
      (i.toLong, Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      QualityClassifier.scoreHashModel(d, "text", "doc_id")
        .orderBy("doc_id").as[(Long, Int, Double, Boolean)].collect().toSeq
    assert(run(df.repartition(1)) == run(df.repartition(9)))
  }

  test("the weights join broadcasts (model inference never shuffles the corpus)") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = QualityClassifier.scoreHashModel(df, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("trainPerceptron drives a separable concept to zero training error") {
    // disjoint vocabularies: one feature bucket fires only for positives,
    // another only for negatives — linearly separable, so the batch
    // perceptron must converge and then hold (empty update set)
    val df = ((0 until 20).map(i => (i.toLong, "good fine nice", 1L)) ++
      (20 until 40).map(i => (i.toLong, "bad awful poor", -1L)))
      .toDF("doc_id", "text", "y")
    val trace = QualityClassifier.trainPerceptron(df, "text", "doc_id", "y",
      buckets = 64, iters = 6)
      .orderBy("iter").as[(Int, Int, Long)].collect().toSeq
    assert(trace.head == ((1, 40, trace.head._3)), s"epoch 1 scores the zero model: $trace")
    assert(trace.last._2 == 0, s"should converge on separable data: $trace")
    // once converged the update set is empty, so the weights freeze
    val settled = trace.dropWhile(_._2 != 0)
    assert(settled.map(_._3).distinct.size == 1, s"weights must freeze after convergence: $trace")
  }

  test("evalPerceptron: separable concept generalizes to the held-out split") {
    // vocabulary-disjoint classes: the train-side model must score the
    // eval side perfectly too (the eval docs reuse the same buckets)
    val df = ((0 until 50).map(i => (i.toLong, "good fine nice", 1L)) ++
      (50 until 100).map(i => (i.toLong, "bad awful poor", -1L)))
      .toDF("doc_id", "text", "y")
    // biasCnt = 1: these 5-feature docs would be nearly collinear under
    // the corpus-sized default (bias mass 100 vs 5 discriminative
    // features), and the hash-coin split unbalances the classes so the
    // bias drift no longer cancels — the intercept scale must match the
    // document feature mass (see the hashedFeatures Scaladoc)
    val got = QualityClassifier.evalPerceptron(df, "text", "doc_id", "y",
      buckets = 64, iters = 8, biasCnt = 1)
      .orderBy("split").as[(String, Int, Int)].collect().toSeq
    assert(got.map(_._1) == Seq("eval", "train"))
    assert(got.map(_._2).sum == 100, s"every doc lands in exactly one split: $got")
    assert(got.forall(_._2 > 0), s"both splits populated: $got")
    assert(got.forall(_._3 == 0), s"separable concept → zero error on both splits: $got")
  }

  test("dataMap: separable concept -> easy positives, hard label error, buckets partition") {
    // one deliberately mislabeled doc ("good..." labeled -1): its margin
    // under the converged model is NEGATIVE every epoch -> 'hard' unless
    // its trajectory lands in the top variability tertile
    val df = ((0 until 20).map(i => (i.toLong, "good fine nice", 1L)) ++
      (20 until 40).map(i => (i.toLong, "bad awful poor", -1L)) ++
      Seq((99L, "good fine nice", -1L)))
      .toDF("doc_id", "text", "y")
    val got = QualityClassifier.dataMap(df, "text", "doc_id", "y",
      buckets = 64, iters = 8)
      .as[(Long, Double, Long, String)].collect().toSeq
    assert(got.size == 41)
    assert(got.forall(r => Set("easy", "ambiguous", "hard")(r._4)))
    val byId = got.map(r => r._1 -> r).toMap
    // the mislabeled doc can never be 'easy': its mean margin is negative
    assert(byId(99L)._2 < 0 && byId(99L)._4 != "easy", byId(99L).toString)
    // correctly-labeled docs with positive mean margin are easy/ambiguous
    assert(got.count(_._4 == "ambiguous") > 0)
    // deterministic under repartitioning
    val again = QualityClassifier.dataMap(df.repartition(7), "text", "doc_id", "y",
      buckets = 64, iters = 8)
      .as[(Long, Double, Long, String)].collect().toSeq
    assert(got.sortBy(_._1) == again.sortBy(_._1))
  }

  test("trainPerceptron trace is bit-identical under repartitioning") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val df = (0 until 60).map { i =>
      val n = 3 + rnd.nextInt(12)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "),
        if (n >= 9) 1L else -1L)
    }.toDF("doc_id", "text", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      QualityClassifier.trainPerceptron(d, "text", "doc_id", "y",
        buckets = 64, iters = 5)
        .orderBy("iter").as[(Int, Int, Long)].collect().toSeq
    assert(run(df.repartition(1)) == run(df.repartition(7)))
  }
}
