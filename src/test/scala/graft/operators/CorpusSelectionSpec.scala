package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

class CorpusSelectionSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    // (id, stratum, score, tokens)
    (1L, "en", 0.9, 100), (2L, "en", 0.8, 100), (3L, "en", 0.7, 100),
    (4L, "en", 0.6, 100), (5L, "de", 0.5, 250), (6L, "de", 0.4, 100),
    (7L, "de", 0.3, 100)
  ).toDF("doc_id", "lang", "score", "n_sel_tokens")

  test("selectByTokenBudget keeps highest-score docs while the running sum fits") {
    val out = CorpusSelection
      .selectByTokenBudget(docs, "lang", col("score"), col("n_sel_tokens"), 300L, "doc_id")
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    // en: 1 (100), 2 (200), 3 (300); 4 would reach 400 — out
    // de: 5 (250); 6 would reach 350 — out, and so is 7 (450)
    assert(out == Map(1L -> 100L, 2L -> 200L, 3L -> 300L, 5L -> 250L))
  }

  test("selectByTokenBudget excludes a single over-budget doc and breaks score ties by id") {
    val tied = Seq((1L, "x", 1.0, 90), (2L, "x", 1.0, 90), (3L, "x", 1.0, 90),
      (9L, "y", 1.0, 999)).toDF("doc_id", "lang", "score", "n_sel_tokens")
    val out = CorpusSelection
      .selectByTokenBudget(tied, "lang", col("score"), col("n_sel_tokens"), 200L, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 2L)) // id order under tied scores; 999 > 200 alone
  }

  test("selectByTokenBudgetApprox equals the exact window on a random skewed corpus") {
    val rnd = new scala.util.Random(13)
    val corpus = (0 until 3000).map { i =>
      val lang = Seq("en", "de", "zh")(i % 3)
      // en is the skewed stratum: 10x the docs of the others
      (i.toLong, if (i % 30 < 10) "en" else lang, rnd.nextDouble(), 50 + rnd.nextInt(200))
    }.toDF("doc_id", "lang", "score", "n_sel_tokens")
    def collect(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    val exact = collect(CorpusSelection
      .selectByTokenBudget(corpus, "lang", col("score"), col("n_sel_tokens"), 3000L, "doc_id"))
    val approx = collect(CorpusSelection
      .selectByTokenBudgetApprox(corpus, "lang", col("score"), col("n_sel_tokens"), 3000L, "doc_id"))
    assert(approx == exact)
    assert(exact.nonEmpty)
    // tiny-budget and over-budget regimes too
    for (b <- Seq(10L, 100L, 100000000L)) {
      val e = collect(CorpusSelection
        .selectByTokenBudget(corpus, "lang", col("score"), col("n_sel_tokens"), b, "doc_id"))
      val a = collect(CorpusSelection
        .selectByTokenBudgetApprox(corpus, "lang", col("score"), col("n_sel_tokens"), b, "doc_id"))
      assert(a == e, s"budget $b")
    }
  }

  test("packSequences lays out a contiguous stream, flags straddlers, and restarts per shard") {
    val in = Seq(
      (1L, "x", 1000), (2L, "x", 1000), (3L, "x", 100), (4L, "x", 0), (5L, "x", 50),
      (6L, "y", 2048), (7L, "y", 1)).toDF("doc_id", "lang", "n_tok")
    val out = CorpusSelection
      .packSequences(in, col("n_tok"), 2048L, "doc_id", shardCol = Some("lang"))
      .select("doc_id", "start_offset", "seq_id", "end_seq_id")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == (0L, 0L, 0L))
    assert(out(2L) == (1000L, 0L, 0L)) // tokens 1000..1999 end before the 2048 cut
    assert(out(3L) == (2000L, 0L, 1L)) // tokens 2000..2099 straddle the cut
    assert(out(4L) == (2100L, 1L, 1L)) // empty doc: end == start
    assert(out(5L) == (2100L, 1L, 1L))
    // shard y restarts at offset 0; doc 6 exactly fills sequence 0
    assert(out(6L) == (0L, 0L, 0L))
    assert(out(7L) == (2048L, 1L, 1L))
  }

  test("stratifiedSample is deterministic, bounded per stratum, and a subset of the input") {
    val corpus = (0L until 200L).map(i => (i, if (i % 3 == 0) "a" else "b")).toDF("doc_id", "lang")
    val s1 = CorpusSelection.stratifiedSample(corpus, "lang", 10, "doc_id")
      .select("doc_id", "lang", "sample_rank").as[(Long, String, Int)].collect().sortBy(_._1)
    val s2 = CorpusSelection.stratifiedSample(corpus, "lang", 10, "doc_id")
      .select("doc_id", "lang", "sample_rank").as[(Long, String, Int)].collect().sortBy(_._1)
    assert(s1.toSeq == s2.toSeq)
    assert(s1.count(_._2 == "a") == 10 && s1.count(_._2 == "b") == 10)
    assert(s1.forall { case (id, lang, r) => (if (id % 3 == 0) "a" else "b") == lang && r >= 1 && r <= 10 })
    // the md5 scramble actually scrambles: the sample is not just the first ids
    assert(s1.filter(_._2 == "b").map(_._1).toSet != (0L until 200L).filter(_ % 3 != 0).take(10).toSet)
  }

  test("selectByMixture: per-stratum budgets from weights, unlisted strata excluded") {
    import org.apache.spark.sql.functions.col
    // every doc: 10 tokens, score descending with doc_id so low ids win
    val corpus = (0L until 30L).map(i =>
      (i, if (i < 10) "en" else if (i < 20) "ru" else "xx", 100.0 - i, 10L))
      .toDF("doc_id", "lang", "score", "toks")
    // weights 0.75/0.25 of 80 tokens -> en 60 (6 docs), ru 20 (2 docs)
    val got = CorpusSelection.selectByMixture(
      corpus, "lang", col("score"), col("toks"), 80L,
      Map("en" -> 0.75, "ru" -> 0.25), "doc_id")
      .select("doc_id", "lang", "cum_tokens").as[(Long, String, Long)].collect()
    assert(got.count(_._2 == "en") == 6 && got.count(_._2 == "ru") == 2)
    // highest-score (lowest-id) docs selected; xx (no weight) fully excluded
    assert(got.filter(_._2 == "en").map(_._1).sorted.toSeq == (0L to 5L))
    assert(got.filter(_._2 == "ru").map(_._1).sorted.toSeq == Seq(10L, 11L))
    assert(!got.exists(_._2 == "xx"))
    // cum_tokens audits the running sum inside each stratum
    assert(got.filter(_._2 == "ru").map(_._3).sorted.toSeq == Seq(10L, 20L))
  }

  test("assignSplit: total, deterministic, stable under corpus growth, ~fraction-sized") {
    val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val small = (0L until 2000L).toDF("doc_id")
    val a = CorpusSelection.assignSplit(small, "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // every row assigned; sizes track fractions
    assert(a.size == 2000)
    val train = a.values.count(_ == "train")
    assert(train > 1700 && train < 1890, s"train=$train")
    assert(a.values.count(_ == "val") + a.values.count(_ == "test") == 2000 - train)
    // growing the corpus never moves an existing row between splits
    val grown = CorpusSelection.assignSplit((0L until 4000L).toDF("doc_id"), "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a.forall { case (id, s) => grown(id) == s })
    // fractions must sum to 1
    intercept[IllegalArgumentException] {
      CorpusSelection.assignSplit(small, "doc_id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("weightedSample: edge weights, keep rate tracks the weight, deterministic") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val corpus = (0L until 3000L).map(i => (i, i % 3)).toDF("doc_id", "bucket")
    // weight 0 / 0.5 / 1 by bucket
    val weight = when(col("bucket") === 0, lit(0.0))
      .when(col("bucket") === 1, lit(0.5)).otherwise(lit(1.0))
    val kept = CorpusSelection.weightedSample(corpus, "doc_id", weight)
      .select("doc_id", "bucket", "sample_coin").as[(Long, Long, Double)].collect()
    assert(!kept.exists(_._2 == 0), "weight 0 must keep nothing")
    assert(kept.count(_._2 == 2) == 1000, "weight 1 must keep everything")
    val half = kept.count(_._2 == 1)
    assert(half > 400 && half < 600, s"weight 0.5 kept $half of 1000")
    assert(kept.forall(r => r._3 >= 0.0 && r._3 < 1.0))
    // same coin on every run (seedless md5)
    val again = CorpusSelection.weightedSample(corpus, "doc_id", weight)
      .select("doc_id").as[Long].collect()
    assert(kept.map(_._1).sorted.toSeq == again.sorted.toSeq)
  }

  test("mixtureWeights: weight = target/observed capped, absent stratum zeroed") {
    // en: 60 of 100 tokens, ru: 30, de: 10; targets en .5 / ru .25 / de .25
    val docs = Seq(
      ("en", 40L), ("en", 20L), ("ru", 30L), ("de", 10L)
    ).toDF("lang", "n_tok")
    val got = CorpusSelection.mixtureWeights(docs, "lang", col("n_tok"),
      Map("en" -> 0.5, "ru" -> 0.25, "de" -> 0.25), cap = 10.0)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.map(_._1).toSeq == Seq("de", "en", "ru"))
    val Seq(de, en, ru) = got.toSeq
    assert(en == (("en", 2, 60L, 0.6, 0.5, 0.5 / 0.6)))
    assert(ru == (("ru", 1, 30L, 0.3, 0.25, 0.25 / 0.3)))
    assert(de == (("de", 1, 10L, 0.1, 0.25, 0.25 / 0.1))) // up-sample, under cap
    // cap binds when the stratum is tiny relative to its target
    val capped = CorpusSelection.mixtureWeights(docs, "lang", col("n_tok"),
      Map("en" -> 0.5, "ru" -> 0.25, "de" -> 0.25), cap = 2.0)
      .where(col("lang") === "de").collect()(0).getDouble(5)
    assert(capped == 2.0)
    // absent stratum: zero target, zero weight, still reported
    val zeroed = CorpusSelection.mixtureWeights(docs, "lang", col("n_tok"),
      Map("en" -> 1.0), cap = 10.0)
      .where(col("lang") === "de").collect()(0)
    assert(zeroed.getDouble(4) == 0.0 && zeroed.getDouble(5) == 0.0)
  }

  test("temperatureWeights: alpha=1 is the identity, alpha<1 boosts the tail and damps the head") {
    val docs = Seq(("en", 900L), ("de", 90L), ("fr", 10L)).toDF("lang", "n_tok")
    val id = CorpusSelection.temperatureWeights(docs, "lang", col("n_tok"), alpha = 1.0)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    id.foreach { case (l, (raw, a, boost)) =>
      assert(math.abs(raw - a) < 1e-12 && math.abs(boost - 1.0) < 1e-12, s"alpha=1 must be identity for $l")
    }
    val flat = CorpusSelection.temperatureWeights(docs, "lang", col("n_tok"), alpha = 0.3)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(flat("en")._3 < 1.0, "head language must be down-sampled")
    assert(flat("fr")._3 > 1.0, "tail language must be up-sampled")
    // probabilities still sum to 1
    assert(math.abs(flat.values.map(_._2).sum - 1.0) < 1e-12)
    // flattening is monotone: order of shares is preserved, ratios shrink
    assert(flat("en")._2 > flat("de")._2 && flat("de")._2 > flat("fr")._2)
    assert(flat("en")._2 / flat("fr")._2 < id("en")._2 / id("fr")._2)
  }

  test("percentileGate admits per-stratum top scores at the exact discrete percentile") {
    // en: scores 1..8 -> p75 rank ceil(0.75*8)=6 -> threshold 6.0, keeps 6,7,8
    // de: scores 10,20 -> p75 rank ceil(1.5)=2 -> threshold 20.0, keeps 20
    val docs = ((1 to 8).map(i => ("en", i.toLong, i.toDouble)) ++
      Seq(("de", 101L, 10.0), ("de", 102L, 20.0))).toDF("lang", "doc_id", "s")
    val got = CorpusSelection.percentileGate(docs, "lang", col("s"), 7500)
      .select("lang", "doc_id", "threshold_score")
      .orderBy("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      ("de", 102L, 20.0),
      ("en", 6L, 6.0), ("en", 7L, 6.0), ("en", 8L, 6.0)))
  }

  test("splitLeakage keeps only cross-split pairs, pair columns ride through") {
    val pairs = Seq((1L, 2L, 1), (1L, 3L, 2), (2L, 3L, 3)).toDF("a", "b", "hamming")
    val assign = Seq((1L, "train"), (2L, "train"), (3L, "test")).toDF("doc_id", "split")
    val got = CorpusSelection.splitLeakage(pairs, assign)
      .select("a", "b", "split_a", "split_b", "hamming")
      .orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getInt(4)))
    assert(got.toSeq == Seq(
      (1L, 3L, "train", "test", 2),
      (2L, 3L, "train", "test", 3)))
  }

  test("assignShards is a pure function of the id and covers all shards") {
    val corpus = (0 until 2000).map(i => (i.toLong, 10 + i % 90)).toDF("doc_id", "n_chars")
    val a = CorpusSelection.assignShards(corpus, "doc_id", 16)
      .select("doc_id", "shard").as[(Long, Int)].collect().toMap
    // stable under repartitioning / re-run
    val b = CorpusSelection.assignShards(corpus.repartition(13), "doc_id", 16)
      .select("doc_id", "shard").as[(Long, Int)].collect().toMap
    assert(a == b)
    assert(a.values.toSet == (0 until 16).toSet)
    // growth stability: adding docs never moves existing ones
    val grown = CorpusSelection
      .assignShards((0 until 3000).map(i => (i.toLong, 1)).toDF("doc_id", "n_chars"), "doc_id", 16)
      .select("doc_id", "shard").as[(Long, Int)].collect().toMap
    assert(a.forall { case (id, sh) => grown(id) == sh })
  }

  test("shardBalance shares sum to 1 and skew stays near 1 on a uniform corpus") {
    val corpus = (0 until 5000).map(i => (i.toLong, 100)).toDF("doc_id", "n_chars")
    val rows = CorpusSelection.shardBalance(corpus, "doc_id", col("n_chars"), 8)
      .select("shard", "n_docs", "token_share", "skew")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length == 8)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-9)
    // md5 uniformity: no shard more than 25% off the ideal eighth
    rows.foreach { case (sh, _, _, skew) =>
      assert(skew > 0.75 && skew < 1.25, s"shard $sh skew $skew")
    }
  }

  test("quantileBlend: per-stratum percent_rank with ties, blend is the signal-quantile mean") {
    val in = Seq(
      // stratum x: scores 1,2,2,4 -> pr 0, 1/3, 1/3, 1; aux all distinct
      (1L, "x", 1.0, 10.0), (2L, "x", 2.0, 20.0), (3L, "x", 2.0, 30.0), (4L, "x", 4.0, 40.0),
      // stratum y: single row -> percent_rank 0
      (5L, "y", 9.0, 9.0)
    ).toDF("doc_id", "lang", "s1", "s2")
    val out = CorpusSelection.quantileBlend(in, "lang", "doc_id",
      Seq("s1" -> col("s1"), "s2" -> col("s2")))
      .select("doc_id", "pr_s1", "pr_s2", "blend")
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L)._1 == 0.0 && out(4L)._1 == 1.0)
    assert(out(2L)._1 == out(3L)._1 && math.abs(out(2L)._1 - 1.0 / 3) < 1e-15)
    assert(out(5L) == ((0.0, 0.0, 0.0)))
    out.values.foreach { case (a, b, bl) => assert(bl == (a + b) / 2.0) }
  }

  test("curriculumOrder: easiest-first per stratum, round-robin interleave, collision-free positions") {
    val in = Seq(
      (1L, "en", 5), (2L, "en", 3), (3L, "en", 9),
      (4L, "de", 2), (5L, "de", 7),
      (6L, "zh", 1)
    ).toDF("doc_id", "lang", "diff")
    val out = CorpusSelection.curriculumOrder(in, "lang", col("diff"), "doc_id")
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    // sidx: de=0, en=1, zh=2; within: en 2<1<3, de 4<5, zh 6
    assert(out == Map(4L -> 0L, 2L -> 1L, 6L -> 2L, 5L -> 3L, 1L -> 4L, 3L -> 7L))
    assert(out.values.toSeq.distinct.size == out.size) // no collisions
  }

  test("preferencePairs: top-vs-bottom, each doc at most once, middle unpaired, margin floor") {
    val in = Seq(
      // lang x, scores 0.9 .. 0.1 (5 docs -> pairs (1,5),(2,4); 3 unpaired)
      (1L, "x", 0.9), (2L, "x", 0.7), (3L, "x", 0.5), (4L, "x", 0.3), (5L, "x", 0.1),
      // lang y: two near-equal docs -> margin 0.01 < floor, dropped
      (6L, "y", 0.51), (7L, "y", 0.50)
    ).toDF("doc_id", "lang", "score")
    val got = CorpusSelection.preferencePairs(in, "lang", col("score"), "doc_id", minMargin = 0.05)
      .select("chosen_id", "rejected_id", "margin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.map(p => (p._1, p._2)).toSeq == Seq((1L, 5L), (2L, 4L)))
    assert(got.map(_._3).toSeq == Seq(0.9 - 0.1, 0.7 - 0.3))
    val used = got.flatMap(p => Seq(p._1, p._2))
    assert(used.distinct.length == used.length) // no doc reused
  }

  // ---- DSIR importance resampling ----

  // Two disjoint vocabularies: the target speaks "wiki" words, most of
  // the raw pool speaks "web" words, and two pool docs speak wiki.
  private def dsirCorpus = {
    val wiki = "alpha beta gamma delta epsilon zeta"
    val web = "click buy cheap deal offer spam"
    val raw = Seq(
      (1L, wiki), (2L, wiki + " eta"), // target-like
      (3L, web), (4L, web + " now"), (5L, web), (6L, web + " today")
    ).toDF("doc_id", "text")
    val target = Seq((100L, wiki), (101L, wiki + " theta")).toDF("doc_id", "text")
    (raw, target)
  }

  test("dsirScores weights target-vocabulary docs above pool-typical ones") {
    val (raw, target) = dsirCorpus
    val w = CorpusSelection.dsirScores(raw, target, "text", "doc_id")
      .select("doc_id", "n_feats", "weight")
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getFloat(2)))).toMap
    assert(w.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // unigrams + bigrams: 6 tokens -> 11 features
    assert(w(1L)._1 == 11)
    val wikiMin = math.min(w(1L)._2, w(2L)._2)
    val webMax = Seq(3L, 4L, 5L, 6L).map(w(_)._2).max
    assert(wikiMin > webMax,
      s"target-like docs must outrank pool-typical: $wikiMin vs $webMax")
    // doc 1 is pure target vocabulary -> positive mean log ratio; the
    // web docs' buckets are unseen in the target -> strongly negative
    // (doc 2 dips just below zero: its "eta" features pay the add-one
    // smoothing penalty — ranking, not sign, is the contract)
    assert(w(1L)._2 > 0f && webMax < 0f)
  }

  test("selectByDsir returns the top-k ranked with deterministic id tiebreak") {
    val (raw, target) = dsirCorpus
    val out = CorpusSelection.selectByDsir(raw, target, "text", "doc_id", k = 3)
      .select("rank", "doc_id", "weight")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getFloat(2)))
    assert(out.map(_._1).toSeq == Seq(1, 2, 3))
    assert(out.map(_._2).take(2).toSet == Set(1L, 2L)) // the wiki-vocab docs lead
    assert(out.sliding(2).forall { case Array(a, b) =>
      a._3 > b._3 || (a._3 == b._3 && a._2 < b._2) })
  }

  test("sampleByDsir: id-derived Gumbel noise makes the sample a pure function of the data") {
    val (raw, target) = dsirCorpus
    def run(df: org.apache.spark.sql.DataFrame) =
      CorpusSelection.sampleByDsir(df, target, "text", "doc_id", k = 3)
        .select("doc_id", "rank").as[(Long, Int)].collect().toSeq.sorted
    val a = run(raw)
    assert(a == run(raw.repartition(5))) // reproducible under partitioning
    assert(a.map(_._2).sorted == Seq(1, 2, 3))
    // the noise actually perturbs the hard ranking OR preserves it —
    // either way the noisy key must differ from the raw weight
    val g = CorpusSelection.sampleByDsir(raw, target, "text", "doc_id", k = 6)
      .select("weight", "gumbel").collect()
    assert(g.forall(r => r.getDouble(1) != 0.0))
  }

  test("dsir weights are partitioning-independent (integer fixed-point grid)") {
    val (raw, target) = dsirCorpus
    def run(df: org.apache.spark.sql.DataFrame) =
      CorpusSelection.dsirScores(df, target, "text", "doc_id")
        .select("doc_id", "weight").as[(Long, Float)].collect().toMap
    assert(run(raw) == run(raw.repartition(7)))
  }

  test("paddingAudit: hand-computed waste for both strategies, sorted never worse") {
    // lengths in id order: 10, 1, 10, 1 — batch 2
    // arrival: [10,1] pad 9, [10,1] pad 9 -> 18; sorted: [10,10] 0, [1,1] 0
    val docs = Seq((1L, 10L), (2L, 1L), (3L, 10L), (4L, 1L)).toDF("doc_id", "len")
    val out = CorpusSelection.paddingAudit(docs, "doc_id", col("len"), batchSize = 2)
      .as[(String, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      ("arrival", 2L, 22L, 18L, 18.0 / 40.0),
      ("sorted", 2L, 22L, 0L, 0.0)))
  }

  test("paddingAudit: ragged final batch pads to its own max only") {
    val docs = Seq((1L, 4L), (2L, 4L), (3L, 2L)).toDF("doc_id", "len")
    val out = CorpusSelection.paddingAudit(docs, "doc_id", col("len"), batchSize = 2)
      .as[(String, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // arrival: [4,4] waste 0, [2] waste 0; sorted: [4,4] 0, [2] 0
    assert(out.forall(r => r._2 == 2L && r._3 == 10L && r._4 == 0L && r._5 == 0.0))
  }

  test("winsorize clamps to the exact discrete percentile band per group") {
    // group a: values 1..10 — p20 = value at rank ceil(10*0.2)=2 -> 2,
    // p80 = rank 8 -> 8; group b: single value, band collapses to it
    val docs = ((1 to 10).map(i => (i.toLong, "a", i.toLong)) :+ (99L, "b", 7L))
      .toDF("id", "g", "v")
    val out = CorpusSelection.winsorize(docs, "g", "v", pLo = 0.2, pHi = 0.8)
      .select("id", "p_lo", "p_hi", "winsorized", "is_clamped")
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    for ((id, lo, hi, w, c) <- out.take(10)) {
      assert((lo, hi) == ((2L, 8L)))
      assert(w == math.min(math.max(id, 2L), 8L))
      assert(c == (id < 2L || id > 8L))
    }
    assert(out.last == ((99L, 7L, 7L, 7L, false)))
  }

  test("epochMixture: hand-computed repeat factors, cap and sub-1 arms") {
    import org.apache.spark.sql.functions.col
    // tokens: a = 200, b = 800, total = 1000; budget 200% = 2000;
    // weights 50/50 -> target 1000 each
    val docs = Seq(("a", 100L), ("a", 100L), ("b", 800L)).toDF("src", "toks")
    val out = CorpusSelection.epochMixture(docs, "src", col("toks"),
      Map("a" -> 50, "b" -> 50), budgetPct = 200, capQ10 = 4096L)
      .orderBy(col("stratum"))
      .as[(String, Long, Long, Long, Long, Int, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      // a: uncapped repeat 1000·1024/200 = 5120 -> capped at 4096 (4 epochs),
      //    planned 200·4096/1024 = 800
      ("a", 200L, 50L, 1000L, 4096L, 4, 800L, true),
      // b: repeat 1000·1024/800 = 1280 (2 passes), planned 800·1280/1024 = 1000
      ("b", 800L, 50L, 1000L, 1280L, 2, 1000L, false)))
    // a stratum missing from the weight map gets weight 0 -> repeat 0
    val out2 = CorpusSelection.epochMixture(
      Seq(("a", 100L), ("c", 100L)).toDF("src", "toks"), "src", col("toks"),
      Map("a" -> 100), budgetPct = 100, capQ10 = 4096L)
      .orderBy(col("stratum"))
      .as[(String, Long, Long, Long, Long, Int, Long, Boolean)].collect().toSeq
    assert(out2.last == (("c", 100L, 0L, 0L, 0L, 0, 0L, false)))
  }

  test("skyline equals the quadratic dominance definition on random distinct points") {
    val rnd = new scala.util.Random(23)
    for (seed <- 1 to 3) {
      val pts = Seq.fill(120 + seed)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong)).distinct
      val expected = pts.filterNot { case (x, y) =>
        pts.exists { case (bx, by) => bx >= x && by >= y && (bx > x || by > y) }
      }.toSet
      val got = CorpusSelection.skyline(pts.toDF("x", "y"), "x", "y")
        .as[(Long, Long)].collect().toSet
      assert(got == expected, s"seed=$seed")
    }
  }

  test("skyline keeps a single point, and a strictly-increasing chain keeps only its top") {
    val one = CorpusSelection.skyline(Seq((5L, 5L)).toDF("x", "y"), "x", "y")
      .as[(Long, Long)].collect().toSeq
    assert(one == Seq((5L, 5L)))
    // chain where each point dominates the previous: only the last survives
    val chain = (1L to 6L).map(i => (i, i))
    val out = CorpusSelection.skyline(chain.toDF("x", "y"), "x", "y")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((6L, 6L)))
    // anti-chain (x up, y down): every point survives
    val anti = (1L to 6L).map(i => (i, 7L - i))
    val kept = CorpusSelection.skyline(anti.toDF("x", "y"), "x", "y")
      .as[(Long, Long)].collect().toSet
    assert(kept == anti.toSet)
  }

  test("facilitySelect matches brute-force greedy; marginal gains non-increasing") {
    val rnd = new scala.util.Random(7)
    val pts = (0L until 50L).map(id => (id, Array.fill(4)(rnd.nextFloat() * 2f - 1f)))
    val grid = pts.map { case (id, v) => id -> v.map(x => math.floor(x.toDouble * (1L << 20)).toLong) }.toMap
    val poolIds = pts.map(_._1).filter(_ % 7 == 0)
    def simP(p: Long, c: Long): Long =
      math.max(grid(p).zip(grid(c)).map { case (a, b) => a * b }.sum, 0L)
    // reference greedy
    var cov = grid.keys.map(_ -> 0L).toMap
    var rem = poolIds.toVector
    val want = (1 to 4).map { r =>
      val gains = rem.map(c => c -> grid.keys.map(p => math.max(simP(p, c) - cov(p), 0L)).sum)
      val (best, g) = gains.minBy { case (c, gg) => (-gg, c) }
      cov = cov.map { case (p, v) => p -> math.max(v, simP(p, best)) }
      rem = rem.filterNot(_ == best)
      (r, best, g)
    }
    val df = pts.toDF("vec_id", "embedding")
    val got = CorpusSelection.facilitySelect(
      df, df.where(col("vec_id") % 7 === 0), "embedding", "vec_id", k = 4)
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == want)
    assert(got.map(_._3) == got.map(_._3).sorted.reverse, "submodularity violated")
  }

  test("kCenterSelect matches a brute-force greedy farthest-point traversal") {
    val rnd = new scala.util.Random(97)
    val vecs = (0L until 60L).map(id => (id, Array.fill(4)(rnd.nextFloat() * 2f - 1f)))
    val df = vecs.toDF("vec_id", "embedding")
    // independent reference: same grid, same tie rules
    val grid = vecs.map { case (id, v) => id -> v.map(x => math.floor(x.toDouble * (1L << 20)).toLong) }.toMap
    def d2(a: Seq[Long], b: Seq[Long]): Long = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var center = grid(0L)
    var md = grid.map { case (id, v) => id -> d2(v, center) }
    val want = scala.collection.mutable.ArrayBuffer((0, 0L, 0L))
    for (r <- 1 until 6) {
      val (cid, rad) = md.toSeq.minBy { case (id, d) => (-d, id) }
      want += ((r, cid, rad))
      center = grid(cid)
      md = md.map { case (id, d) => id -> math.min(d, d2(grid(id), center)) }
    }
    val got = CorpusSelection.kCenterSelect(df, "embedding", "vec_id", k = 6)
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == want.toSeq)
  }

  test("quantileNormalize maps shifted group distributions onto the shared target") {
    // group hot: scores 100,200,300,400; group cold: 10,20,30,40 —
    // with 4 buckets of one row each the bucket means ARE the scores
    // and each bucket's target is the cross-group mean
    val rows = Seq(("hot", 1L, 100L), ("hot", 2L, 200L), ("hot", 3L, 300L), ("hot", 4L, 400L),
      ("cold", 5L, 10L), ("cold", 6L, 20L), ("cold", 7L, 30L), ("cold", 8L, 40L))
    val df = rows.toDF("source", "doc_id", "score")
    val out = CorpusSelection.quantileNormalize(df, "source", "doc_id",
        org.apache.spark.sql.functions.col("score"), buckets = 4)
      .as[(String, Int, Long, Double, Double)].collect()
    assert(out.length == 8)
    val byKey = out.map(r => (r._1, r._2) -> r).toMap
    // bucket 1: (100 + 10) / 2 = 55, identical target for both groups
    assert(byKey(("hot", 1))._4 == 100.0 && byKey(("hot", 1))._5 == 55.0)
    assert(byKey(("cold", 1))._4 == 10.0 && byKey(("cold", 1))._5 == 55.0)
    assert(byKey(("hot", 4))._5 == 220.0 && byKey(("cold", 4))._5 == 220.0)
    // after normalization the two groups' targets agree bucket-by-bucket
    (1 to 4).foreach(b => assert(byKey(("hot", b))._5 == byKey(("cold", b))._5))
  }

  test("gateOverlap: hand-computed pair counts and jaccard") {
    // flags: a=[T,T,F,F], b=[T,F,T,F], c=[T,T,T,T]
    val flags = Seq((true, true, true), (true, false, true),
      (false, true, true), (false, false, true)).toDF("a", "b", "c")
    val got = CorpusSelection.gateOverlap(flags, Seq("a", "b", "c"))
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("a", "b", 1L, 1L, 1L, 1.0 / 3),
      ("a", "c", 2L, 0L, 2L, 0.5),
      ("b", "c", 2L, 0L, 2L, 0.5)))
  }

  test("gateShift: kept-set mean shift per gate, empty gate -> null") {
    val flags = Seq((true, false, 10L), (true, false, 30L), (false, false, 2L))
      .toDF("keepers", "nobody", "sc")
    val got = CorpusSelection.gateShift(flags, Seq("keepers", "nobody"), "sc")
      .as[(String, Long, Long, Double, Option[Double], Option[Double])]
      .collect().toSeq
    assert(got(0) == (("keepers", 3L, 2L, 14.0, Some(20.0), Some(6.0))))
    assert(got(1) == (("nobody", 3L, 0L, 14.0, None, None)))
  }

  test("looSourceAblation: removal deltas from one aggregate; single source -> null") {
    val d = Seq(("w", 10L), ("w", 20L), ("c", 70L)).toDF("source", "sc")
    val got = CorpusSelection.looSourceAblation(d, "source", "sc")
      .as[(String, Long, Double, Option[Double], Option[Double])].collect().toSeq
    // mean_all = 100/3; without c = 15, without w = 70
    assert(got(0)._1 == "c" && got(0)._4 == Some(15.0))
    assert(got(1)._1 == "w" && got(1)._4 == Some(70.0))
    assert(math.abs(got(0)._5.get - (15.0 - 100.0 / 3)) < 1e-12)
    val single = CorpusSelection.looSourceAblation(
      Seq(("only", 5L)).toDF("source", "sc"), "source", "sc")
      .as[(String, Long, Double, Option[Double], Option[Double])].collect().toSeq
    assert(single.head._4.isEmpty && single.head._5.isEmpty)
  }

  test("packBestFit matches the hand-worked best-fit-decreasing placement") {
    // cap 10, lens (9,7,5,4,3): sorted desc 9,7,5,4,3 →
    //  9→bin1(9); 7→bin2(7); 5→bin3(5); 4→bin3 is the FULLEST that
    //  fits (5+4=9; bin1 would overflow, bin2 ties at... 7+4=11 no) →
    //  bin3(9); 3→only bin2 fits (7+3=10) → bin2(10)
    val d = Seq((1L, 9L), (2L, 7L), (3L, 5L), (4L, 4L), (5L, 3L))
      .toDF("doc_id", "len").withColumn("shard", lit("s"))
    val got = CorpusSelection.packBestFit(d, "doc_id", col("len"), 10L, "shard")
      .select(col("doc_id"), col("bin"))
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 1, 2L -> 2, 3L -> 3, 4L -> 3, 5L -> 2), got.toString)
  }

  test("packBestFit: oversized docs get their own overfull bin; shards pack independently") {
    val d = Seq(("a", 1L, 15L), ("a", 2L, 6L), ("b", 3L, 6L), ("b", 4L, 15L))
      .toDF("shard", "doc_id", "len")
    val got = CorpusSelection.packBestFit(d, "doc_id", col("len"), 10L, "shard")
      .as[(String, Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    // per shard: the 15-token doc (sorted first) opens bin 1 overfull;
    // the 6-token doc cannot join it → bin 2
    assert(got == Map(("a", 1L) -> 1, ("a", 2L) -> 2,
      ("b", 4L) -> 1, ("b", 3L) -> 2), got.toString)
  }

  test("BestFitPack kernel is bit-identical to the composed HOF fold (incl. null lens)") {
    val rnd = new scala.util.Random(7)
    val d = (1L to 400L).map(i =>
      (i % 7, i, if (i % 97 == 0) None else Some(rnd.nextInt(300).toLong + 1)))
      .toDF("shard", "id", "len")
    val arrs = d.groupBy(col("shard"))
      .agg(sort_array(collect_list(struct(
        (-coalesce(col("len"), lit(0L))).as("k1"),
        col("id").as("id"), col("len").as("len")))).as("_docs"))
      .persist()
    def run(st: org.apache.spark.sql.Column) = arrs
      .select(col("shard"), st.as("st"))
      .select(col("shard"), col("st.loads").as("loads"), col("st.bins").as("bins"))
      .as[(Long, Seq[Option[Long]], Seq[Int])].collect().sortBy(_._1).toSeq
    val kernel = run(CorpusSelection.bestFitState(col("_docs"), 50L))
    val hof = run(ReferenceForms.bestFitStateHof(col("_docs"), 50L))
    assert(kernel == hof)
    // and the null edge actually exercised: at least one null load slot
    assert(kernel.exists(_._2.exists(_.isEmpty)))
    arrs.unpersist()
  }

  test("packWaste: best-fit-decreasing never wastes more than arrival order") {
    // adversarial arrival order: big/small interleaved
    val d = (1L to 12L).map(i => (i, if (i % 2 == 1) 9L else 2L))
      .toDF("doc_id", "len").withColumn("shard", pmod(col("doc_id"), lit(2)).cast("string"))
    val got = CorpusSelection.packWaste(d, "doc_id", col("len"), 10L, "shard")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (arr, bfd) = (got("arrival"), got("bestfit"))
    assert(arr._3 == bfd._3, "total tokens must match across strategies")
    assert(bfd._4 <= arr._4, s"BFD waste ${bfd._4} must be <= arrival ${arr._4}")
    assert(bfd._2 <= arr._2, s"BFD bins ${bfd._2} must be <= arrival ${arr._2}")
    // fill_frac is the single division of the exact integers
    assert(bfd._5 == bfd._3.toDouble / (bfd._2 * 10L).toDouble)
  }
}
