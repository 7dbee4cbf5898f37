package graft.operators

import graft.SparkSuite

/** BM25 vs a plain-Scala brute-force of the same definition. */
class RetrievalSpec extends SparkSuite {

  import spark.implicits._

  test("bm25TopK matches brute-force BM25 and ranks the source doc first") {
    val corpus = Seq(
      (0L, "apple banana cherry apple"),
      (1L, "apple apple apple apple apple"),
      (2L, "banana cherry durian elderberry fig grape"),
      (3L, "unrelated words entirely disjoint vocabulary here"),
      (4L, "cherry cherry banana apple durian"))
    val queries = Seq((100L, "apple banana"), (101L, "durian"))
    val got = Retrieval.bm25TopK(
      corpus.toDF("doc_id", "text"), queries.toDF("query_id", "text"), k = 3)
      .as[(Long, Long, Double, Int)].collect()
      .map { case (q, d, s, r) => (q, d) -> (s, r) }.toMap

    // brute force, same definition: +1-saturated idf, per-term
    // contributions floored to the 2^-40 fixed-point grid and summed
    val docToks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val n = corpus.size.toDouble
    val avgdl = docToks.values.map(_.size).sum.toDouble / n
    val scale = 1099511627776.0 // 2^40
    def bm25(qTerms: Seq[String], d: Long): Double = {
      val toks = docToks(d)
      val fp = qTerms.distinct.foldLeft(0L) { (acc, term) =>
        val tf = toks.count(_ == term).toDouble
        if (tf == 0) acc
        else {
          val df = docToks.values.count(_.contains(term)).toDouble
          val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
          acc + math.floor(idf * (tf * 2.2) /
            (tf + 1.2 * (1.0 - 0.75 + 0.75 * toks.size / avgdl)) * scale).toLong
        }
      }
      fp / scale
    }
    val brute = (for {
      (qid, qt) <- queries
      terms = qt.split(" ").toSeq
      d <- corpus.map(_._1) if terms.exists(docToks(d).contains)
    } yield (qid, d) -> bm25(terms, d)).toMap
    val expected = brute.groupBy(_._1._1).flatMap { case (_, m) =>
      m.toSeq.sortBy { case ((_, d), s) => (-s, d) }.zipWithIndex.take(3)
        .map { case (((q, d), s), i) => (q, d) -> (s, i + 1) }
    }
    assert(got.keySet === expected.keySet)
    for ((k, (s, r)) <- expected) {
      assert(got(k)._2 === r, s"rank mismatch at $k")
      assert(math.abs(got(k)._1 - s) < 1e-12, s"score mismatch at $k")
    }
    // doc 1 is pure apple-spam: highest tf but saturated; doc 0 carries
    // both query terms and must outrank it for query 100
    assert(got((100L, 0L))._2 === 1)
  }

  test("bm25 joins are all broadcast: the corpus is never sort-merge-joined") {
    val corpus = (0 until 50).map(i => (i.toLong, s"w$i common x${i % 5} y${i % 3}")).toDF("doc_id", "text")
    val queries = Seq((1000L, "common x0")).toDF("query_id", "text")
    val df = Retrieval.bm25TopK(corpus, queries, k = 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in bm25 plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus sort-merge-joined:\n$plan")
    // three reuse-point reads in the plan TREE: the (doc, term) posting
    // aggregate feeds the scoring join AND the df aggregate (2 reads),
    // the token projection feeds the length stats (1 read — its postings
    // consumer lives in the cut's materialization job, not the scoring
    // plan). Nobody rebuilds corpus lineage. `reuseReads` counts tree
    // nodes rather than string occurrences so the inline cached-plan
    // dumps of nested cuts don't inflate it.
    assert(reuseReads(df) == 3,
      s"expected 3 materialized-reuse reads in the scoring plan, got ${reuseReads(df)}:\n$plan")
  }

  test("bm25 under the default persist policy reads the cut, not fresh lineage") {
    val corpus = (0 until 50).map(i => (i.toLong, s"w$i common x${i % 5} y${i % 3}")).toDF("doc_id", "text")
    val queries = Seq((1000L, "common x0")).toDF("query_id", "text")
    val df = Retrieval.bm25TopK(corpus, queries, k = 5)
    val plan = df.queryExecution.executedPlan.toString
    // every reuse point surfaces as a cache read: the three cut reads of
    // the broadcast test (tree count — the string also shows the nested
    // cuts' cached plans), with no checkpoint RDD scans anywhere
    assert(reuseReads(df) == 3,
      s"expected 3 cache-read nodes under persist, got ${reuseReads(df)}:\n$plan")
    assert(!plan.contains("Scan ExistingRDD"),
      s"unexpected checkpoint read under persist policy:\n$plan")
  }

  test("tfidfTopTerms matches brute-force tf*ln(N/df) with term tie-break") {
    val corpus = Seq(
      (0L, "apple apple banana common"),
      (1L, "banana cherry common common"),
      (2L, "cherry cherry cherry common"),
      (3L, "durian apple common zz"))
    val got = Retrieval.tfidfTopTerms(corpus.toDF("doc_id", "text"), k = 2)
      .as[(Long, String, Long, Float, Int)].collect()
      .map { case (d, t, tf, s, r) => (d, r) -> (t, tf, s) }.toMap
    val docToks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val n = corpus.size.toDouble
    val scale = 1099511627776.0
    val brute = docToks.flatMap { case (d, toks) =>
      toks.distinct.map { term =>
        val df = docToks.values.count(_.contains(term)).toDouble
        val fp = math.floor(toks.count(_ == term) * math.log(n / df) * scale).toLong
        (d, term, toks.count(_ == term).toLong, fp)
      }
    }.groupBy(_._1).flatMap { case (d, ts) =>
      ts.toSeq.sortBy(t => (-t._4, t._2)).take(2).zipWithIndex.map { case ((_, term, tf, fp), i) =>
        (d, i + 1) -> (term, tf, (fp / scale).toFloat)
      }
    }
    assert(got == brute)
    // 'common' is in every doc: idf = ln(1) = 0, so it never outranks a
    // distinctive term — doc 2's top term must be cherry
    assert(got((2L, 1))._1 == "cherry")
  }

  test("tfidf vocabulary join carries no broadcast hint (only the 1-row stats frame is hinted)") {
    val corpus = (0 until 50).map(i => (i.toLong, s"w$i common x${i % 5} y${i % 3}")).toDF("doc_id", "text")
    val analyzed = Retrieval.tfidfTopTerms(corpus, k = 3)
      .queryExecution.analyzed.toString
    // exactly ONE broadcast hint: the 1-row n_docs stats frame. The
    // vocabulary-sized df table must be UNhinted so AQE can fall back to
    // a shuffle join when the vocabulary exceeds the broadcast threshold
    // (10^8+ terms on web-scale corpora) instead of OOMing the driver.
    val hints = "ResolvedHint".r.findAllIn(analyzed).size
    assert(hints == 1, s"expected exactly 1 broadcast hint (stats frame), got $hints:\n$analyzed")
  }

  test("tfidf minDf prunes rare terms before the join") {
    val corpus = Seq(
      (0L, "apple apple banana rareword"),
      (1L, "banana cherry common common"),
      (2L, "cherry cherry apple common"))
    // minDf=2 drops df=1 terms (rareword) from the keyword space entirely
    val got = Retrieval.tfidfTopTerms(corpus.toDF("doc_id", "text"), k = 5, minDf = 2L)
      .as[(Long, String, Long, Float, Int)].collect()
    assert(!got.exists(_._2 == "rareword"))
    // surviving terms keep their df-based scores: apple (df=2) still ranks
    assert(got.exists(r => r._1 == 0L && r._2 == "apple"))
  }

  test("bm25 tokenizes the corpus exactly once (materialized projection)") {
    val corpus = rddBacked(
      (0 until 50).map(i => (i.toLong, s"w$i common x${i % 5} y${i % 3}")).toDF("doc_id", "text"))
    val queries = Seq((1000L, "common x0")).toDF("query_id", "text")
    val df = Retrieval.bm25TopK(corpus, queries, k = 5)
    // the corpus-side regex split runs ONCE, materializing the token
    // cut — the scoring plan tree reads the cut (a leaf; its cached plan
    // is not part of the tree) and the only split left is the (tiny)
    // broadcast query side
    val splits = occurrences(planTree(df), "split\\(lower\\(trim\\(text")
    assert(splits == 1, s"expected exactly 1 split (query side) in the scoring plan, got $splits:\n" +
      df.queryExecution.executedPlan)
  }

  test("rrfFuse matches hand-computed reciprocal rank fusion, docs in one list only included") {
    import org.apache.spark.sql.functions.col
    // query 7: doc 10 is rank 1 sparse / rank 3 dense; doc 20 rank 2/1;
    // doc 30 sparse-only rank 3; doc 40 dense-only rank 2
    val sparse = Seq((7L, 10L, 1), (7L, 20L, 2), (7L, 30L, 3)).toDF("query_id", "doc_id", "rank")
    val dense = Seq((7L, 20L, 1), (7L, 40L, 2), (7L, 10L, 3)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(sparse, dense), k = 10)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    val scale = 1099511627776.0
    def rrf(ranks: Int*): Double =
      ranks.map(r => math.floor(scale / (60.0 + r)).toLong).sum / scale
    // doc 20: 1/62+1/61 > doc 10: 1/61+1/63 > doc 40: 1/62 > doc 30: 1/63
    assert(got.map(_._1).toSeq == Seq(20L, 10L, 40L, 30L))
    assert(got.map(_._3).toSeq == Seq(1, 2, 3, 4))
    assert(got.map(_._2).toSeq == Seq(rrf(2, 1), rrf(1, 3), rrf(2), rrf(3)))
  }

  test("rrfFuse ties on fused score break by doc id; top-k truncates") {
    // two docs each ranked 1 in exactly one list -> identical fused
    // scores; k=1 keeps only the lower id
    val a = Seq((1L, 100L, 1)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 50L, 1)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(a, b), k = 1)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.toSeq == Seq((50L, 1)))
  }

  test("hardNegatives excludes labeled positives and re-ranks the remainder densely") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "alpha beta gamma"),        // the positive (exact match)
      (2L, "alpha beta delta"),        // hard negative
      (3L, "alpha epsilon zeta"),      // hard negative
      (4L, "eta theta iota")           // no overlap
    ).toDF("doc_id", "text")
    val queries = Seq((1L, "alpha beta gamma")).toDF("query_id", "text")
    val positives = Seq((1L, 1L)).toDF("query_id", "doc_id")
    val got = Retrieval.hardNegatives(docs, queries, positives, nNeg = 5, kCandidates = 10)
      .orderBy(col("neg_rank"))
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(!got.map(_._1).contains(1L)) // positive never mined as a negative
    assert(got.map(_._2).toSeq == (1 to got.length).toSeq) // dense neg_rank
    assert(got.map(_._1).toSet == Set(2L, 3L)) // doc 4 never enters bm25 hits
  }

  test("rerankJaccard: exact-duplicate doc takes rank 1 with jaccard 1, scores are exact set ratios") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (10L, "alpha beta gamma"),            // exact dup of the query
      (11L, "alpha beta delta epsilon"),    // shared 2, union 5 -> 0.4
      (12L, "alpha zeta eta theta"),        // shared 1, union 6 -> 1/6
      (13L, "iota kappa lambda")            // no overlap -> dropped by bm25
    ).toDF("doc_id", "text")
    val queries = Seq((1L, "alpha beta gamma")).toDF("query_id", "text")
    val got = Retrieval.rerankJaccard(docs, queries, kCandidates = 10, k = 10)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getDouble(3), r.getInt(4)))
    assert(got.map(_._1).toSeq == Seq(10L, 11L, 12L))
    assert(got.map(_._2).toSeq == Seq(1.0, 2.0 / 5.0, 1.0 / 6.0))
    assert(got.map(_._3).toSeq == Seq(1, 2, 3))
  }

  test("rerankJaccard can promote a doc the first stage underranked, within the candidate set") {
    import org.apache.spark.sql.functions.col
    // doc 21 repeats the query terms (high bm25 tf) but is long and
    // diluted; doc 22 is a tight paraphrase-length match -> higher
    // jaccard despite a worse bm25 rank
    val docs = Seq(
      (21L, ("alpha beta " * 10 + "x1 x2 x3 x4 x5 x6 x7 x8").trim),
      (22L, "alpha beta gamma x9"),
      (23L, "y1 y2 y3")
    ).toDF("doc_id", "text")
    val queries = Seq((1L, "alpha beta gamma")).toDF("query_id", "text")
    val out = Retrieval.rerankJaccard(docs, queries, kCandidates = 10, k = 10)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getInt(4)))
    // (doc, bm25_rank, rerank): 22 must lead the reranked list
    assert(out.head._1 == 22L)
    assert(out.map(_._1).toSet == Set(21L, 22L))
  }

  test("mmrSelect: diversity beats raw relevance order (hand-computed rounds)") {
    // c1 and c2 are near-duplicates; c3 is dissimilar but less
    // relevant. MMR must pick c1, then c3 (c2's redundancy penalized),
    // then c2.
    val cands = Seq(
      (7L, 1L, 100L, Seq(10L, 0L)),
      (7L, 2L, 99L, Seq(9L, 1L)),
      (7L, 3L, 50L, Seq(0L, 7L))
    ).toDF("query_id", "cand_id", "rel_fp", "qv")
    val got = Retrieval.mmrSelect(cands, "query_id", "cand_id", "rel_fp", "qv", k = 3)
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2).toSeq
    // round 2: c2 scores 99 - sim(c2,c1)=99-90=9; c3 scores 50 - 0 = 50
    // round 3: c2 scores 99 - max(90, sim(c2,c3)=7) = 9
    assert(got == Seq((7L, 1, 1L, 100L), (7L, 2, 3L, 50L), (7L, 3, 2L, 9L)))
  }

  test("mmrSelect ties break to the lowest candidate id") {
    val cands = Seq(
      (1L, 5L, 10L, Seq(1L, 0L)), (1L, 4L, 10L, Seq(0L, 1L)),
      (1L, 9L, 3L, Seq(1L, 1L))
    ).toDF("query_id", "cand_id", "rel_fp", "qv")
    val got = Retrieval.mmrSelect(cands, "query_id", "cand_id", "rel_fp", "qv", k = 2)
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2).toSeq
    assert(got.head == ((1L, 1, 4L, 10L))) // rel tie 4 vs 5 -> lowest id
    assert(got(1) == ((1L, 2, 5L, 10L)))   // sim(5,4)=0, score 10 beats 9's
  }

  test("ndcgAtK: identical ranking scores 1.0; a swap at the top costs exactly the hand value") {
    def ranking(q: Long, order: Seq[Long]) =
      order.zipWithIndex.map { case (n, i) => (q, n, i + 1) }
    val exact = ranking(1L, 1L to 10L).toDF("query_id", "neighbor_id", "rank")
    val same = Retrieval.ndcgAtK(exact, exact, k = 10)
      .as[(Long, Long, Long, Double)].collect().head
    assert(same._2 == same._3 && same._4 == 1.0)
    // swap positions 1 and 10: gains g=(7,7,3,3,3,1,1,1,1,1); the
    // approx list has g(1)<->g(10), i.e. dcg = idcg - (7-1)*(d1-d10)
    val disc = Retrieval.ndcgDiscountsFp(10)
    val approx = ranking(1L, Seq(10L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 1L))
      .toDF("query_id", "neighbor_id", "rank")
    val out = Retrieval.ndcgAtK(approx, exact, k = 10)
      .as[(Long, Long, Long, Double)].collect().head
    assert(out._2 == out._3 - 6L * (disc(0) - disc(9)), s"dcg ${out._2}")
    assert(out._4 == out._2.toDouble / out._3.toDouble && out._4 < 1.0)
    // an approx list of all strangers scores 0
    val miss = ranking(1L, 101L to 110L).toDF("query_id", "neighbor_id", "rank")
    assert(Retrieval.ndcgAtK(miss, exact, k = 10)
      .as[(Long, Long, Long, Double)].collect().head._4 == 0.0)
  }

  test("supportFraction: hand-computed gram support against the pair table") {
    val docs = Seq(
      (1L, "a b c d"),        // query: grams "a b c", "b c d"
      (2L, "x a b c y"),      // ctx of 1: contains "a b c" only
      (3L, "q r s"),          // ctx of 1: no overlap
      (10L, "k l m n"),       // query 2: "k l m", "l m n"
      (11L, "k l m n o")      // ctx of 10: contains both
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (10L, 11L)).toDF("query_id", "ctx_id")
    val got = Retrieval.supportFraction(docs, pairs, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 1L, 0.5), (10L, 2L, 2L, 1.0)))
  }

  test("mrrAtK: hand-computed first-hit rank, rr, and recall") {
    def ranking(q: Long, order: Seq[Long]) =
      order.zipWithIndex.map { case (n, i) => (q, n, i + 1) }
    // q1: approx [a=101,b=1,c=2], exact [1,2,3] -> first hit rank 2,
    //     rr 0.5, hits 2/3; q2: no overlap -> null rank, rr 0, 0 hits
    val approx = (ranking(1L, Seq(101L, 1L, 2L)) ++ ranking(2L, Seq(201L, 202L, 203L)))
      .toDF("query_id", "neighbor_id", "rank")
    val exact = (ranking(1L, Seq(1L, 2L, 3L)) ++ ranking(2L, Seq(7L, 8L, 9L)))
      .toDF("query_id", "neighbor_id", "rank")
    val got = Retrieval.mrrAtK(approx, exact, k = 10)
      .as[(Long, Option[Int], Double, Int, Int)].collect().toSeq
    assert(got == Seq(
      (1L, Some(2), 0.5, 2, 66),
      (2L, None, 0.0, 0, 0)), got.toString)
  }
}
