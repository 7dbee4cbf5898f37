package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Unigram-LM tokenizer training: Viterbi lattice semantics (pinned by
  * hand against tiny cost tables), hard-EM fit invariants, and
  * determinism under repartitioning.
  */
class UnigramLmSpec extends SparkSuite {
  import spark.implicits._

  private def segOf(words: Seq[(String, Long)],
                    costs: Seq[(String, Long)]): Map[String, (String, Int)] =
    UnigramLm.viterbiSeg(
      words.toDF("word", "wcnt"), costs.toDF("piece", "cfp"), pieceLen = 4)
      .select(col("word"), col("seg"), size(split(col("seg"), " ")).as("n_pieces"))
      .as[(String, String, Int)].collect()
      .map { case (w, s, n) => w -> (s, n) }.toMap

  test("viterbi picks the cheaper path (hand-computed lattice)") {
    // "ab": piece path 15 beats char path 10+10
    val got = segOf(Seq(("ab", 1L)), Seq(("a", 10L), ("b", 10L), ("ab", 15L)))
    assert(got("ab") == (("ab", 1)))
    // raise the piece cost above the char path: chars win
    val got2 = segOf(Seq(("ab", 1L)), Seq(("a", 10L), ("b", 10L), ("ab", 21L)))
    assert(got2("ab") == (("a b", 2)))
  }

  test("viterbi exact-cost tie breaks to the LONGEST piece") {
    val got = segOf(Seq(("ab", 1L)), Seq(("a", 10L), ("b", 10L), ("ab", 20L)))
    assert(got("ab") == (("ab", 1)))
    // and the tie-break applies per backward step: "abc" with ab+c == a+b+c
    val got2 = segOf(Seq(("abc", 1L)),
      Seq(("a", 10L), ("b", 10L), ("c", 10L), ("ab", 20L)))
    assert(got2("abc") == (("ab c", 2)))
  }

  test("ViterbiSeg kernel is bit-identical to the composed HOF folds (incl. unreachable + unicode)") {
    val rnd = new scala.util.Random(11)
    val alphabet = "abcdefxyz"
    val words = ((1 to 300).map { i =>
      (Seq.fill(1 + rnd.nextInt(14))(alphabet(rnd.nextInt(alphabet.length))).mkString,
        (i % 7 + 1).toLong)
    } ++ Seq(("ñé", 2L), ("éñab", 3L), ("", 1L)))
      .distinct.toDF("word", "wcnt")
    // no 'z' in the vocab: words containing z are unreachable → null seg
    val costs = ("abcdefxy".map(c => (c.toString, 10L + c % 7)) ++
      Seq(("ab", 15L), ("ba", 13L), ("abc", 30L), ("xy", 9L), ("fe", 21L),
        ("ñ", 9L), ("é", 8L), ("ñé", 12L))).toDF("piece", "cfp")
    def run(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame) =
      f(words.toDF(), costs.toDF(), 4).orderBy(col("word"), col("wcnt"))
        .as[(String, Long, String)].collect().toSeq
    val kernel = run(UnigramLm.viterbiSeg)
    val hof = run(ReferenceForms.viterbiSegHof)
    assert(kernel == hof)
    assert(kernel.nonEmpty && kernel.size < words.count(),
      "some words must drop as unreachable for the edge to be exercised")
  }

  test("segmentations concatenate back to the word (coverage invariant)") {
    val docs = Seq(
      "banana bandana cabana", "banana banana ana", "cab nab ban cabana")
      .toDF("text")
    val seg = UnigramLm.train(docs, "text")
    // every emitted piece is non-empty and usage is non-negative
    val rows = seg.as[(String, Int, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (p, l, u) => p.nonEmpty && l == p.length && u >= 0 })
    // single chars of the corpus are always retained
    val pieces = rows.map(_._1).toSet
    assert(Set("a", "b", "c", "d", "n").subsetOf(pieces), pieces)
  }

  test("a dominating substring becomes a high-usage piece") {
    val docs = Seq.fill(20)("banana banana").toDF("text")
    val rows = UnigramLm.train(docs, "text")
      .as[(String, Int, Long)].collect()
    val multi = rows.filter(_._2 > 1).sortBy(-_._3)
    assert(multi.nonEmpty, rows.mkString(","))
    // the top multi-char piece must be a substring of "banana" used by
    // the Viterbi segmentation (coverage of 40 word occurrences)
    assert("banana".contains(multi.head._1), multi.head.toString)
    assert(multi.head._3 > 0)
  }

  test("tokenizeCounts: subword count is at most the char count and at least the word count") {
    val docs = Seq((1L, "banana cabana"), (2L, "ban")).toDF("doc_id", "text")
    val got = UnigramLm.tokenizeCounts(docs, "text", "doc_id")
      .orderBy("doc_id").as[(Long, Int, Int)].collect().toSeq
    assert(got.map(_._2) == Seq(2, 1)) // whitespace tokens
    assert(got.forall { case (_, nw, ns) => ns >= nw })
    assert(got(0)._3 <= 12 && got(1)._3 <= 3)
  }

  test("artifact round-trip through parquet reproduces the fused encode bit-for-bit") {
    val docs = Seq((1L, "banana bandana cabana"), (2L, "banana banana ana"),
      (3L, "cab nab ban cabana")).toDF("doc_id", "text")
    val fused = UnigramLm.tokenizeCounts(docs, "text", "doc_id")
      .orderBy("doc_id").as[(Long, Int, Int)].collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("spmvocab").toString
    UnigramLm.trainVocab(docs, "text").write.parquet(s"$dir/vocab.parquet")
    val thawed = UnigramLm.tokenizeCountsWith(docs, "text", "doc_id",
      spark.read.parquet(s"$dir/vocab.parquet"))
      .orderBy("doc_id").as[(Long, Int, Int)].collect().toSeq
    assert(thawed == fused)
    assert(fused.nonEmpty && fused.forall(_._3 > 0))
  }

  test("tokenizeCountsWith: words with out-of-vocabulary characters drop instead of crashing") {
    val train = Seq((1L, "banana cabana ban")).toDF("doc_id", "text")
    val vocab = UnigramLm.trainVocab(train, "text")
    // 'baq' is PARTIALLY covered ('b','a','ba' join; 'q' never seen) —
    // its lattice end is unreachable, so its seg must be NULL-dropped,
    // not an ANSI INVALID_ARRAY_INDEX crash in the backward walk;
    // 'qzq zzz' leaves doc 2 with no encodable word at all
    val docs = Seq((1L, "banana baq"), (2L, "qzq zzz")).toDF("doc_id", "text")
    val got = UnigramLm.tokenizeCountsWith(docs, "text", "doc_id", vocab)
      .orderBy("doc_id").as[(Long, Int, Int)].collect().toSeq
    assert(got.map(_._1) == Seq(1L), got.toString)
    assert(got.head._2 == 1 && got.head._3 >= 1)
  }

  test("train is bit-identical under repartitioning") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("ban", "ana", "cab", "nab", "dan")
    val docs = (0 until 40).map { _ =>
      Seq.fill(6)(vocab(rnd.nextInt(vocab.size)) + vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }.toDF("text")
    def run(d: org.apache.spark.sql.DataFrame) =
      UnigramLm.train(d, "text")
        .orderBy(col("n_uses").desc, col("piece"))
        .as[(String, Int, Long)].collect().toSeq
    assert(run(docs.repartition(1)) == run(docs.repartition(7)))
  }

  test("vocabSweep: more vocabulary never hurts fertility on a structured corpus") {
    val docs = Seq.fill(10)("banana bandana cabana banana").toDF("text")
    val got = UnigramLm.vocabSweep(docs, "text", keepMultis = Seq(2, 8))
      .as[(Int, Long, Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(2, 8))
    got.foreach { case (_, v, nw, np, f) =>
      assert(v >= 1 && nw == 40L && np >= nw)
      assert(f == np.toDouble / nw)
    }
    // the larger prune budget retains more multi-char pieces
    assert(got(1)._2 >= got(0)._2)
    // and segments at least as compactly
    assert(got(1)._5 <= got(0)._5, got.toString)
  }
}
