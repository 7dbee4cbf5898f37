package graft.operators

import graft.SparkSuite

class WinnowSpec extends SparkSuite {
  import spark.implicits._

  /** First 24 bits of md5 — the JVM mirror of QualityClassifier.md24. */
  private def md24(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 16) | ((d(1) & 0xffL) << 8) | (d(2) & 0xffL)
  }

  /** Single-threaded robust winnowing: (fpos, fp) set per text. */
  private def refFps(text: String, k: Int, w: Int): Set[(Long, Long)] = {
    val toks = text.toLowerCase.trim.split("\\s+").toVector
    if (toks.size < k + w - 1) Set.empty
    else {
      val hs = toks.sliding(k).map(g => md24(g.mkString(" "))).toVector
      (0 to hs.size - w).map { p =>
        val sel = (p until p + w).minBy(q => (hs(q), -q))
        (sel.toLong, hs(sel))
      }.toSet
    }
  }

  private val rnd = new scala.util.Random(23)
  private def randText(n: Int, vocab: Int): String =
    Seq.fill(n)(s"w${rnd.nextInt(vocab)}").mkString(" ")

  test("WinnowKeys kernel reproduces the composed transform+md24 key stream") {
    import org.apache.spark.sql.functions._
    val docs = ((1L to 40L).map(i => (i, randText(3 + rnd.nextInt(40), 9))) ++ Seq(
      (100L, ""), (101L, "one two"), (102L, " lead  double  space "),
      (103L, "héllo wörld мир труд май tokens here"), (104L, "a\tb\nc d e")))
      .toDF("doc_id", "text")
    for (k <- Seq(1, 3, 4)) {
      val toks = split(lower(trim(col("text"))), "\\s+")
      val composed = docs.select(col("doc_id"),
        when(size(toks) >= k,
          transform(sequence(lit(0), size(toks) - k), i =>
            ReferenceForms.md24Hof(array_join(slice(toks, i + 1, lit(k)), " "))
              * 16777216L + (lit(16777215L) - i)))
          .otherwise(array().cast("array<long>")).as("ks"))
        .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
      val kernel = docs.select(col("doc_id"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.plans.WinnowKeys(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("text")), k)).as("ks"))
        .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
      assert(kernel == composed, s"k=$k")
    }
  }

  test("fingerprints match the single-threaded reference exactly (small vocab forces ties)") {
    val docs = (1L to 20L).map(i => (i, randText(60, 7))) // heavy hash ties
    val out = Winnow.fingerprints(docs.toDF("doc_id", "text"), "text", "doc_id", k = 4, w = 4)
      .select("doc_id", "fpos", "fp").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    docs.foreach { case (id, text) =>
      assert(out.getOrElse(id, Set.empty) == refFps(text, 4, 4), s"doc $id")
    }
  }

  test("density sits near the theoretical 2/(w+1) on random text") {
    val docs = (1L to 30L).map(i => (i, randText(300, 5000))).toDF("doc_id", "text")
    val density = Winnow.profile(docs, "text", "doc_id")
      .agg(org.apache.spark.sql.functions.avg("density")).as[Double].head()
    assert(density > 0.3 && density < 0.5, s"density $density vs expected 0.4")
  }

  test("the winnowing guarantee: a shared w+k-1 token run yields a shared fingerprint") {
    val shared = randText(16, 100000) // 16 >= k+w-1 = 7
    val docs = Seq(
      (1L, randText(50, 100000) + " " + shared + " " + randText(50, 100000)),
      (2L, randText(40, 100000) + " " + shared + " " + randText(60, 100000)),
      (3L, randText(120, 100000))).toDF("doc_id", "text")
    val pairs = Winnow.pairs(docs, "text", "doc_id", minShared = 1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("clusters: transitive shared runs collapse, unpaired docs are singletons") {
    val shared1 = randText(20, 100000)
    val shared2 = randText(20, 100000)
    // 1-2 share run1, 2-3 share run2 -> {1,2,3}; 4 alone
    val docs = Seq(
      (1L, shared1 + " " + randText(40, 100000)),
      (2L, shared1 + " " + randText(10, 100000) + " " + shared2),
      (3L, shared2 + " " + randText(40, 100000)),
      (4L, randText(80, 100000))).toDF("doc_id", "text")
    val out = Winnow.clusters(docs, "text", "doc_id", minShared = 1)
      .select("doc_id", "component", "cluster_size", "is_canonical")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((1L, 3L, true)))
    assert(out(2L) == ((1L, 3L, false)) && out(3L) == ((1L, 3L, false)))
    assert(out(4L) == ((4L, 1L, true)))
  }

  test("the df cap drops template fingerprints before pairing") {
    // deterministic: every doc carries the same 12-token template, and
    // each tail is namespaced per doc so no cross-doc k-gram exists
    val template = (1 to 12).map(j => s"t$j").mkString(" ")
    val docs = (1L to 10L).map(i =>
      (i, template + " " + (1 to 80).map(j => s"d${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Winnow.pairs(docs, "text", "doc_id", minShared = 1, maxDf = 5)
    assert(pairs.count() == 0) // template df=10 > 5 -> guarded out
  }
}
