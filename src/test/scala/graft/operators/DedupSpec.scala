package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Dedup operator correctness, verified against brute-force computations
  * of the same definitions (exact Jaccard over shingles, exact Hamming
  * over the simhash fingerprints).
  */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs: DataFrame = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi")
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map { i =>
      (i.toLong, Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // near-dups: copy of doc i with one word changed, ids 100+i
    val dups = (0 until 10).map { i =>
      val words = base(i)._2.split(" ")
      words(5) = "CHANGED"
      (100L + i, words.mkString(" "))
    }
    (base ++ dups).toDF("doc_id", "text")
  }

  test("latestByKey keeps the max-version row per key and is idempotent") {
    val df = Seq(
      ("a", 1L, "old"), ("a", 3L, "new"), ("a", 2L, "mid"),
      ("b", 1L, "only")).toDF("k", "version", "payload")
    val out = Dedup.latestByKey(df, Seq("k"), Seq("version"))
    assert(out.orderBy("k").as[(String, Long, String)].collect().toSeq ==
      Seq(("a", 3L, "new"), ("b", 1L, "only")))
    val again = Dedup.latestByKey(out, Seq("k"), Seq("version"))
    assert(again.count() == out.count())
  }

  test("exactGroups collapses whitespace/case variants to one fingerprint") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, " HELLO\tworld "),
      (4L, "different")).toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df, "text", "doc_id").collect()
    assert(groups.length == 2)
    val big = groups.find(_.getAs[Long]("n_docs") == 3).get
    assert(big.getAs[Long]("canonical_id") == 1L)
  }

  test("bestPerCluster picks the max-score member, ties to lowest id, no per-cluster sort") {
    val membership = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // cluster 1
      (5L, 5L),                     // singleton
      (7L, 7L), (8L, 7L)            // cluster 7: score tie
    ).toDF("doc_id", "component")
    val scores = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5), (5L, 0.1), (7L, 0.4), (8L, 0.4)
    ).toDF("doc_id", "score")
    val got = Dedup.bestPerCluster(membership, scores, "doc_id", "score")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // cluster 1: doc 2 wins on score; cluster 7: tie -> lowest id (7)
    assert(got == Seq((1L, 2L, 3L), (5L, 5L, 1L), (7L, 7L, 2L)))
  }

  test("sourceOverlapMatrix counts distinct shared fingerprints per unordered source pair") {
    val docs = Seq(
      (1L, "a", "alpha text"), (2L, "a", "beta text"),
      (3L, "b", "alpha  TEXT"),   // normalizes to the same fingerprint as 1
      (4L, "b", "Alpha text"),    // same fingerprint AGAIN in b: counted once
      (5L, "b", "gamma text"),
      (6L, "c", "beta text"), (7L, "c", "gamma text"),
      (8L, "c", "delta text")     // unshared content contributes nothing
    ).toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlapMatrix(docs, "text", "source")
      .select("source_a", "source_b", "n_shared", "n_docs_a", "n_docs_b", "overlap_frac")
      .as[(String, String, Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // a∩b = {alpha}, a∩c = {beta}, b∩c = {gamma}; pairs ordered a < b.
    // Distinct-content sizes: a={alpha,beta}=2, b={alpha,gamma}=2 (the
    // two alpha variants collapse), c={beta,gamma,delta}=3;
    // overlap_frac = shared / smaller side
    assert(got == Seq(
      ("a", "b", 1L, 2L, 2L, 0.5), ("a", "c", 1L, 2L, 3L, 0.5), ("b", "c", 1L, 2L, 3L, 0.5)))
  }

  test("shingles produces k-grams; short docs yield an empty array, not [null]") {
    val out = spark.sql("SELECT 1").select(Dedup.shingles(lit("a b c d"), 3).as("s"))
      .as[Seq[String]].collect()(0)
    assert(out == Seq("a b c", "b c d"))
    val short = spark.sql("SELECT 1").select(Dedup.shingles(lit("a b"), 3).as("s"))
      .as[Seq[String]].collect()(0)
    assert(short == Seq.empty)
  }

  test("two short docs are NOT reported as hashed-ngram duplicates") {
    val df = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("doc_id", "text")
    val g = df.select(col("doc_id"), transform(Dedup.wordNgrams(col("text"), 2), x => xxhash64(x)).as("ng"))
    val l = g.select(col("doc_id").as("a"), col("ng").as("nga"))
    val r = g.select(col("doc_id").as("b"), col("ng").as("ngb"))
    val pairs = l.crossJoin(r).where(col("a") < col("b"))
      .withColumn("j", Dedup.jaccard(col("nga"), col("ngb")))
      .where(col("j") >= 0.3)
    assert(pairs.count() == 0)
  }

  test("simHashPairs rejects maxHamming >= chunks (pigeonhole would lose pairs)") {
    intercept[IllegalArgumentException](
      Dedup.simHashPairs(docs, "text", "doc_id", chunks = 4, maxHamming = 4))
  }

  /** Brute-force pairs with exact Jaccard >= threshold. */
  private def brutePairs(threshold: Double, k: Int): Set[(Long, Long)] = {
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), k).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val ids = sh.keys.toSeq.sorted
    (for {
      a <- ids; b <- ids if a < b
      ja = sh(a).toSet; jb = sh(b).toSet
      j = ja.intersect(jb).size.toDouble / ja.union(jb).size.toDouble
      if j >= threshold
    } yield (a, b)).toSet
  }

  test("minHashPairs matches brute-force exact-Jaccard pairs") {
    val got = Dedup.minHashPairs(docs, "text", "doc_id", threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == brutePairs(0.5, 3))
    assert(got.size >= 10) // the 10 planted near-dups are all found
  }

  test("simHashPairs equals all pairs at Hamming <= maxHamming (pigeonhole lossless)") {
    val fp = Dedup.simHash(docs, "text", "doc_id").as[(Long, Long)].collect().toMap
    val ids = fp.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(fp(a) ^ fp(b))
      if h <= 3
    } yield (a, b, h)).toSet
    val got = Dedup.simHashPairs(docs, "text", "doc_id")
      .as[(Long, Long, Int)].collect().map { case (a, b, h) => (a, b, h.toLong) }.toSet
    assert(got == brute.map { case (a, b, h) => (a, b, h.toLong) })
    assert(got.nonEmpty) // planted near-dups are within Hamming 3
  }

  test("embeddingCosinePairs finds planted near-identical embeddings") {
    val rnd = new scala.util.Random(13)
    val base = (0 until 60).map(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    // plant 10 near-dups: tiny perturbation of vectors 0..9 (cosine ~0.9999)
    val dups = (0 until 10).map { i =>
      (200L + i, base(i)._2.map(x => x + 0.001f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val got = Dedup.embeddingCosinePairs(df, "vec_id", "embedding", dim = 16, threshold = 0.95, planes = 6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == (0 until 10).map(i => (i.toLong, 200L + i)).toSet)
  }

  test("minHash candidate generation is bucketed, not quadratic") {
    val n = docs.count()
    val cands = Dedup.minHashCandidates(docs, "text", "doc_id").count()
    assert(cands < n * (n - 1) / 2 / 10, s"candidates $cands vs all pairs ${n * (n - 1) / 2}")
  }

  test("shingleHashes is the sorted set of hashed HOF shingles; jaccardSorted matches jaccard") {
    val both = docs.select(
      col("doc_id"),
      Dedup.shingleHashes(col("text"), 3).as("native"),
      transform(Dedup.shingles(col("text"), 3), x => xxhash64(x)).as("hof"))
    val rows = both.as[(Long, Seq[Long], Seq[Long])].collect()
    assert(rows.nonEmpty)
    for ((id, native, hof) <- rows) {
      assert(native == native.distinct.sorted, s"doc $id: not sorted-distinct")
      assert(native.toSet == hof.toSet, s"doc $id: shingle hash sets differ")
    }
    val pairs = both.select(col("native"), col("hof"))
      .crossJoin(both.select(col("native").as("n2"), col("hof").as("h2")).limit(5))
    val diff = pairs.where(
      Dedup.jaccardSorted(col("native"), col("n2")) =!=
        Dedup.jaccard(col("hof"), col("h2"))).count()
    assert(diff == 0)
  }

  test("signature and fingerprint builds are shuffle-free (no Exchange in the plan)") {
    val sigPlan = Dedup.minHashSignatures(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!sigPlan.contains("Exchange"), s"minhash signatures shuffled:\n$sigPlan")
    val fpPlan = Dedup.simHash(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!fpPlan.contains("Exchange"), s"simhash fingerprints shuffled:\n$fpPlan")
  }

  test("simHashPairs builds the fingerprint-group aggregate exactly once (single-pass plan)") {
    // the round-4/5 defect: the within/left/right three-branch form built
    // the scan → simhash64 → collect_set lineage 3× — at 100 TB that
    // triples the operator's most expensive stage. The single-pass form
    // must show exactly ONE partial collect_set (fingerprint groups) and
    // ONE partial collect_list (chunk buckets) in the physical plan.
    val plan = Dedup.simHashPairs(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    def count(needle: String): Int = needle.r.findAllIn(plan).size
    assert(count("partial_collect_set") == 1, s"fingerprint aggregate built more than once:\n$plan")
    assert(count("partial_collect_list") == 1, s"bucket aggregate built more than once:\n$plan")
    assert(count("simhash64") <= 2, s"simhash kernel appears in >1 lineage:\n$plan")
  }

  test("minHashCandidates builds the signature aggregate exactly once (single-pass plan)") {
    val plan = Dedup.minHashCandidates(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    def count(needle: String): Int = needle.r.findAllIn(plan).size
    assert(count("partial_collect_set") == 1, s"signature aggregate built more than once:\n$plan")
    assert(count("partial_collect_list") == 1, s"band-bucket aggregate built more than once:\n$plan")
  }

  test("minHashPairs runs the shingle kernel once: all consumers read the shared cut") {
    // the candidate pipeline and both verification join sides must share
    // the one materialized (id, shingle-hashes) pass: the scoring tree
    // holds no kernel call, three cache reads of one relation, and the
    // kernel once inside that relation's cached plan
    assertSharedKernelCut(Dedup.minHashPairs(rddBacked(docs), "text", "doc_id"), "shingle_hashes")
  }

  test("ngramContamination broadcasts the probe side and never sort-merge-joins") {
    val probe = docs.where(col("doc_id") < 5)
    val plan = Dedup.ngramContamination(docs, probe, "text", "doc_id", n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"probe gram set not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled by n-gram:\n$plan")
  }

  test("semanticDedup runs the centroid kernel once: all consumers share the cut") {
    import spark.implicits._
    val vecs = (0 until 40)
      .map(i => (i.toLong, (1 to 8).map(j => (i * j % 7).toFloat)))
      .toDF("vec_id", "embedding")
    assertSharedKernelCut(Dedup.semanticDedup(rddBacked(vecs), "vec_id", "embedding", dim = 8,
      cells = 4, sampleN = 40, iters = 2), "nearest_centroid")
  }

  /** `kernel` runs once for all of `df`'s consumers: absent from the plan
    * tree, which reads one cached relation three times, and called once
    * inside that relation's cached plan.
    */
  private def assertSharedKernelCut(df: DataFrame, kernel: String): Unit = {
    val plan = df.queryExecution.executedPlan
    assert(occurrences(planTree(df), kernel) == 0, s"$kernel recomputed per consumer:\n$plan")
    val reads = cacheReads(df).filter(r => occurrences(r.relation.cachedPlan, kernel) > 0)
    assert(reads.size == 3, s"expected 3 reads of the shared cut, got ${reads.size}:\n$plan")
    assert(reads.map(_.relation.cacheBuilder).distinct.size == 1,
      s"the reads hit more than one cached relation:\n$plan")
    assert(occurrences(reads.head.relation.cachedPlan, kernel) == 1,
      s"$kernel called more than once in the cut:\n${reads.head.relation.cachedPlan}")
  }

  test("native simhash equals the explode+aggregate reference form") {
    val native = Dedup.simHash(docs, "text", "doc_id").as[(Long, Long)].collect().toMap
    val agg = Dedup.simHashAgg(docs, "text", "doc_id").as[(Long, Long)].collect().toMap
    assert(native == agg)
    assert(native.nonEmpty)
    // blank text: the empty token still contributes, like the agg form
    val blank = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    assert(Dedup.simHash(blank, "text", "doc_id").as[(Long, Long)].collect().toMap
      == Dedup.simHashAgg(blank, "text", "doc_id").as[(Long, Long)].collect().toMap)
  }

  test("native band hashes equal the composed hash(slice(..)) form") {
    val sigs = Dedup.minHashSignatures(docs, "text", "doc_id")
    val native = Dedup.lshBuckets(sigs, "doc_id", bands = 32, rows = 4)
      .as[(Long, Int, Int)].collect().toSet
    val composed = ReferenceForms.lshBucketsComposed(sigs, "doc_id", bands = 32, rows = 4)
      .as[(Long, Int, Int)].collect().toSet
    assert(native == composed)
    assert(native.nonEmpty)
  }

  test("native per-row signatures equal the explode+aggregate reference form") {
    val native = Dedup.minHashSignatures(docs, "text", "doc_id", numHashes = 32)
      .as[(Long, Seq[Long])].collect().toMap
    val agg = Dedup.minHashSignaturesAgg(docs, "text", "doc_id", numHashes = 32)
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == agg)
    assert(native.nonEmpty)
  }

  test("an exact-duplicate cluster yields each within-pair once, and capped buckets drop it cleanly") {
    // 30 identical docs + 5 distinct ones: the cluster shares one
    // signature, so candidates = C(30,2) within-pairs exactly once
    val cluster = (0 until 30).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta"))
    val rest = (100 until 105).map(i => (i.toLong, s"totally different document number $i with unique words w$i x$i y$i"))
    val df = (cluster ++ rest).toDF("doc_id", "text")
    val cands = Dedup.minHashCandidates(df, "text", "doc_id").select("a", "b").as[(Long, Long)].collect()
    assert(cands.length == cands.toSet.size) // no duplicate pairs from the 32 bands
    val withinCluster = cands.filter { case (a, b) => a < 30 && b < 30 }
    assert(withinCluster.length == 30 * 29 / 2)
  }

  /** Brute-force union-find reference for connectedComponents. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // roots are min ids because unions always attach larger to smaller
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Runs BOTH execution paths (driver union-find and the distributed
    * star-contraction loop, forced via driverEdgeLimit = 0) and asserts
    * they agree before returning the labels.
    */
  private def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val viaDriver = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    val viaLoop = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b",
      driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == viaLoop, "driver union-find and star-contraction loop disagree")
    viaDriver
  }

  test("incrementalDedup drops store-seen fingerprints and in-batch copies, keeps novel canonicals") {
    val store = Seq("old doc one", "old doc two").toDF("text")
      .select(Dedup.exactFingerprint(col("text")).as("fingerprint"))
    val batch = Seq(
      (1L, "fresh content a"),
      (2L, "old  doc   one"), // whitespace-normalized copy of a store doc -> dropped
      (3L, "fresh content a"), // in-batch duplicate of 1 -> canonical rule keeps 1
      (4L, "fresh content b")
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(batch, store, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L))
  }

  test("connectedComponents switches paths exactly at the edge cutoff, results identical") {
    // 5 distinct edges after normalization; duplicates/self-loops are
    // dropped BEFORE the count that drives the switch
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 4L), (4L, 5L), (6L, 7L))
    def plan(limit: Long) = {
      val df = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b",
        driverEdgeLimit = limit)
      (df, df.queryExecution.executedPlan.toString)
    }
    val (atLimit, atPlan) = plan(5) // nEdges == limit → driver union-find
    val (above, abovePlan) = plan(4) // nEdges > limit → distributed loop
    // driver path materializes a local relation; the loop path wraps the
    // final labels RDD (ExternalRDDScan, printed as "Scan[obj…]")
    assert(atPlan.contains("LocalTableScan") && !atPlan.contains("Scan[obj"),
      s"expected the driver path at nEdges == limit:\n$atPlan")
    assert(abovePlan.contains("Scan[obj") && !abovePlan.contains("LocalTableScan"),
      s"expected the distributed loop at nEdges == limit + 1:\n$abovePlan")
    assert(atLimit.as[(Long, Long)].collect().toMap == above.as[(Long, Long)].collect().toMap)
    assert(atLimit.as[(Long, Long)].collect().toMap == ufComponents(edges))
  }

  test("connectedComponents matches union-find on random graphs across densities") {
    for ((seed, n, e) <- Seq((11, 120, 300), (23, 500, 180), (37, 40, 600), (41, 1000, 30))) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(e)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(ccOf(edges) == ufComponents(edges), s"seed=$seed n=$n e=$e")
    }
  }

  test("connectedComponents resolves a long chain (multi-round convergence)") {
    // a path graph is the adversarial case for star contraction: diameter
    // n, so label propagation would need n rounds — this must still
    // converge within the default maxIter via the O(log² n) alternation
    val chain = (0L until 63L).map(i => (i, i + 1))
    val got = ccOf(chain)
    assert(got.keySet == (0L to 63L).toSet)
    assert(got.values.toSet == Set(0L))
  }

  test("connectedComponents keeps disjoint components apart and handles empty input") {
    val edges = Seq((10L, 11L), (11L, 12L), (20L, 21L), (5L, 5L))
    val got = ccOf(edges)
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    assert(ccOf(Seq.empty[(Long, Long)]).isEmpty)
  }

  test("connectedComponents is orientation-agnostic and dedups parallel edges") {
    val got = ccOf(Seq((3L, 1L), (1L, 3L), (3L, 1L), (2L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("minHashClusters equals CC over doc-level pairs plus exact-fingerprint groups") {
    // exact-dup clique (incl. whitespace/case variants), a near-dup
    // bridge, a SHORT identical pair (no shingles — only the fingerprint
    // contraction can cluster it), and noise
    val base = docs.as[(Long, String)].collect().toSeq
    val exacts = Seq((300L, base(0)._2), (301L, "  " + base(0)._2.toUpperCase + "  "))
    val shorts = Seq((400L, "hi there"), (401L, "hi there"))
    val corpus = base ++ exacts ++ shorts
    val df = corpus.toDF("doc_id", "text")
    val expected = {
      val mh = Dedup.minHashPairs(df, "text", "doc_id")
        .select(col("a"), col("b")).as[(Long, Long)].collect().toSeq
      val byFp = corpus.groupBy { case (_, t) => t.toLowerCase.trim.replaceAll("\\s+", " ") }
        .values.flatMap(g => g.map(_._1).sorted.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))))
      val cc = ufComponents(mh ++ byFp)
      corpus.map { case (id, _) => id -> cc.getOrElse(id, id) }.toMap
    }
    val got = Dedup.minHashClusters(df, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
    assert(got(301L) == got(0L) && got(300L) == got(0L)) // case/whitespace variants fold in
    assert(got(401L) == got(400L) && got(400L) == 400L)  // shingle-less pair still clusters
  }

  test("connectedComponents drops null and non-integral ids instead of failing") {
    val df = Seq((Some("1"), Some("2")), (Some("2"), Some("x")), (None, Some("5")), (Some("7"), Some("8")))
      .toDF("a", "b")
    val got = Dedup.connectedComponents(df, "a", "b").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("minHashDecontaminate finds cross-set near-dups and matches brute-force cross Jaccard") {
    // probe = eval set; corpus holds one near-copy of probe doc 1000, an
    // exact-dup pair of it (identical signatures → one group), and noise
    val probe = Seq(
      (1000L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1001L, "completely unrelated benchmark question about metallurgy and forges")).toDF("doc_id", "text")
    val nearCopy = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    val corpus = (Seq(
      (1L, nearCopy), (2L, nearCopy),
      (3L, "noise document with its own vocabulary entirely disjoint from probes")) ++
      (10L until 40L).map(i => (i, s"filler doc $i with words w$i x$i y$i z$i"))).toDF("doc_id", "text")
    val got = Dedup.minHashDecontaminate(corpus, probe, "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)].collect().map { case (c, p, j) => ((c, p), j) }.toMap
    // brute force: exact Jaccard over the same shingle-hash definition
    val sh = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("sh"))
      .as[(Long, Seq[Long])].collect().toMap
    val (cs, ps) = (sh(corpus), sh(probe))
    val brute = (for {
      (c, cv) <- cs.toSeq; (p, pv) <- ps.toSeq
      inter = cv.toSet.intersect(pv.toSet).size
      j = inter.toDouble / (cv.toSet ++ pv.toSet).size
      if j >= 0.5
    } yield (c, p) -> j).toMap
    assert(got == brute)
    assert(got.keySet == Set((1L, 1000L), (2L, 1000L)))
  }

  test("simHashClusters equals connectedComponents over simHashPairs (contract-then-cluster)") {
    // corpus with exact-dup cliques (identical text → identical
    // fingerprint) AND cross-fingerprint near-dups: the contracted path
    // must produce the identical per-doc labeling as pair-then-contract
    val exactDups = (200 until 230).map(i => (i.toLong, docs.as[(Long, String)].collect()(0)._2))
    val corpus = docs.as[(Long, String)].collect().toSeq ++ exactDups
    val df = corpus.toDF("doc_id", "text")
    val viaPairs = {
      val pairs = Dedup.simHashPairs(df, "text", "doc_id").select(col("a"), col("b"))
      val cc = Dedup.connectedComponents(pairs, "a", "b")
        .as[(Long, Long)].collect().toMap
      // docs absent from the pair graph are their own singleton cluster
      corpus.map { case (id, _) => id -> cc.getOrElse(id, id) }.toMap
    }
    val viaClusters = Dedup.simHashClusters(df, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(viaClusters.keySet == corpus.map(_._1).toSet)
    assert(viaClusters == viaPairs)
    // the planted exact-dup clique landed in one cluster keyed by doc 0
    assert((200L until 230L).forall(viaClusters(_) == viaClusters(0L)))
  }

  test("ngramContamination flags exactly the docs sharing an n-gram, with exact counts") {
    // probe doc leaks a 5-token span into corpus doc 1 (once) and doc 2
    // (the same span twice — still ONE distinct shared gram per overlap
    // window); doc 3 shares 4-token runs only; doc 4 is disjoint
    val probe = Seq((900L, "secret answer tokens one two three four")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words then secret answer tokens one two and a tail"),
      (2L, "secret answer tokens one two filler secret answer tokens one two"),
      (3L, "answer tokens one two shifted so only four tokens align here"),
      (4L, "wholly disjoint vocabulary nothing shared with the probe set")).toDF("doc_id", "text")
    val got = Dedup.ngramContamination(corpus, probe, "text", "doc_id", n = 5)
      .as[(Long, Long)].collect().toMap
    // brute force over string n-gram SETS
    val grams = (t: String) => t.split(" ").sliding(5).map(_.mkString(" ")).toSet
    val pg = grams("secret answer tokens one two three four")
    val brute = Seq(
      1L -> "prefix words then secret answer tokens one two and a tail",
      2L -> "secret answer tokens one two filler secret answer tokens one two",
      3L -> "answer tokens one two shifted so only four tokens align here",
      4L -> "wholly disjoint vocabulary nothing shared with the probe set")
      .map { case (id, t) => id -> grams(t).intersect(pg).size.toLong }
      .filter(_._2 > 0).toMap
    assert(got == brute)
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("ngramContaminationBloom is row-identical to the exact path even when the filter is saturated") {
    // 64 bits for hundreds of probe grams → the Bloom sieve is saturated
    // and passes nearly everything; the exact-confirm join must still
    // reduce the result to precisely the exact path's rows
    val probe = docs.where($"doc_id" % 4 === 0)
    val corpus = docs.where($"doc_id" % 4 =!= 0)
    val exact = Dedup.ngramContamination(corpus, probe, "text", "doc_id", n = 3)
      .as[(Long, Long)].collect().toMap
    val viaSaturated = Dedup.ngramContaminationBloom(corpus, probe, "text", "doc_id", n = 3,
      expectedGrams = 4, numBits = 64)
      .as[(Long, Long)].collect().toMap
    val viaSized = Dedup.ngramContaminationBloom(corpus, probe, "text", "doc_id", n = 3)
      .as[(Long, Long)].collect().toMap
    assert(exact.nonEmpty) // the near-dup pairs guarantee shared 3-grams
    assert(viaSaturated == exact)
    assert(viaSized == exact)
  }

  test("ngramContaminationBloom on an empty probe returns an empty frame with the contract schema") {
    val out = Dedup.ngramContaminationBloom(
      docs, docs.where($"doc_id" < 0), "text", "doc_id", n = 3)
    assert(out.columns.toSeq == Seq("corpus_id", "n_shared_ngrams"))
    assert(out.count() == 0)
  }

  test("semanticDedup drops exactly the lower-id within-cell near-dups") {
    // 40 well-separated random vectors + exact copies of ids 0-4: a copy
    // has identical centroid distances, so it provably shares its
    // original's cell and must be dropped; the originals all survive
    val rnd = new scala.util.Random(11)
    val base = (0 until 40).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq))
    val copies = (0 until 5).map(i => (500L + i, base(i)._2))
    val df = (base ++ copies).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(df, "vec_id", "embedding", dim = 8,
      threshold = 0.95, cells = 4, sampleN = 100, iters = 3)
      .as[(Long, Int, Boolean)].collect()
    assert(out.length == 45)
    val kept = out.filter(_._3).map(_._1).toSet
    assert((0L until 40L).forall(kept.contains), "all originals kept")
    assert((500L until 505L).forall(id => !kept.contains(id)), "all planted copies dropped")
    // copies share their original's cell
    val cellOf = out.map(r => r._1 -> r._2).toMap
    assert((0 until 5).forall(i => cellOf(500L + i) == cellOf(i.toLong)))
  }

  test("spanProfile counts corpus-duplicated k-spans and their covered positions") {
    // doc 1 and doc 2 share tokens 0..5 ("a b c d e f") exactly once
    // each; doc 3 is clean; doc 4 repeats its own 0..5 at 4..9
    val df = Seq(
      (1L, "a b c d e f p q r s"),
      (2L, "a b c d e f x y z w"),
      (3L, "m n o u v k h g t j"),
      (4L, "i1 i2 i3 i4 i1 i2 i3 i4 i1 i2 i3 i4")).toDF("doc_id", "text")
    val got = Dedup.spanProfile(df, "text", "doc_id", k = 6)
      .orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_tokens"), r.getAs[Int]("n_spans"),
          r.getAs[Long]("n_dup_spans"), r.getAs[Long]("n_covered_tokens")))).toMap
    // docs 1/2: 10 tokens, 5 spans, one shared span at pos 0 covering 0..5
    assert(got(1L) == ((10, 5, 1L, 6L)))
    assert(got(2L) == ((10, 5, 1L, 6L)))
    assert(got(3L) == ((10, 5, 0L, 0L)))
    // doc 4: period-4 repetition -> spans at pos 0..4 all duplicated
    // within the doc (e.g. pos0 == pos4), full 12-token coverage
    val (n4, s4, d4, c4) = got(4L)
    assert(n4 == 12 && s4 == 7 && d4 > 0 && c4 == 12L)
  }

  test("spanScrub drops exactly the covered positions, keeps clean docs verbatim") {
    val df = Seq(
      (1L, "a b c d e f p q r s"),
      (2L, "a b c d e f x y z w"),
      (3L, "m n o u v k h g t j")).toDF("doc_id", "text")
    val got = Dedup.spanScrub(df, "text", "doc_id", k = 6)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Int]("n_tokens"), r.getAs[Int]("n_kept"),
        r.getAs[String]("scrubbed_text")))
    assert(got(0) == ((10, 4, "p q r s")))
    assert(got(1) == ((10, 4, "x y z w")))
    assert(got(2) == ((10, 10, "m n o u v k h g t j")))
  }

  test("spanScrub can scrub a document to empty") {
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f")).toDF("doc_id", "text")
    val got = Dedup.spanScrub(df, "text", "doc_id", k = 6)
      .orderBy("doc_id").collect()
    got.foreach { r =>
      assert(r.getAs[Int]("n_kept") == 0)
      assert(r.getAs[String]("scrubbed_text") == "")
    }
  }

  test("spanProfile ignores docs shorter than k (no spans, zero coverage)") {
    val df = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val got = Dedup.spanProfile(df, "text", "doc_id", k = 6).orderBy("doc_id").collect()
    got.foreach { r =>
      assert(r.getAs[Int]("n_spans") == 0)
      assert(r.getAs[Long]("n_dup_spans") == 0L)
      assert(r.getAs[Double]("covered_frac") == 0.0)
    }
  }

  test("containmentSorted: subset is 1.0, disjoint is 0.0, empty left is null") {
    val sub = evalOne(Dedup.containmentSorted(
      Dedup.shingleHashes(lit("a b c"), 1), Dedup.shingleHashes(lit("a b c d e"), 1)))
    assert(sub == 1.0)
    val dis = evalOne(Dedup.containmentSorted(
      Dedup.shingleHashes(lit("a b"), 1), Dedup.shingleHashes(lit("x y"), 1)))
    assert(dis == 0.0)
    // left side shorter than k shingles -> empty array -> null, not 0/0
    assert(evalOne(Dedup.containmentSorted(
      Dedup.shingleHashes(lit("a"), 2), Dedup.shingleHashes(lit("a b c"), 2))) == null)
  }

  test("containmentPairs finds doc-in-doc the Jaccard baseline misses, directed small-into-large") {
    // doc 1 is wholly quoted inside doc 2 (plus much more): containment
    // of 1-in-2 is 1.0 while Jaccard is far below any useful threshold
    val contained = "alpha beta gamma delta epsilon zeta"
    val container = contained + " one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val df = Seq(
      (1L, contained, "en"),
      (2L, container, "en"),
      (3L, "completely different tokens nothing shared here at all", "en"),
      (4L, contained, "de") // same text, other block: must NOT pair cross-block
    ).toDF("doc_id", "text", "lang")
    val got = Dedup.containmentPairs(df, "text", "doc_id", blockCol = "lang",
      k = 2, threshold = 0.8, minShingles = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
    // the same pair is invisible to the symmetric Jaccard baseline
    val j = Dedup.jaccardSorted(
      Dedup.shingleHashes(lit(contained), 2), Dedup.shingleHashes(lit(container), 2))
    assert(evalOne(j).asInstanceOf[Double] < 0.3)
  }

  test("containmentPairs runs the shingle kernel once: both join sides read the cut") {
    val df = (0 until 40).map(i => (i.toLong, s"tok$i common words ${"x " * (i % 7)}shared tail here", "en"))
      .toDF("doc_id", "text", "lang")
    val out = Dedup.containmentPairs(df, "text", "doc_id", blockCol = "lang")
    assert(reuseReads(out) == 2,
      s"expected the materialized shingle projection read twice, got ${reuseReads(out)}:\n" +
        out.queryExecution.executedPlan)
  }

  test("containmentSorted equals the set-based reference on random texts (randomized property)") {
    val rnd = new scala.util.Random(17)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    (0 until 30).foreach { _ =>
      val ta = Seq.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val tb = Seq.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val got = evalOne(Dedup.containmentSorted(
        Dedup.shingleHashes(lit(ta), 2), Dedup.shingleHashes(lit(tb), 2)))
      def sh(t: String) = t.split(" ").sliding(2).map(_.mkString(" ")).toSet
      val (sa, sb) = (sh(ta), sh(tb))
      val want = if (sa.isEmpty) null else sa.intersect(sb).size.toDouble / sa.size
      assert(got == want, s"'$ta' in '$tb': got $got want $want")
    }
  }

  test("containmentPairs equal-size sets emit one direction only (id-ordered)") {
    val text = "one two three four five six seven"
    val df = Seq((5L, text, "en"), (9L, text, "en")).toDF("doc_id", "text", "lang")
    val got = Dedup.containmentPairs(df, "text", "doc_id", blockCol = "lang")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((5L, 9L, 1.0)))
  }

  test("incrementalNearDup flags cross-run near-matches only, best match deterministic") {
    val store = Seq(
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (4L, "entirely different content about database engines and query plans"),
      (6L, "the quick brown fox jumps over the lazy dog again and again tonight")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // near-dup of BOTH store docs 2 and 6; 2 ties lower on equal J? J differs:
      // vs 2 shares more shingles than vs 6? both differ by one trailing word ->
      // same J; best-match rule must pick the LOWER store id
      (1L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (3L, "totally unrelated text with no overlap whatsoever in any shingles here"),
      // in-batch copy of doc 3: must NOT be flagged (no in-batch pairs)
      (5L, "totally unrelated text with no overlap whatsoever in any shingles here")
    ).toDF("doc_id", "text")
    val full = Dedup.incrementalNearDup(batch, store, "text", "doc_id")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(full.map(_._1).toSeq == Seq(1L))      // only the true near-dup
    assert(full.head._2 == 2L)                   // tie on J -> lower store id
    assert(full.head._3 >= 0.5)
  }

  test("snapshotDiff classifies added, removed, changed, and unchanged") {
    val prev = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val cur = Seq((1L, "alpha"), (2L, "beta EDITED"), (4L, "delta")).toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(prev, cur, "text", "doc_id")
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"))
    // normalization-insensitive: whitespace-only edits are NOT changes
    val ws = Dedup.snapshotDiff(
      Seq((7L, "a  b")).toDF("doc_id", "text"),
      Seq((7L, " a b ")).toDF("doc_id", "text"), "text", "doc_id")
      .select("status").as[String].head()
    assert(ws == "unchanged")
  }

  test("sourceOverlapSketch: sub-k sketches are exact; k=64 estimates land near a planted 50% overlap") {
    import org.apache.spark.sql.functions.col
    // tiny sources (< k): everything exact, est_inter == exact_inter
    val tiny = (1 to 10).map(i => (s"t$i", "A")) ++ (6 to 15).map(i => (s"t$i", "B"))
    val tdf = tiny.toDF("text", "source")
    val trow = Dedup.sourceOverlapSketch(tdf, "text", "source", k = 16).collect().head
    assert(trow.getAs[Long]("exact_inter") == 5L)
    assert(trow.getAs[Double]("est_inter") == 5.0)
    assert(trow.getAs[Double]("est_union") == 15.0)
    // 400-element sources with 200 shared: k=64 estimator within 40%
    val big = (1 to 400).map(i => (s"doc $i", "A")) ++ (201 to 600).map(i => (s"doc $i", "B"))
    val row = Dedup.sourceOverlapSketch(big.toDF("text", "source"), "text", "source", k = 64)
      .collect().head
    val estInter = row.getAs[Double]("est_inter")
    assert(row.getAs[Long]("exact_inter") == 200L)
    assert(estInter > 120.0 && estInter < 280.0, s"est_inter $estInter vs 200")
    assert(math.abs(row.getAs[Double]("est_a") - 400.0) / 400.0 < 0.4)
  }

  test("stitchPairs: tail→head overlap pairs, direction-aware, short docs drop") {
    val docs = Seq(
      (1L, "a b c d e f"),        // tail-3 "d e f"
      (2L, "d e f g h i"),        // head-3 "d e f" -> 1 stitches into 2
      (3L, "x y z q r s"),        // no overlap with anything
      (4L, "d e f"),              // head-3 AND tail-3 "d e f"
      (5L, "p q")                 // too short for k=3: drops both sides
    ).toDF("doc_id", "text")
    val out = Dedup.stitchPairs(docs, "text", "doc_id", k = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().sorted.toSeq
    // 1→2 (tail of 1 = head of 2), 1→4, 4→2; NOT 2→1 (direction), no 5
    assert(out == Seq((1L, 2L), (1L, 4L), (4L, 2L)))
  }

  test("stitchPairs boundary fingerprint is the md24 of the shared boundary") {
    val docs = Seq((1L, "a b c"), (2L, "a b c z")).toDF("doc_id", "text")
    val row = Dedup.stitchPairs(docs, "text", "doc_id", k = 3).collect().head
    val h = java.security.MessageDigest.getInstance("MD5").digest("a b c".getBytes("UTF-8"))
    val want = ((h(0) & 0xffL) << 16) | ((h(1) & 0xffL) << 8) | (h(2) & 0xffL)
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((1L, 2L, want)))
  }

  test("answerContamination: normalized verbatim containment, empty answers dropped") {
    val corpus = Seq(
      (1L, "The Quick   Brown Fox jumps"),
      (2L, "prefix the quick brown fox jumps suffix"),
      (3L, "unrelated text entirely")).toDF("doc_id", "text")
    val answers = Seq((100L, "Quick  brown FOX"), (101L, "   ")).toDF("aid", "ans")
    val out = Dedup.answerContamination(corpus, "text", "doc_id", answers, "aid", "ans")
      .as[(Long, Long)].collect().toSet
    // case + whitespace normalization on BOTH sides; the blank answer
    // must not match everything
    assert(out == Set((100L, 1L), (100L, 2L)))
  }

  test("answerContamination broadcasts the answer side (nested-loop, corpus never shuffles)") {
    val corpus = (0L until 50L).map(i => (i, s"doc body $i filler")).toDF("doc_id", "text")
    val answers = Seq((1L, "body 7")).toDF("aid", "ans")
    val plan = Dedup.answerContamination(corpus, "text", "doc_id", answers, "aid", "ans")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("IntersectSortedSize merge equals size(array_intersect) on sorted-distinct arrays") {
    import org.apache.spark.sql.graft.{ColumnBridge => B}
    val rnd = new scala.util.Random(5)
    val rows = (1 to 300).map { _ =>
      def arr = Seq.fill(rnd.nextInt(30))(s"t${rnd.nextInt(40)}").distinct.sorted
      (arr, arr)
    }.toDF("xa", "xb")
    def kernel(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      B.column(graft.plans.IntersectSortedSize(B.expression(a), B.expression(b)))
    // compare the two counts row by row
    val bad = rows.select(kernel(col("xa"), col("xb")).as("k"),
      size(array_intersect(col("xa"), col("xb"))).as("c"))
      .where(col("k") =!= col("c")).count()
    assert(bad == 0L)
    // long-element variant
    val lrows = (1 to 200).map { _ =>
      (Seq.fill(rnd.nextInt(25))(rnd.nextInt(50).toLong).distinct.sorted,
        Seq.fill(rnd.nextInt(25))(rnd.nextInt(50).toLong).distinct.sorted)
    }.toDF("xa", "xb")
    val badL = lrows.select(kernel(col("xa"), col("xb")).as("k"),
      size(array_intersect(col("xa"), col("xb"))).as("c"))
      .where(col("k") =!= col("c")).count()
    assert(badL == 0L)
  }

  test("prefixJaccardPairs: full recall vs brute force at every tested threshold") {
    // deterministic pseudo-random corpus: token vocab of 30, docs of
    // 3..12 tokens — small enough to brute-force, varied enough to
    // exercise prefix lengths from 1 to |d|
    val docs = (0L until 40L).map { i =>
      val n = 3 + (i * 7 % 10).toInt
      val toks = (0 until n).map(j => s"t${(i * 13 + j * j * 5 + 3) % 30}")
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val tokenSets = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty).toSet }
      .toMap
    for ((tNum, tDen) <- Seq((1, 2), (3, 10), (4, 5))) {
      val brute = (for {
        a <- tokenSets.keys; b <- tokenSets.keys if a < b
        inter = (tokenSets(a) & tokenSets(b)).size
        uni = (tokenSets(a) | tokenSets(b)).size
        if inter * tDen >= uni * tNum
      } yield (a, b, inter.toLong)).toSet
      val got = Dedup.prefixJaccardPairs(docs, "text", "doc_id", tNum, tDen)
        .select("a", "b", "n_common").as[(Long, Long, Long)].collect().toSet
      assert(got == brute, s"threshold $tNum/$tDen: got ${got.size}, brute ${brute.size}")
    }
  }

  test("prefixJaccardPairs over shingles: full recall vs brute-force shingle sets") {
    val docs = (0L until 30L).map { i =>
      val n = 5 + (i * 7 % 8).toInt
      val toks = (0 until n).map(j => s"t${(i * 13 + j * j * 5 + 3) % 12}")
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val sets = docs.as[(Long, String)].collect().map { case (id, t) =>
      val toks = t.split("\\s+").filter(_.nonEmpty)
      id -> toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty).toMap
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      uni = (sets(a) | sets(b)).size
      if inter * 10 >= uni * 3
    } yield (a, b, inter.toLong)).toSet
    val got = Dedup.prefixJaccardPairs(docs, "text", "doc_id", 3, 10, shingleK = 2)
      .select("a", "b", "n_common").as[(Long, Long, Long)].collect().toSet
    assert(got == brute, s"got ${got.size}, brute ${brute.size}")
  }

  test("prefixJaccardPairs candidates join only prefix tokens (plan has no cross join)") {
    val docs = (0L until 30L).map(i => (i, s"a b c d tok$i")).toDF("doc_id", "text")
    val plan = Dedup.prefixJaccardPairs(docs, "text", "doc_id", 1, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
