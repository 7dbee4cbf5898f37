package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.functions._

import graft.plans.{BandHashes, ContainmentSorted, JaccardSorted, MinHashSignature, ShingleHashes, SimHash64}
import graft.operators.Materialize.MatOps

/** Deduplication operators.
  *
  * `latestByKey` is the engine's replacement for the reference's
  * ReplacingMergeTree + `OPTIMIZE TABLE ... FINAL` storage-side dedup
  * (`/root/reference/migrations/clickhouse/000001_create_table_issues.up.sql:41-45`,
  * `services/clickhouse.py:125-128`): an explicit latest-version-per-key
  * operator applied before the sink, making re-runs idempotent.
  *
  * The LLM-corpus near-dup family (exact / MinHash-LSH / SimHash / n-gram
  * Jaccard) is designed for 100 TB scale: candidate generation is always
  * bucketed (LSH bands, fingerprint chunks, blocking keys) — never an
  * all-pairs cross join. The only shuffles are one hash-aggregate per
  * signature build and one equi-join on bucket keys.
  */
object Dedup {

  /** Keep the max-`version` row per key with `max_by(struct(*), version)`.
    * The struct makes the aggregation buffer variable-width, so Spark
    * plans a sort-based aggregate, not a hash aggregate: sort on the keys,
    * partial `SortAggregate`, hash exchange on the keys, sort, final
    * `SortAggregate`. The partial pass combines each key's rows before the
    * shuffle, which pays off when keys repeat within a partition. Input
    * already clustered on a subset of the keys skips the exchange, and
    * both passes then run after a single sort.
    */
  def latestByKey(df: DataFrame, keys: Seq[String], versionCols: Seq[String]): DataFrame = {
    val all = struct(df.columns.map(col).toSeq: _*)
    val version = struct(versionCols.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(all, version).as("_latest"))
      .select(df.columns.map(c => col(s"_latest.$c")).toSeq: _*)
  }

  /** Exact near-dup: fingerprint = md5 of whitespace-normalized lowered
    * text. One hash aggregate; canonical doc = min id per fingerprint.
    */
  def exactFingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol), exactFingerprint(col(textCol)).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** Incremental (cross-run) exact dedup — the periodic-refresh shape of
    * a production corpus: a new batch arrives, everything whose content
    * fingerprint was already ingested in ANY prior run is dropped, and
    * within the batch itself only each fingerprint's canonical (min-id)
    * row survives. `seenFingerprints` is the persisted fingerprint store
    * (one slim column, written by previous runs).
    *
    * Plan shape at 100 TB: one `left_anti` hash join against the store
    * (fingerprints only — the batch's text never joins) and the one
    * in-batch window; when the store is small relative to the batch AQE
    * broadcasts it, otherwise both sides hash-exchange on the
    * fingerprint — either way no row amplification anywhere. The
    * streaming twin is [[graft.streaming.EventStream.firstSeen]], which
    * holds the same store as state-store entries.
    */
  def incrementalDedup(batch: DataFrame, seenFingerprints: DataFrame,
                       textCol: String, idCol: String): DataFrame = {
    val fp = batch.withColumn("fingerprint", exactFingerprint(col(textCol)))
    val novel = fp.join(
      seenFingerprints.select(col("fingerprint")).distinct(),
      Seq("fingerprint"), "left_anti")
    novel
      .withColumn("_canon",
        min(col(idCol)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("fingerprint"))))
      .where(col(idCol) === col("_canon"))
      .drop("_canon")
  }

  /** One full periodic-refresh run of cross-run dedup against the
    * persisted fingerprint store ([[graft.state.FingerprintStore]]):
    * load the seen-set, drop the batch's already-ingested and in-batch
    * duplicate rows ([[incrementalDedup]]), hand the survivors to
    * `write` (the downstream sink), then — only after the write
    * returned — COMMIT the survivors' fingerprints to the store. The
    * ordering is the watermark discipline of
    * [[graft.pipeline.IssuePipeline]] applied to content identity: a
    * crash between write and commit re-emits documents on the re-run
    * (collapsed downstream by [[latestByKey]]-style dedup) instead of
    * silently losing them forever.
    *
    * The survivors are pinned with [[Materialize.cutPinned]] — an eager
    * `localCheckpoint`, the one site where a persist cut is FORBIDDEN:
    * the survivors' plan scans
    * the store parquet at `storeDir`, and the commit below writes to
    * that same path, so a persist cut (lineage retained) would trigger
    * `CacheManager.recacheByPath` on the append and recompute the
    * cached survivors against the just-updated store — every batch
    * fingerprint is then "seen" and the returned frame collapses to 0
    * rows. Only true lineage truncation removes the store scan from the
    * plan; resilience-via-recompute is precisely the hazard in a
    * read-modify-the-thing-you-read cycle.
    */
  def incrementalDedupRun(batch: DataFrame, storeDir: String,
                          textCol: String, idCol: String)
                         (write: DataFrame => Unit): DataFrame = {
    val spark = batch.sparkSession
    val seen = graft.state.FingerprintStore.load(spark, storeDir)
    val novel = Materialize.cutPinned(incrementalDedup(batch, seen, textCol, idCol))
    write(novel)
    graft.state.FingerprintStore.append(novel.select(col("fingerprint")), storeDir)
    novel
  }

  /** Content diff between two corpus snapshots — the ingest-monitoring
    * query every scheduled pipeline runs after a crawl refresh: per id,
    * whether the document was `added` (only in `current`), `removed`
    * (only in `previous`), `changed` (both, different content
    * fingerprint), or `unchanged`. Joins SLIM (id, fingerprint)
    * projections — at 100 TB the text never moves, only a 16-byte md5
    * per document — with a single full outer equi-join on the id (both
    * sides hash-partition on the same key; no broadcast needed and
    * none possible, both sides are corpus-sized). Downstream: `added ∪
    * changed` is exactly the incremental work set to re-embed /
    * re-score, `removed` the tombstone set to propagate.
    */
  def snapshotDiff(previous: DataFrame, current: DataFrame,
                   textCol: String, idCol: String): DataFrame = {
    def slim(df: DataFrame, fp: String) =
      df.select(col(idCol), exactFingerprint(col(textCol)).as(fp))
    slim(previous, "fp_prev")
      .join(slim(current, "fp_cur"), Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("fp_prev").isNull, lit("added"))
          .when(col("fp_cur").isNull, lit("removed"))
          .when(col("fp_prev") =!= col("fp_cur"), lit("changed"))
          .otherwise(lit("unchanged")))
  }

  /** Cross-run NEAR-dup — [[incrementalDedup]]'s exact-fingerprint
    * anti-join misses a re-crawl that changed one sentence; this is the
    * minhash analog: flag each batch document whose best stored
    * near-match clears `threshold`, returning (`batch_id`, `store_id`,
    * `jaccard`) with the deterministic best-match rule (highest
    * Jaccard, ties to the lowest store id). The store side is whatever
    * prior runs persisted — at scale a signature/shingle table, not
    * re-tokenized text.
    *
    * Plan: both sides build shingle hashes ONCE (cut; the hash array
    * feeds the signature kernel AND the verification merge), banding
    * buckets join ACROSS sides only (batch×store — no in-batch or
    * in-store pairs, which is what makes this incremental rather than
    * a corpus self-dedup), candidates verify with the
    * [[graft.plans.JaccardSorted]] linear merge, and the best match is
    * one `max(struct)` hash aggregate — no window sort. Banding recall
    * at the threshold follows the (bands, rows) S-curve measured by
    * `minhash_banding`.
    */
  def incrementalNearDup(batch: DataFrame, store: DataFrame, textCol: String, idCol: String,
                         threshold: Double = 0.5, k: Int = 3, numHashes: Int = 128,
                         bands: Int = 32): DataFrame = {
    def prep(df: DataFrame) = Materialize.cut(
      df.select(col(idCol), shingleHashes(col(textCol), k).as("_sh"))
        .where(size(col("_sh")) > 0))
    val b = prep(batch)
    val st = prep(store)
    def buckets(df: DataFrame, idAs: String) =
      lshBuckets(minHashSignaturesFromHashes(df, "_sh", idCol, numHashes), idCol,
        bands, numHashes / bands)
        .select(col(idCol).as(idAs), col("band"), col("bucket"))
    val cand = buckets(b, "_bid").join(buckets(st, "_sid"), Seq("band", "bucket"))
      .select(col("_bid"), col("_sid")).distinct()
    cand
      .join(b.select(col(idCol).as("_bid"), col("_sh").as("_bsh")), Seq("_bid"))
      .join(st.select(col(idCol).as("_sid"), col("_sh").as("_ssh")), Seq("_sid"))
      .withColumn("jaccard", jaccardSorted(col("_bsh"), col("_ssh")))
      .where(col("jaccard") >= threshold)
      .groupBy(col("_bid").as("batch_id"))
      .agg(max(struct(col("jaccard").as("j"), (-col("_sid")).as("negid"),
        col("_sid").as("sid"))).as("m"))
      .select(col("batch_id"), col("m.sid").as("store_id"), col("m.j").as("jaccard"))
  }

  /** Quality-based canonical selection over near-dup clusters — the
    * "keep the BEST document per cluster" rule (C4 keeps the longest,
    * quality-filtered pipelines keep the highest-scoring) as opposed to
    * the arbitrary min-id canonical: for each `component` in
    * `membership` (`idCol`, `component` — e.g. [[simHashClusters]] /
    * [[minHashClusters]] output), pick the member with the highest
    * `scoreCol` (ties to the LOWEST id, so the choice is total).
    * Returns (`component`, `best_id`, `cluster_size`).
    *
    * One equi-join on the id and one map-side-combining `max_by` hash
    * aggregate — no per-cluster sort, no window, so a pathologically
    * large cluster costs its row count, not a single-task sort. Numeric
    * ids only (the tie-break negates the id inside the ordering struct).
    */
  def bestPerCluster(membership: DataFrame, scores: DataFrame,
                     idCol: String, scoreCol: String): DataFrame =
    membership
      .join(scores.select(col(idCol), col(scoreCol)), idCol)
      .groupBy(col("component"))
      .agg(
        max_by(col(idCol), struct(col(scoreCol), -col(idCol))).as("best_id"),
        count(lit(1)).as("cluster_size"))

  /** Cross-source duplicate overlap matrix — the "which sources mirror
    * each other" diagnostic that decides SOURCE-level curation (drop the
    * mirror, keep the origin) before any per-document pass: for every
    * unordered source pair, the number of distinct content fingerprints
    * present in BOTH. Returns (`source_a`, `source_b`, `n_shared`) with
    * `source_a < source_b`.
    *
    * Scale shape: one distinct over slim (fingerprint, source) pairs,
    * one self-equi-join ON the fingerprint — bucketed by content, so
    * join fan-out per fingerprint is (sources carrying it)², bounded by
    * the source count, never corpus-sized — and one count aggregate.
    * Text never shuffles.
    */
  def sourceOverlapMatrix(docs: DataFrame, textCol: String, sourceCol: String): DataFrame = {
    val fs = docs
      .select(exactFingerprint(col(textCol)).as("fingerprint"), col(sourceCol).as("_src"))
      .distinct()
      .materialized // feeds both join sides and the size table
    // distinct-content size per source: the denominator that turns a raw
    // shared count into the "is B a mirror of A" fraction
    val sizes = fs.groupBy(col("_src")).agg(count(lit(1)).as("_n"))
    fs.select(col("fingerprint"), col("_src").as("source_a"))
      .join(fs.select(col("fingerprint"), col("_src").as("source_b")), "fingerprint")
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("_src").as("source_a"), col("_n").as("n_docs_a")), "source_a")
      .join(sizes.select(col("_src").as("source_b"), col("_n").as("n_docs_b")), "source_b")
      // fraction of the SMALLER side's content that is shared — 1.0 means
      // one source is entirely contained in the other (a mirror)
      .withColumn("overlap_frac",
        col("n_shared").cast("double") / least(col("n_docs_a"), col("n_docs_b")).cast("double"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_docs_a"), col("n_docs_b"), col("overlap_frac"))
  }

  /** KMV-sketch cross-source overlap ESTIMATION — the bounded-memory
    * path [[sourceOverlapMatrix]]'s exact join cannot take at 100 TB
    * (the exact matrix moves every distinct (fingerprint, source) pair;
    * at petabyte scale each source's content set is billions of rows). A
    * theta-sketch-style estimate needs only `k` coins per source: the
    * union sketch of a pair is the k smallest of the two sketches'
    * coins (valid because each sketch holds its source's k smallest),
    * and |A∩B| follows by inclusion–exclusion, floored at 0. All
    * cardinalities live in the 24-bit coin space (md24 of the content
    * fingerprint; collisions are negligible below ~2²⁰ distinct docs
    * and the exact column uses the same space, so the harness compares
    * like with like). `exact_*` columns make every row its own
    * accuracy measurement — the estimator error is 1/√(k−1)-scale.
    *
    * Returns one row per source pair (source_a < source_b):
    * (source_a, source_b, exact_a, exact_b, exact_inter,
    * est_a, est_b, est_union, est_inter).
    *
    * Plan: one distinct over slim (source, coin) pairs, one window per
    * source (k rows kept each), then everything downstream is
    * sketch-sized (sources × k rows). The exact columns exist for the
    * harness; a production run at scale drops them and with them the
    * only corpus-sized join.
    */
  def sourceOverlapSketch(docs: DataFrame, textCol: String, sourceCol: String,
                          k: Int = 16): DataFrame = {
    require(k >= 2, s"k >= 2 required (the estimator divides by k-1), got $k")
    import org.apache.spark.sql.expressions.Window
    val coins = docs
      .select(col(sourceCol).as("source"),
        conv(substring(exactFingerprint(col(textCol)), 1, 6), 16, 10).cast("long").as("coin"))
      .distinct()
      .materialized // feeds the per-source window AND the exact-intersection join
    def estCol(n: Column, kth: Column): Column =
      when(n < k, n.cast("double"))
        .otherwise(lit((k - 1).toDouble) / ((kth + 1L).cast("double") / lit(16777216.0)))
    val ranked = coins
      .withColumn("rk", row_number().over(Window.partitionBy(col("source")).orderBy(col("coin"))))
      .withColumn("n_exact", count(lit(1)).over(Window.partitionBy(col("source"))))
    val perSource = ranked
      .groupBy(col("source"))
      .agg(max(col("n_exact")).as("n_exact"), max(when(col("rk") === k, col("coin"))).as("_kth"))
      .select(col("source"), col("n_exact"), estCol(col("n_exact"), col("_kth")).as("est"))
      .materializedEager // sources rows; consumed by the pair list twice
    val sketch = ranked.where(col("rk") <= k).select(col("source"), col("coin"))
      .materializedEager // sources x k rows; consumed by both union sides
    val pairList = perSource
      .select(col("source").as("source_a"), col("n_exact").as("exact_a"), col("est").as("est_a"))
      .crossJoin(perSource
        .select(col("source").as("source_b"), col("n_exact").as("exact_b"), col("est").as("est_b")))
      .where(col("source_a") < col("source_b"))
    val slimPairs = pairList.select(col("source_a"), col("source_b"))
    val unionCoins = slimPairs
      .join(sketch.withColumnRenamed("source", "source_a"), Seq("source_a"))
      .select(col("source_a"), col("source_b"), col("coin"))
      .union(slimPairs
        .join(sketch.withColumnRenamed("source", "source_b"), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("coin")))
      .distinct()
    val wP = Window.partitionBy(col("source_a"), col("source_b")).orderBy(col("coin"))
    val unionEst = unionCoins
      .withColumn("rk", row_number().over(wP))
      .withColumn("nu", count(lit(1)).over(Window.partitionBy(col("source_a"), col("source_b"))))
      .groupBy(col("source_a"), col("source_b"))
      .agg(max(col("nu")).as("_nu"), max(when(col("rk") === k, col("coin"))).as("_kthu"))
      .select(col("source_a"), col("source_b"), estCol(col("_nu"), col("_kthu")).as("est_union"))
    val exactInter = coins.select(col("coin"), col("source").as("source_a"))
      .join(coins.select(col("coin"), col("source").as("source_b")), Seq("coin"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("exact_inter"))
    pairList
      .join(unionEst, Seq("source_a", "source_b"))
      .join(exactInter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        col("exact_a"), col("exact_b"),
        coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
        col("est_a"), col("est_b"), col("est_union"),
        greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union")).as("est_inter"))
  }

  /** k-shingles from an already-materialized token-array column. Docs with
    * fewer than k tokens yield an EMPTY array (not `[null]` — a shared
    * null element would make all short docs mutual 100% "duplicates" once
    * hashed).
    */
  def shinglesFromTokens(toks: Column, k: Int): Column =
    array_distinct(filter(
      transform(sequence(lit(0), greatest(size(toks) - k, lit(0))), i =>
        when(size(toks) >= k, concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*))),
      x => x.isNotNull))

  /** Word k-shingles of a text column (distinct, order-preserving input).
    *
    * The tokenization is bound ONCE per row via a lambda variable
    * (`flatten(transform(array(split(..)), toks => ..))`): Spark does no
    * common-subexpression elimination inside higher-order-function
    * lambdas, so inlining `split` would re-run the regex split for every
    * `element_at` — measured 6× slower on the sf0.1 corpus.
    */
  def shingles(text: Column, k: Int): Column =
    flatten(transform(array(split(lower(trim(text)), "\\s+")), toks => shinglesFromTokens(toks, k)))

  /** Sorted distinct xxhash64 hashes of the word k-shingles, as ONE
    * codegen'd pass ([[graft.plans.ShingleHashes]]) — set-equal to
    * `transform(shingles(text, k), xxhash64)` (asserted in DedupSpec) but
    * ~an order of magnitude cheaper than the interpreted HOF pipeline,
    * and sorted so pair verification is a linear merge.
    */
  def shingleHashes(text: Column, k: Int): Column =
    ExpressionUtils.column(ShingleHashes(ExpressionUtils.expression(text), k))

  /** Exact Jaccard of two sorted distinct long arrays (linear merge, no
    * per-pair set allocation); null when both empty, like [[jaccard]].
    */
  def jaccardSorted(a: Column, b: Column): Column =
    ExpressionUtils.column(JaccardSorted(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** [[graft.plans.MinHashSignature]] over an arbitrary positive-hash
    * array column with CALLER-supplied permutation coefficients — the
    * evaluation-harness entry ([[graft.queries.LlmQueries.minhashAccuracy]])
    * that replays engine-portable md5 coins and LCG-generated
    * coefficients so a SQL oracle can regenerate the signature
    * bit-for-bit; the production path stays [[minHashSignatures]] with
    * its fixed xxhash64/seed-42 parameters.
    */
  def minHashSignatureExpr(hashes: Column, a: Seq[Long], b: Seq[Long],
                           p: Long, dom: Long): Column =
    ExpressionUtils.column(MinHashSignature(ExpressionUtils.expression(hashes), a, b, p, dom))

  /** Asymmetric containment |a∩b| / |a| of two sorted distinct long
    * arrays (same linear merge as [[jaccardSorted]]); null when `a` is
    * empty. See [[graft.plans.ContainmentSorted]].
    */
  def containmentSorted(a: Column, b: Column): Column =
    ExpressionUtils.column(ContainmentSorted(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Directed near-CONTAINMENT pairs — the doc-in-doc detector Jaccard
    * near-dup misses by construction (Broder 1997's containment vs
    * resemblance): a short document quoted wholesale inside a long one
    * has Jaccard ≈ |A|/|B| ≈ 0 but containment |A∩B|/|A| ≈ 1. Emits
    * (`a`, `b`, `containment`) where `a` is the CONTAINED candidate —
    * the smaller shingle set (ties directed by id) — and
    * `containment >= threshold`.
    *
    * Blocking mirrors [[graft.queries.LlmQueries]]'s exhaustive n-gram
    * baseline: in-block all-pairs on `blockCol` with the size-order
    * direction cutting the pair count in half and a `minShingles` floor
    * dropping trivia whose containment is noise. This is the in-block
    * exact baseline; at corpus scale the candidate generator is the
    * MinHash/LSH family ([[minHashPairs]] buckets), whose signatures
    * estimate containment as J·(|A|+|B|)/((1+J)·|A|) from the same
    * sketch — the verification join below then computes the exact value
    * on the hashed shingle arrays, so nothing here ever all-pairs the
    * corpus.
    */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
                       blockCol: String, k: Int = 2, threshold: Double = 0.8,
                       minShingles: Int = 5): DataFrame = {
    val g = docs.select(
      col(blockCol).as("_block"), col(idCol),
      shingleHashes(col(textCol), k).as("sh"))
      .where(size(col("sh")) >= minShingles)
      .materialized
    val l = g.select(col("_block"), col(idCol).as("a"), col("sh").as("sha"))
    val r = g.select(col("_block"), col(idCol).as("b"), col("sh").as("shb"))
    l.join(r, "_block")
      .where(col("a") =!= col("b"))
      .where(size(col("sha")) < size(col("shb")) ||
        (size(col("sha")) === size(col("shb")) && col("a") < col("b")))
      .withColumn("containment", containmentSorted(col("sha"), col("shb")))
      .where(col("containment") >= threshold)
      .select(col("a"), col("b"), col("containment"))
  }

  private val MinHashP = 2147483659L // prime > 2^31 (the shingle-hash domain)
  private val MinHashDom = 1L << 31

  /** Deterministic permutation coefficients, drawn below 2^31 so
    * `x · a + b < 2^62 + 2^31` never wraps a long under ANSI mode.
    */
  private def minHashCoefs(numHashes: Int): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(42)
    val coefs = Seq.fill(numHashes)((rnd.nextInt(Int.MaxValue - 1).toLong + 1, rnd.nextInt(Int.MaxValue).toLong))
    (coefs.map(_._1), coefs.map(_._2))
  }

  /** MinHash signature: `numHashes` permutations h_j(x) = (a_j·x + b_j) mod p
    * over xxhash64 shingle hashes — computed per row by the native codegen
    * expression [[graft.plans.MinHashSignature]], so the signature build is
    * SHUFFLE-FREE map work (the previous explode + numHashes-min hash
    * aggregate shuffled n·shingles rows; at corpus scale that exchange was
    * the whole operator's bottleneck). Docs with no shingles produce a null
    * signature and are dropped, matching the explode form's no-rows case.
    */
  def minHashSignatures(docs: DataFrame, textCol: String, idCol: String,
                        k: Int = 3, numHashes: Int = 128): DataFrame =
    minHashSignaturesFromHashes(
      docs.select(col(idCol), shingleHashes(col(textCol), k).as("_sh")), "_sh", idCol, numHashes)

  /** [[minHashSignatures]] from an already-computed sorted-distinct
    * shingle-hash column — lets [[minHashPairs]] derive signatures and
    * verification arrays from ONE shared hash projection.
    */
  def minHashSignaturesFromHashes(sh: DataFrame, hashCol: String, idCol: String,
                                  numHashes: Int = 128): DataFrame = {
    val (a, b) = minHashCoefs(numHashes)
    sh
      .select(
        col(idCol),
        ExpressionUtils.column(MinHashSignature(
          ExpressionUtils.expression(col(hashCol)), a, b, MinHashP, MinHashDom)).as("signature"))
      .where(col("signature").isNotNull)
  }

  /** Reference aggregate form of [[minHashSignatures]] (kept for
    * equivalence tests: explode + groupBy with `numHashes` min columns).
    */
  def minHashSignaturesAgg(docs: DataFrame, textCol: String, idCol: String,
                           k: Int = 3, numHashes: Int = 128): DataFrame = {
    val (as, bs) = minHashCoefs(numHashes)
    val exploded = docs
      .select(col(idCol), explode(shingles(col(textCol), k)).as("shingle"))
      .where(col("shingle").isNotNull)
      .select(col(idCol), pmod(xxhash64(col("shingle")), lit(MinHashDom)).as("x"))
    val mins = as.zip(bs).zipWithIndex.map { case ((a, b), j) =>
      min(pmod(col("x") * lit(a) + lit(b), lit(MinHashP))).as(s"h$j")
    }
    exploded.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(j => col(s"h$j")): _*).as("signature"))
  }

  /** LSH band buckets: signature → `bands` keys of `rows` consecutive
    * minhashes each. Docs sharing any band key are candidates. The band
    * keys come from one [[graft.plans.BandHashes]] kernel call
    * (bit-identical to the composed `hash(slice(..))` form on non-null
    * signatures, asserted in DedupSpec —
    * at bands=32 the composed column trees dominated the plan's codegen
    * size). Null signatures emit NO buckets; the composed form would
    * bucket them all together under `hash(null)` = the seed, making
    * null-signature docs mutual candidates of garbage — dropping them is
    * the deliberate contract, so it is enforced explicitly here.
    */
  def lshBuckets(sigs: DataFrame, idCol: String, bands: Int, rows: Int): DataFrame =
    sigs.where(col("signature").isNotNull).select(
      col(idCol),
      posexplode(ExpressionUtils.column(
        BandHashes(ExpressionUtils.expression(col("signature")), bands, rows))).as(Seq("band", "bucket")))

  /** All ordered pairs (a, b), a < b, of a pre-sorted array. Safe on
    * empty and singleton arrays (yields an empty array), so callers can
    * apply it unguarded inside expressions.
    */
  private def pairsOf(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids) - i - 1), y =>
        struct(x.as("a"), y.as("b")))))

  /** Candidate near-dup pairs: distinct SIGNATURES are banded and paired
    * bucket-locally, then expanded back to doc ids — never an all-pairs
    * comparison, and in ONE pass: both pair kinds (identical-signature
    * groups and distinct-signature bucket collisions) are emitted as
    * expansion units from a single consumption of the bucket aggregate,
    * so the physical plan is one linear pipeline — one signature
    * aggregate, one band-bucket aggregate. (The previous two-branch union
    * recomputed the post-shuffle half of the lineage per branch; AQE's
    * runtime stage cache reused the exchanges, but the duplicated final
    * aggregates and band stages were real cost, and stage reuse is an
    * optimization, not a guarantee.)
    *
    * Collapsing to distinct signatures first is the skew defense: an
    * exact-duplicate cluster (identical shingle sets ⇒ identical
    * signatures) collides in EVERY band by construction, which would put
    * the whole cluster in every bucket row and expand its O(m²) pairs once
    * per band. Collapsed, the cluster is ONE group element per bucket, its
    * within-cluster pairs are emitted exactly once (from band 0, where
    * every signature group appears exactly once), and bucket rows scale
    * with distinct-signature counts (bounded by the LSH collision rate).
    * The within-group expansion streams through posexplode + slice, so a
    * cluster of m exact dups peaks at O(m) per generated row, not an
    * O(m²) pair array in memory. `maxBucketGroups` caps the residual risk
    * of a degenerate band (hostile/boilerplate corpora): buckets with more
    * distinct signatures are skipped — a recall trade documented at the
    * call site, recoverable because a true near-dup pair has `bands` other
    * chances to collide. Returns distinct (a, b) with a < b.
    */
  def minHashCandidates(docs: DataFrame, textCol: String, idCol: String,
                        k: Int = 3, numHashes: Int = 128, bands: Int = 32,
                        maxBucketGroups: Int = 256): DataFrame =
    candidatesFromSignatures(
      minHashSignatures(docs, textCol, idCol, k, numHashes), idCol, numHashes, bands, maxBucketGroups)

  /** Candidate-pair core of [[minHashCandidates]], from a prebuilt
    * signature table (so callers can share the signature input's lineage
    * with other consumers).
    */
  private def candidatesFromSignatures(sigs: DataFrame, idCol: String, numHashes: Int,
                                       bands: Int, maxBucketGroups: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val grouped = sigs
      .groupBy(col("signature"))
      .agg(sort_array(collect_set(col(idCol))).as("ids"))
    val byBucket = lshBuckets(grouped, "ids", bands, numHashes / bands)
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(struct(element_at(col("ids"), 1).as("m"), col("ids").as("ids")))).as("gs"))

    // expansion units (ia, ib, self): self units pair ids WITHIN one
    // signature group (emitted once, from band 0); cross units pair two
    // distinct-signature groups colliding in a bucket (group id sets are
    // disjoint, so no pair is produced by both kinds)
    val withinUnits = transform(
      filter(col("gs"), g => (col("band") === 0) && (size(g.getField("ids")) > 1)),
      g => struct(g.getField("ids").as("ia"), g.getField("ids").as("ib"), lit(true).as("self")))
    val cappedGs = when(size(col("gs")) <= maxBucketGroups, col("gs"))
      .otherwise(slice(col("gs"), 1, 0))
    val crossUnits = transform(pairsOf(cappedGs), p =>
      struct(p.getField("a").getField("ids").as("ia"),
        p.getField("b").getField("ids").as("ib"), lit(false).as("self")))

    byBucket
      .select(explode(concat(withinUnits, crossUnits)).as("u"))
      .select(col("u.self").as("self"), col("u.ib").as("ib"),
        posexplode(col("u.ia")).as(Seq("i", "x")))
      // self units take only partners AFTER x (ids are sorted, so every
      // in-group pair appears once); cross units take the whole other group
      .select(col("x"), explode(when(col("self"),
        slice(col("ib"), col("i") + 2, size(col("ib")) - col("i") - 1))
        .otherwise(col("ib"))).as("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct()
  }

  /** Exact Jaccard similarity of two pre-distinct arrays; null when both
    * are empty (ANSI mode would otherwise abort the query on 0/0).
    */
  def jaccard(a: Column, b: Column): Column = {
    val union = size(array_distinct(concat(a, b)))
    when(union > 0, size(array_intersect(a, b)).cast("double") / union.cast("double"))
  }

  /** MinHash near-dup pairs verified with exact shingle Jaccard —
    * candidates from LSH buckets only. The verification join carries
    * xxhash64-hashed shingle arrays (8× smaller shuffle, long-array
    * intersections); Jaccard is identical absent 64-bit collisions.
    *
    * ONE pass over `docs` for the whole operator: the shingle-hash
    * projection is cut via [[Materialize]] and feeds the signature/LSH
    * candidate pipeline AND both sides of the verification join — the
    * previous form re-scanned the (column-pruned) input and re-ran the
    * shingle kernel once per consumer, 3× the operator's per-row CPU.
    * Under the `persist(MEMORY_AND_DISK)` cut the hash arrays
    * are materialized once (written once, read by three consumers) with
    * lineage intact, so a lost executor recomputes the lost blocks
    * instead of failing the job. Note the weaker row-identity guarantee
    * that buys: recomputation replays lineage, so a NON-deterministic
    * upstream (e.g. a round-robin repartition) can hand different rows
    * to the candidate pipeline vs the verification join after an
    * executor loss. Deterministic inputs (any pure projection of a
    * source read — every call site in this engine) are unaffected;
    * feed a non-deterministic upstream through
    * [[Materialize.cutPinned]] first to get the strong same-rows pin
    * back.
    */
  def minHashPairs(docs: DataFrame, textCol: String, idCol: String,
                   threshold: Double = 0.5, k: Int = 3,
                   numHashes: Int = 128, bands: Int = 32,
                   maxBucketGroups: Int = 256): DataFrame = {
    val sh = docs.select(col(idCol), shingleHashes(col(textCol), k).as("sh"))
      .materialized
    val sigs = minHashSignaturesFromHashes(sh, "sh", idCol, numHashes)
    val cands = candidatesFromSignatures(sigs, idCol, numHashes, bands, maxBucketGroups)
    cands
      // NO join hint here, deliberately: at verification scale the (id,
      // sh) side broadcasts (measured BroadcastHashJoin at sf0.1 — a
      // shuffle_hash hint would displace it and cost two exchanges,
      // measured slower); when the corpus outgrows the broadcast
      // threshold the planner falls back to SMJ, and the
      // prefixJaccardPairs finding (hash, don't sort, the payload side)
      // applies — revisit with preferSortMergeJoin=false at deploy time
      // rather than a hint that pessimizes the verified-small case.
      .join(sh.select(col(idCol).as("a"), col("sh").as("sha")), "a")
      .join(sh.select(col(idCol).as("b"), col("sh").as("shb")), "b")
      .withColumn("jaccard", jaccardSorted(col("sha"), col("shb")))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Per-document near-dup cluster labels over the MinHash-verified
    * Jaccard ≥ `threshold` graph — [[simHashClusters]]' contract-then-
    * cluster design applied to the engine's full-recall scale path:
    * exact-fingerprint groups (identical normalized text) contract to
    * their min-id representative BEFORE pair generation, sound because
    * [[exactFingerprint]] and [[shingles]] share the same normalization
    * (lower + whitespace collapse), so identical fingerprints mean
    * identical shingle sets — Jaccard 1 within the group, and every
    * cross-group pair decision depends only on the representative's
    * text. [[minHashPairs]] then runs on representatives only (an
    * exact-dup army costs ONE signature, one LSH row), star-contraction
    * CC resolves the rep graph, and labels map back through the
    * (fingerprint → rep) table. Returns (`idCol`, `component`),
    * component = the cluster's minimum member id; docs with null text
    * are absent (callers keep them as singletons via a left join).
    */
  def minHashClusters(docs: DataFrame, textCol: String, idCol: String,
                      threshold: Double = 0.5, k: Int = 3,
                      numHashes: Int = 128, bands: Int = 32,
                      maxBucketGroups: Int = 256, maxIter: Int = 20): DataFrame = {
    val keyed = docs
      .select(col(idCol), col(textCol).as("_text"), exactFingerprint(col(textCol)).as("_fp"))
      .where(col("_fp").isNotNull)
    // rep selection is a small aggregate + equi-join, NOT a window over
    // the corpus: a window would sort-shuffle every text byte, while the
    // (fingerprint → rep) table is one row per distinct content and the
    // two keyed scans are pure map work. Checkpointed: consumed by the
    // reps filter and the label map-back.
    val repMap = keyed.groupBy(col("_fp")).agg(min(col(idCol)).as("_rep"))
      .materializedEager
    val reps = keyed.join(repMap, "_fp")
      .where(col(idCol) === col("_rep"))
      .select(col(idCol), col("_text"))
    val pairs = minHashPairs(reps, "_text", idCol, threshold, k, numHashes, bands, maxBucketGroups)
    val comp = connectedComponents(pairs, "a", "b", maxIter)
      .withColumnRenamed("id", "_rep")
    keyed.select(col(idCol), col("_fp"))
      .join(repMap, "_fp")
      .join(comp, Seq("_rep"), "left")
      .select(col(idCol), coalesce(col("component"), col("_rep")).as("component"))
  }

  /** Benchmark decontamination: corpus documents whose shingle Jaccard
    * against ANY probe document (the eval/benchmark set) reaches
    * `threshold` — the cross-corpus variant of [[minHashPairs]], the
    * operation every training pipeline runs before training ("is any
    * train doc a near-copy of a test doc?"). Returns
    * (`corpus_id`, `probe_id`, `jaccard`).
    *
    * Scale shape: the probe set is orders of magnitude smaller than the
    * corpus (thousands of benchmark docs vs billions of train docs), so
    * the band-bucket join broadcasts the probe side; the corpus is never
    * self-joined and never all-pairs'd. Corpus signatures collapse to
    * distinct-signature groups first (same skew defense as
    * [[minHashCandidates]]: an exact-dup army is ONE group element per
    * band) and candidate dedup happens at GROUP level — a (group, probe)
    * collision in many bands costs one distinct row, not one per band per
    * member — before ids expand for verification.
    */
  def minHashDecontaminate(corpus: DataFrame, probe: DataFrame,
                           textCol: String, idCol: String,
                           threshold: Double = 0.5, k: Int = 3,
                           numHashes: Int = 128, bands: Int = 32): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val shC = corpus.select(col(idCol), shingleHashes(col(textCol), k).as("sh"))
      .materialized
    val shP = probe.select(col(idCol), shingleHashes(col(textCol), k).as("sh"))
      .materialized
    val rows = numHashes / bands
    val grouped = minHashSignaturesFromHashes(shC, "sh", idCol, numHashes)
      .groupBy(col("signature"))
      .agg(sort_array(collect_set(col(idCol))).as("ids"))
    val bC = lshBuckets(grouped, "ids", bands, rows)
    val bP = lshBuckets(minHashSignaturesFromHashes(shP, "sh", idCol, numHashes),
      idCol, bands, rows)
      .select(col("band"), col("bucket"), col(idCol).as("probe_id"))
    val cands = bC.join(broadcast(bP), Seq("band", "bucket"))
      .select(col("ids"), col("probe_id"))
      .distinct()
      .select(explode(col("ids")).as("corpus_id"), col("probe_id"))
    cands
      .join(shC.select(col(idCol).as("corpus_id"), col("sh").as("sha")), "corpus_id")
      .join(broadcast(shP.select(col(idCol).as("probe_id"), col("sh").as("shb"))), "probe_id")
      .withColumn("jaccard", jaccardSorted(col("sha"), col("shb")))
      .where(col("jaccard") >= threshold)
      .select(col("corpus_id"), col("probe_id"), col("jaccard"))
  }

  /** EXACT n-gram decontamination — the complement of the MinHash pass in
    * [[minHashDecontaminate]]: where that finds near-COPIES of probe docs,
    * this flags any corpus doc sharing even ONE word n-gram with the
    * probe/eval set (the GPT-3/Gopher-style "13-gram overlap" hygiene
    * rule — a single leaked benchmark answer inside an otherwise-unrelated
    * document is contamination a whole-document similarity test cannot
    * see). Returns (`corpus_id`, `n_shared_ngrams`) with the count of
    * DISTINCT contaminated n-grams per flagged doc; clean docs are absent.
    *
    * Scale shape: both sides build hashed n-gram SETS with the
    * shuffle-free [[shingleHashes]] kernel. The probe set (benchmarks:
    * thousands of docs vs billions in the corpus) is distinct-aggregated
    * and BROADCAST; the corpus side explodes to one row per n-gram but
    * consumes them in a map-side broadcast semi-join, so only HIT rows —
    * rare by construction — reach the one per-doc count aggregate. The
    * corpus is never shuffled by n-gram, never self-joined.
    */
  def ngramContamination(corpus: DataFrame, probe: DataFrame,
                         textCol: String, idCol: String, n: Int = 13): DataFrame = {
    val probeGrams = probe
      .select(explode(shingleHashes(col(textCol), n)).as("g"))
      .distinct()
    corpus
      .select(col(idCol).as("corpus_id"), explode(shingleHashes(col(textCol), n)).as("g"))
      .join(broadcast(probeGrams), "g")
      // shingleHashes is distinct-per-doc and probeGrams is globally
      // distinct, so the plain count IS the distinct shared-gram count
      .groupBy(col("corpus_id"))
      .agg(count(lit(1)).as("n_shared_ngrams"))
  }

  /** Eval-ANSWER substring decontamination: benchmark answer strings are
    * short (a date, a name, one sentence), so gram-level machinery is
    * the wrong granularity — the system-card-style audit scans the
    * corpus for documents containing the normalized answer text
    * VERBATIM. There is no equi-key for substring containment, so the
    * right plan is the one Spark picks when the build side broadcasts:
    * a BroadcastNestedLoopJoin with the eval-sized answer set shipped
    * to every executor and the containment predicate evaluated
    * map-locally against the streaming corpus — nothing shuffles, the
    * corpus is scanned once, and cost is |corpus| × |answers| substring
    * probes (the honest price; answer sets are thousands, not
    * millions — once they aren't, fall back to
    * [[ngramContaminationBloom]] granularity). Both sides normalize
    * whitespace + case so formatting differences don't hide a leak.
    * Returns the hit PAIRS (answer_id, doc_id) — quarantine joins want
    * the doc ids, audits aggregate them.
    */
  def answerContamination(corpus: DataFrame, textCol: String, idCol: String,
                          answers: DataFrame, ansIdCol: String, ansCol: String): DataFrame = {
    def norm(c: Column): Column = regexp_replace(lower(trim(c)), "\\s+", " ")
    val c = corpus.select(col(idCol).as("doc_id"), norm(col(textCol)).as("_ntext"))
    val a = answers.select(col(ansIdCol).as("answer_id"), norm(col(ansCol)).as("_ans"))
      .where(length(col("_ans")) > 0)
    c.join(broadcast(a), col("_ntext").contains(col("_ans")))
      .select(col("answer_id"), col("doc_id"))
  }

  /** [[ngramContamination]] for probe sets too large to broadcast as a
    * hash relation. The GPT-3-style 13-gram rule assumes the benchmark
    * gram set is small; once the "probe" side is itself large (every eval
    * suite + every held-out shard + licensed-content blocklists — easily
    * 10⁸ grams), a broadcast hash join ships ~16 bytes a gram and blows
    * the 8 GB broadcast cap. A Bloom filter of the same set is `numBits`
    * REGARDLESS of cardinality (default 32 Mbit = 4 MB for ~4M grams at
    * ~1% FPP), so the corpus-side explode is pruned map-side by a
    * bits-sized sieve instead, and only the rare might-contain survivors
    * reach an unhinted exact-confirm join that removes Bloom false
    * positives — the result is row-identical to [[ngramContamination]]
    * (both query rows share one DuckDB oracle). This is Spark's own
    * runtime-filter design (SPARK-32268's `BloomFilterAggregate` /
    * `BloomFilterMightContain`, the internal pair behind
    * `spark.sql.optimizer.runtimeFilter.bloomFilter`) applied explicitly:
    * the aggregate builds the filter distributed (partial filters merged
    * by OR), one bits-sized value returns to the driver, and the probe
    * predicate is codegen'd into the corpus scan's filter.
    *
    * Sizing is the caller's contract: `numBits` ≥ ~8×expected grams keeps
    * FPP ~2%; undersizing only costs confirm-join traffic, never
    * correctness.
    */
  def ngramContaminationBloom(corpus: DataFrame, probe: DataFrame,
                              textCol: String, idCol: String, n: Int = 13,
                              expectedGrams: Long = 4L * 1000 * 1000,
                              numBits: Long = 32L * 1024 * 1024): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    // Pinned eager checkpoint (NOT a persist cut): consumed by the
    // Bloom build AND the exact confirm — without a cut the probe
    // tokenization runs twice. cutPinned rather than cutEager because
    // the persist form measured a reproducible >=2x premium on this
    // whole operator at sf0.1 (median 5.9 s vs 2.6 s, 3-run isolated
    // A/B, round 11) — the slim gram set pays columnar cache encode +
    // an extra count() action, and the unhinted confirm join loses its
    // size estimate. Resilience cost is acceptable here: the operator
    // is already driver-synchronous (the filter returns to the driver
    // as one 4 MB value in the same breath), so re-running it after an
    // executor loss replays idempotent read-only lineage.
    val probeGrams = Materialize.cutPinned(probe
      .select(explode(shingleHashes(col(textCol), n)).as("g"))
      .distinct())
    val bfBytes = probeGrams
      .select(ExpressionUtils.column(
        new BloomFilterAggregate(
          ExpressionUtils.expression(col("g")),
          Literal(expectedGrams), Literal(numBits)).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    if (bfBytes == null) { // empty probe: nothing can be contaminated
      val s = corpus.sparkSession
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("corpus_id",
            corpus.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField("n_shared_ngrams",
            org.apache.spark.sql.types.LongType, nullable = false))))
    }
    val mightContain = ExpressionUtils.column(BloomFilterMightContain(
      Literal(bfBytes, BinaryType), ExpressionUtils.expression(col("g"))))
    corpus
      .select(col(idCol).as("corpus_id"), explode(shingleHashes(col(textCol), n)).as("g"))
      .where(mightContain)
      // exact confirm, deliberately UNhinted: survivors are rare by
      // construction, AQE picks the strategy; at probe scales where this
      // variant matters the probe side must not be forced broadcast
      .join(probeGrams, "g")
      .groupBy(col("corpus_id"))
      .agg(count(lit(1)).as("n_shared_ngrams"))
  }

  /** SimHash fingerprint, `bits` wide (default 48, max 60), from the first
    * `bits/4` hex chars of md5 over distinct whitespace tokens: token hash
    * = the hex prefix parsed as a long, bit j of the fingerprint is the
    * sign of Σ_tokens (bit_j(tokenHash) ? +1 : −1). Computed per row by
    * the native codegen expression [[graft.plans.SimHash64]] — shuffle-free
    * map work (the aggregate form, kept as [[simHashAgg]], shuffles
    * n·tokens rows through a `bits`-column hash aggregate).
    *
    * 48 bits (not 16) matters at scale: the pigeonhole candidate join
    * buckets on `bits/chunks`-wide chunk values, so the bucket-key domain
    * is chunks·2^(bits/chunks) — 4·4096 at the default vs the 64 buckets a
    * 16-bit fingerprint gives, which degenerates to ~n²/64 candidate pairs.
    */
  def simHash(docs: DataFrame, textCol: String, idCol: String, bits: Int = 48): DataFrame =
    docs
      .select(
        col(idCol),
        ExpressionUtils.column(SimHash64(ExpressionUtils.expression(col(textCol)), bits)).as("simhash"))
      .where(col("simhash").isNotNull)

  /** Reference aggregate form of [[simHash]] (kept for equivalence tests:
    * explode distinct tokens + `bits` sum-aggregates — a full shuffle the
    * per-row expression avoids).
    */
  def simHashAgg(docs: DataFrame, textCol: String, idCol: String, bits: Int = 48): DataFrame = {
    require(bits % 4 == 0 && bits <= 60, "bits must be a multiple of 4, <= 60 (hex-prefix long parse)")
    val toks = docs.select(
      col(idCol),
      explode(array_distinct(split(lower(trim(col(textCol))), "\\s+"))).as("tok"))
      .select(col(idCol), graft.plans.Md5Prefix.of(col("tok"), bits / 4).as("th"))
    val sums = (0 until bits).map { j =>
      sum(when(shiftright(col("th"), j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$j")
    }
    toks.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
      .select(
        col(idCol),
        (0 until bits)
          .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup candidates by the pigeonhole trick: split the
    * fingerprint into `chunks` pieces; pairs within Hamming distance
    * `chunks - 1` must agree on at least one chunk → bucket per chunk
    * value, pair bucket-locally, exact Hamming filter. No all-pairs
    * comparison — and ONE pass, mirroring [[minHashCandidates]]: the
    * fingerprint-group aggregate is consumed exactly once (the previous
    * within/left/right three-branch form rebuilt the whole scan →
    * fingerprint → collect_set lineage per branch — 3× the operator's
    * most expensive stage). Both pair kinds are expansion units from one
    * chunk-bucket aggregate: Hamming-0 pairs within a fingerprint group
    * come from chunk 0 (where every group appears exactly once), and a
    * distinct-fingerprint pair is emitted only from its FIRST agreeing
    * chunk — computable per pair from the XOR of the two fingerprints —
    * so every output pair is produced exactly once and no terminal
    * distinct/dropDuplicates shuffle is needed at all.
    *
    * Collapsing to distinct fingerprints first is the skew defense (an
    * exact-dup cluster is ONE group element per bucket, its id pairs
    * expanded streamingly via posexplode + slice, O(m) per generated
    * row). `maxBucketGroups` bounds the residual degenerate-bucket risk
    * like [[minHashCandidates]]: a chunk bucket with more distinct
    * fingerprints is skipped. The pigeonhole guarantee (output = ALL
    * pairs at Hamming ≤ maxHamming) holds as long as no bucket trips the
    * cap; a tripped bucket loses the pairs it would have emitted (those
    * whose FIRST agreeing chunk it is) — the documented recall trade for
    * hostile boilerplate corpora where one 12-bit chunk value covers
    * millions of distinct fingerprints. The 2048 default clears the sf0.1
    * corpus's worst bucket (797 groups) with 2.5× headroom while still
    * bounding a degenerate bucket's group-pair scan at ~2M comparisons.
    */
  def simHashPairs(docs: DataFrame, textCol: String, idCol: String,
                   bits: Int = 48, chunks: Int = 4, maxHamming: Int = 3,
                   maxBucketGroups: Int = 2048): DataFrame = {
    require(maxHamming < chunks,
      s"pigeonhole candidates are only lossless for maxHamming < chunks (got $maxHamming >= $chunks)")
    require(bits % chunks == 0,
      s"bits must be divisible by chunks or the top bits escape every chunk (got $bits % $chunks)")
    val chunkBits = bits / chunks
    val mask = (1L << chunkBits) - 1
    val fpg = simHash(docs, textCol, idCol, bits)
      .groupBy(col("simhash"))
      .agg(sort_array(collect_set(col(idCol))).as("ids"))
    val byChunk = fpg
      .select(col("simhash"), col("ids"),
        posexplode(array((0 until chunks).map(c =>
          shiftright(col("simhash"), c * chunkBits).bitwiseAND(lit(mask))): _*)).as(Seq("c", "v")))
      .groupBy(col("c"), col("v"))
      .agg(sort_array(collect_list(struct(col("simhash").as("fp"), col("ids").as("ids")))).as("gs"))

    // chunk index of the lowest agreeing (all-zero-XOR) chunk; non-null
    // for every pair at Hamming <= maxHamming < chunks by pigeonhole
    def firstAgreeingChunk(x: Column): Column =
      coalesce((0 until chunks).map(c =>
        when(shiftright(x, c * chunkBits).bitwiseAND(lit(mask)) === 0, lit(c))): _*)

    val withinUnits = transform(
      filter(col("gs"), g => (col("c") === 0) && (size(g.getField("ids")) > 1)),
      g => struct(g.getField("ids").as("ia"), g.getField("ids").as("ib"),
        lit(0).as("hamming"), lit(true).as("self")))
    val cappedGs = when(size(col("gs")) <= maxBucketGroups, col("gs"))
      .otherwise(slice(col("gs"), 1, 0))
    // The Hamming + first-chunk filter runs INSIDE the pair generation
    // (filter over the tail slice, before any struct is built), so the
    // O(g²) candidate scan materializes only surviving pairs — never a
    // full g² pair array per bucket row.
    def xorG(g: Column, h: Column): Column = g.getField("fp").bitwiseXOR(h.getField("fp"))
    val crossUnits = flatten(transform(cappedGs, (g, i) =>
      transform(
        filter(slice(cappedGs, i + 2, size(cappedGs) - i - 1), h =>
          (bit_count(xorG(g, h)) <= maxHamming) && (firstAgreeingChunk(xorG(g, h)) === col("c"))),
        h => struct(g.getField("ids").as("ia"), h.getField("ids").as("ib"),
          bit_count(xorG(g, h)).as("hamming"), lit(false).as("self")))))

    byChunk
      .select(explode(concat(withinUnits, crossUnits)).as("u"))
      .select(col("u.self").as("self"), col("u.ib").as("ib"), col("u.hamming").as("hamming"),
        posexplode(col("u.ia")).as(Seq("i", "x")))
      // self units take only partners AFTER x (ids are sorted, so every
      // in-group pair appears once); cross units take the whole other group
      .select(col("x"), col("hamming"), explode(when(col("self"),
        slice(col("ib"), col("i") + 2, size(col("ib")) - col("i") - 1))
        .otherwise(col("ib"))).as("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"), col("hamming"))
  }

  /** Word n-grams as distinct strings (for n-gram Jaccard dedup). */
  def wordNgrams(text: Column, n: Int): Column = shingles(text, n)

  /** Distinct-fingerprint near-dup pairs at REPRESENTATIVE level: the
    * same pigeonhole chunk-bucket pipeline as [[simHashPairs]], but each
    * fingerprint participates as a single node (its `rep` = the minimum
    * member id), and no id-level expansion happens at all. Input is the
    * (simhash, rep) table; output is (ra, rb) — each qualifying
    * distinct-fingerprint pair exactly once (first-agreeing-chunk rule,
    * no terminal distinct).
    */
  private def simHashRepPairs(fpRep: DataFrame, bits: Int, chunks: Int,
                              maxHamming: Int, maxBucketGroups: Int): DataFrame = {
    val chunkBits = bits / chunks
    val mask = (1L << chunkBits) - 1
    val byChunk = fpRep
      .select(col("simhash"), col("rep"),
        posexplode(array((0 until chunks).map(c =>
          shiftright(col("simhash"), c * chunkBits).bitwiseAND(lit(mask))): _*)).as(Seq("c", "v")))
      .groupBy(col("c"), col("v"))
      .agg(sort_array(collect_list(struct(col("simhash").as("fp"), col("rep").as("rep")))).as("gs"))
    def firstAgreeingChunk(x: Column): Column =
      coalesce((0 until chunks).map(c =>
        when(shiftright(x, c * chunkBits).bitwiseAND(lit(mask)) === 0, lit(c))): _*)
    val cappedGs = when(size(col("gs")) <= maxBucketGroups, col("gs"))
      .otherwise(slice(col("gs"), 1, 0))
    def xorG(g: Column, h: Column): Column = g.getField("fp").bitwiseXOR(h.getField("fp"))
    val units = flatten(transform(cappedGs, (g, i) =>
      transform(
        filter(slice(cappedGs, i + 2, size(cappedGs) - i - 1), h =>
          (bit_count(xorG(g, h)) <= maxHamming) && (firstAgreeingChunk(xorG(g, h)) === col("c"))),
        h => struct(g.getField("rep").as("ra"), h.getField("rep").as("rb")))))
    byChunk.select(explode(units).as("u")).select(col("u.ra").as("ra"), col("u.rb").as("rb"))
  }

  /** Per-document near-dup cluster labels over the SimHash Hamming ≤
    * `maxHamming` graph: (`idCol`, `component`) with `component` = the
    * smallest member id of the document's cluster — semantically
    * identical to [[connectedComponents]] over [[simHashPairs]], but
    * built the way 100 TB requires: exact-fingerprint cliques are
    * CONTRACTED before the graph stage. Identical fingerprints are
    * pairwise Hamming-0, so the doc-level and distinct-fingerprint-level
    * component structures coincide — yet a corpus with million-member
    * exact-dup clusters (the motivating case for dedup) would expand
    * O(m²) doc pairs per clique under the pair-then-contract order,
    * while this order pays one `min` hash-aggregate per fingerprint
    * group, runs star-contraction on the tiny representative graph, and
    * maps labels back through the (simhash → rep) table with equi-joins.
    * Documents whose text yields no fingerprint (null text) are absent
    * from the output — callers keep them as singletons via a left join.
    */
  def simHashClusters(docs: DataFrame, textCol: String, idCol: String,
                      bits: Int = 48, chunks: Int = 4, maxHamming: Int = 3,
                      maxBucketGroups: Int = 2048, maxIter: Int = 20): DataFrame = {
    require(maxHamming < chunks && bits % chunks == 0,
      s"pigeonhole clustering needs maxHamming < chunks and chunks | bits (got $maxHamming/$chunks/$bits)")
    // both eagerly materialized: fp feeds the rep aggregate AND the
    // label map-back join (without the checkpoint the scan → simhash
    // kernel pass runs twice), and fpRep feeds the pair builder AND the
    // join (without it the rep aggregate runs twice)
    val fp = simHash(docs, textCol, idCol, bits).materializedEager
    val fpRep = fp.groupBy(col("simhash")).agg(min(col(idCol)).as("rep"))
      .materializedEager
    val comp = connectedComponents(
      simHashRepPairs(fpRep, bits, chunks, maxHamming, maxBucketGroups), "ra", "rb", maxIter)
      .withColumnRenamed("id", "rep")
    // reps never reached by a cross-fingerprint pair label their group
    // themselves (an exact-dup clique IS its cluster, no CC needed)
    fp.join(fpRep, "simhash")
      .join(comp, Seq("rep"), "left")
      .select(col(idCol), coalesce(col("component"), col("rep")).as("component"))
  }

  /** Connected components of an undirected pair graph — the last stage of
    * a corpus dedup pass: near-dup PAIRS (from [[minHashPairs]] /
    * [[simHashPairs]] / [[embeddingCosinePairs]]) are resolved into
    * CLUSTERS so one canonical document per cluster can be kept. Returns
    * one row per node that appears in `pairs`: (`id`, `component`) with
    * `component` = the smallest node id in the connected component. Ids
    * must be integral (corpus dedup ids are; hash string keys through
    * `xxhash64` first).
    *
    * Algorithm: alternating large-star / small-star rounds (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * published scale-out CC algorithm, converging in O(log² n) rounds on
    * adversarial graphs and 2-4 rounds on real dedup graphs (dense
    * near-clique duplicate clusters have diameter ~1-2). Label
    * propagation by repeated join would need diameter rounds (a
    * pathological chain of borderline near-dups makes that linear);
    * star-contraction is the 100 TB-safe choice. Large-star is also the
    * skew story: a super-node's neighbors re-attach to the component min
    * in one round, so no per-key list ever exceeds the component size.
    *
    * The loop body deliberately drops from DataFrames to
    * `RDD[(Long, Long)]` — the documented exception ("genuine iterative
    * logic") and the reason GraphX/GraphFrames CC is RDD-based: a
    * DataFrame fixpoint loop pays Catalyst analysis + whole-stage
    * codegen PER ROUND (measured ~1-2 s/round of pure driver time on
    * this corpus, 4× the actual data movement), and checkpoint-truncates
    * lineage to keep plans bounded. The RDD loop has ~0 driver cost per
    * round, and a fixed `HashPartitioner` makes every `groupByKey`
    * land co-partitioned, with per-partition `HashSet` dedup replacing
    * a `distinct` shuffle and a narrow `zipPartitions` set-compare
    * replacing an `except` job for the exact convergence check. Rounds
    * persist MEMORY_AND_DISK with lineage intact, so executor loss
    * recomputes instead of failing (strictly better than the
    * localCheckpoint a DataFrame loop would force).
    *
    * Adaptive small-graph path: when the measured edge count (already
    * computed for partition sizing) is ≤ `driverEdgeLimit`, the edges
    * collect to the driver and one union-find pass labels them — the
    * same runtime-statistics-driven plan switch AQE applies to joins. A
    * contracted dedup graph is usually orders of magnitude smaller than
    * its corpus, and below the cutoff the RDD loop's per-round job
    * overhead (3-6 jobs × rounds) dwarfs the actual work; 250k edges is
    * ~4 MB of longs, far under any driver budget. Results are identical
    * (union-by-min + path halving yields component minima); graphs
    * above the cutoff take the distributed loop unchanged.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20, driverEdgeLimit: Long = 250000L): DataFrame = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val spark = pairs.sparkSession
    import spark.implicits._

    val init = pairs
      .select(least(col(aCol), col(bCol)).as("_a0"), greatest(col(aCol), col(bCol)).as("_b0"))
      // try_cast + null-filter AFTER: a non-integral id must drop here —
      // a plain ANSI cast would abort the job, and filtering before the
      // cast would NPE in the tuple decode instead
      .selectExpr("try_cast(_a0 AS LONG) AS a", "try_cast(_b0 AS LONG) AS b")
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .as[(Long, Long)].rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    // AQE-style partition sizing from the measured edge count (the count
    // also materializes the upstream pair generation exactly once): the
    // contracted graphs this operator sees are orders of magnitude
    // smaller than their corpora, and an iterative loop pays per-round
    // task-scheduling overhead on every empty partition — ~250k edges
    // (~4 MB of longs) per partition keeps the per-partition HashSets
    // small while collapsing toy graphs to single-task rounds
    val nEdges = init.count()
    if (nEdges <= driverEdgeLimit) {
      val collected = init.collect()
      init.unpersist(blocking = false)
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      for ((a, b) <- collected) {
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a)
        val rb = find(b)
        // union by MIN: the smaller root wins, so every root is its
        // component's minimum id by induction
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      return parent.keys.toSeq.map(v => (v, find(v))).toDF("id", "component")
    }
    val part = new HashPartitioner(
      math.max(1, math.min(init.getNumPartitions, ((nEdges + 249999) / 250000).toInt)))
    // co-partitioned + per-partition Set = global distinct without a
    // second shuffle (duplicates of a key all land in its partition)
    def dedupByKey(r: RDD[(Long, Long)]): RDD[(Long, Long)] =
      r.partitionBy(part).mapPartitions({ it =>
        val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
        it.filter(seen.add)
      }, preservesPartitioning = true)

    var edges = dedupByKey(init).persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.flatMap { case (a, b) => Iterator(a, b) }
      .distinct(part.numPartitions).persist(StorageLevel.MEMORY_AND_DISK)
    // materialize now, while the round-0 edge set is still persisted:
    // the final labeling job otherwise re-runs the whole upstream pair
    // generation just to recover the node set. This job also fills the
    // edges cache, after which the raw pair blocks can go.
    nodes.foreachPartition(_ => ())
    init.unpersist(blocking = false)

    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // large-star: every neighbor v > u links to m = min(Γ(u) ∪ {u});
      // every edge is processed exactly once, from its smaller endpoint
      val ls = edges
        .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
        .groupByKey(part)
        .flatMap { case (u, nbrs) =>
          var m = u
          nbrs.foreach(v => if (v < m) m = v)
          nbrs.iterator.filter(_ > u).map(v => (v, m))
        }
      // small-star: u and every smaller neighbor link to m = min(N⁻(u));
      // ls emits (v, m) with v > m strictly, so orientation is free
      val ss = ls
        .groupByKey(part)
        .flatMap { case (u, nbrs) =>
          var m = u
          nbrs.foreach(v => if (v < m) m = v)
          val seen = scala.collection.mutable.HashSet(m)
          Iterator.single((u, m)) ++ nbrs.iterator.filter(seen.add).map(v => (v, m))
        }
      val next = dedupByKey(ss).persist(StorageLevel.MEMORY_AND_DISK)
      // exact fixpoint check (edge set unchanged), one narrow job: both
      // sides are distinct and share `part`, so per-partition equality
      // is global equality
      converged = edges.zipPartitions(next) { (ita, itb) =>
        val sa = ita.toSet
        var nb = 0
        var sub = true
        itb.foreach { e => nb += 1; if (!sa.contains(e)) sub = false }
        Iterator.single(sub && nb == sa.size)
      }.fold(true)(_ && _)
      val prev = edges
      edges = next
      prev.unpersist(blocking = false)
      it += 1
    }

    // converged edges form one star per component: (node, componentMin).
    // The min-reduce instead of a bare join is the maxIter safety net: an
    // unconverged graph can still hold several targets per node, and a
    // smallest-reached label is a correct-though-coarser answer there.
    nodes.map(v => (v, v)).union(edges)
      .reduceByKey(part, math.min(_: Long, _: Long))
      .toDF("id", "component")
  }

  /** Embedding-cosine near-dup pairs: multi-TABLE random-hyperplane LSH
    * (the classic L-hash-tables construction) generates candidates, exact
    * cosine verifies. Each of `tables` independent bucketings contributes
    * (1+probes)/2^planes of the random-pair mass, so candidate volume is
    * ~n²·tables·(1+probes)/2^(planes+1) — subquadratic at the default
    * 4×16-plane configuration (÷~1800), while recall for near-identical
    * vectors (cosine ≥ 0.99, where near-dup thresholds live) stays ≈1
    * because missing a pair requires a sign flip in every table.
    *
    * The bucket self-join recomputes the (narrow, column-pruned) bucket
    * projection per side — the deliberate trade against collect_set
    * bucket-local pairing, which materializes whole skewed buckets of
    * vectors in single rows (clustered embeddings make giant buckets).
    */
  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space with the IVF coarse quantizer
    * ([[Similarity.trainCentroids]], a deterministic sample fit), compare
    * cosines only WITHIN a cluster, and drop every vector that has a
    * lower-id neighbor at cosine ≥ `threshold` in its cluster — the
    * paper's keep-one-per-ε-ball rule with min-id as the deterministic
    * representative. Returns one row per input vector:
    * (`idCol`, `cell`, `is_kept`).
    *
    * Scale shape: the quantizer is a model fit (driver-side sample), the
    * cell assignment is shuffle-free per-row kernel work, and the only
    * joins are the within-cell equi-self-join plus the final keep-flag
    * anti-join — the corpus is never compared across cells. At 100 TB the
    * operator is run with `cells` sized so each cell holds ~10⁴-10⁵
    * vectors (SemDeDup uses k in the tens of thousands), bounding the
    * per-cell quadratic term; the LSH alternative for un-clustered spaces
    * is [[embeddingCosinePairs]]. The assignment projection is
    * checkpointed once and feeds both join sides and the output, so the
    * centroid-distance kernel runs one pass over the corpus.
    */
  def semanticDedup(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
                    threshold: Double = 0.9, cells: Int = 16, sampleN: Int = 2000,
                    iters: Int = 10, seed: Long = 42L): DataFrame = {
    val centroids = Similarity.trainCentroids(embs, dim, cells, sampleN, iters, seed, idCol, vecCol)
    val assigned = embs
      .select(col(idCol), col(vecCol).as("_v"),
        Similarity.nearestCell(col(vecCol), centroids).as("cell"),
        // norm once per vector on the cached table — the cosine below
        // would re-derive BOTH norms per in-cell pair (bit-identical:
        // the AnnGraph norm-precompute idiom)
        Similarity.norm(col(vecCol)).as("_n"))
      .materialized
    val l = assigned.select(col("cell"), col(idCol).as("a"), col("_v").as("va"), col("_n").as("_na"))
    val r = assigned.select(col("cell"), col(idCol).as("b"), col("_v").as("vb"), col("_n").as("_nb"))
    val dropped = l.join(r, "cell")
      .where(col("a") < col("b"))
      .where(Similarity.cosineWithNorms(col("va"), col("vb"), col("_na"), col("_nb")) >= threshold)
      .select(col("b").as(idCol))
      .distinct()
    assigned
      .join(dropped.withColumn("_drop", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("_drop").isNull.as("is_kept"))
  }

  def embeddingCosinePairs(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
                           threshold: Double = 0.9, planes: Int = 16, probes: Int = 8,
                           tables: Int = 4, seed: Long = 42L): DataFrame = {
    // all `tables` bucket ids in ONE scan (an explode of a 4-element
    // array), not a `tables`-way union re-reading the input per table;
    // table id in the high bits keeps tables disjoint, and Hamming-1
    // probe flips stay below 2^planes so they never cross tables
    val bucketed = embs.select(
      col(idCol), col(vecCol),
      explode(array((0 until tables).map { t =>
        lit(t.toLong * (1L << planes)) + Similarity.lshBucket(col(vecCol), dim, planes, seed + t)
      }: _*)).as("bucket"),
      // norm once per (vector, table) row below the bucket join — the
      // cosine would re-derive both norms per candidate pair
      Similarity.norm(col(vecCol)).as("_n"))
    val l = Similarity.multiProbe(
      bucketed.select(col(idCol).as("a"), col(vecCol).as("va"), col("bucket"), col("_n").as("_na")),
      "bucket", planes, probes)
    val r = bucketed.select(col(idCol).as("b"), col(vecCol).as("vb"), col("bucket"), col("_n").as("_nb"))
    l.join(r, "bucket").where(col("a") < col("b"))
      .withColumn("cosine", Similarity.cosineWithNorms(col("va"), col("vb"), col("_na"), col("_nb")))
      .where(col("cosine") >= threshold)
      .select(col("a"), col("b"), col("cosine"))
      .distinct()
  }

  /** (doc, pos, spanHash) rows for every k-token sliding window — the
    * candidate unit of exact SPAN-level dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499: duplicated substrings, not duplicated documents,
    * are what a whole-doc pass misses). Spans travel as xxhash64 values
    * (8 bytes through the exchange, codegen'd build) — the hashed-text
    * contract of [[graft.operators.TextAnalysis.boilerplateMetrics]]:
    * downstream outputs are counts/text only, so the string-span oracle
    * verifies them exactly (64-bit collisions absent at verification
    * scale).
    */
  private def spanRows(docs: DataFrame, textCol: String, idCol: String,
                       k: Int): DataFrame = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    docs
      .select(col(idCol), toks.as("_toks"))
      .withColumn("_n", size(col("_toks")))
      .where(col("_n") >= k)
      .select(col(idCol), col("_n"),
        posexplode(transform(sequence(lit(0), col("_n") - k),
          i => xxhash64(array_join(slice(col("_toks"), i + 1, lit(k)), " "))))
          .as(Seq("pos", "h")))
  }

  /** Per-document duplicated-span profile: for every k-token sliding
    * window, count its occurrences CORPUS-WIDE; a span occurring more
    * than once anywhere is "duplicated", and the union of the token
    * positions its copies cover is the doc's duplicated surface.
    * Returns (`idCol`, n_tokens, n_spans, n_dup_spans,
    * n_covered_tokens, covered_frac).
    *
    * Plan at 100 TB: span generation is a bounded explode (one row per
    * token position — linear, the minhash-shingle cost class); the one
    * heavy shuffle is the global `groupBy(h)` count, with map-side
    * partial aggregation collapsing each partition's repeats first. The
    * spans→counts equi-join re-uses the hash partitioning on `h` (AQE
    * elides the second exchange), and `_cnt > 1` shrinks the counts
    * side to the duplicated sliver before the join. Coverage explode
    * (k×) runs on hit rows only.
    */
  def spanProfile(docs: DataFrame, textCol: String, idCol: String,
                  k: Int = 6): DataFrame = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val totals = docs.select(
      col(idCol),
      size(toks).as("n_tokens"),
      greatest(size(toks) - (k - 1), lit(0)).as("n_spans"))
    val spans = spanRows(docs, textCol, idCol, k)
    val counts = spans.groupBy(col("h")).agg(count(lit(1)).as("_cnt"))
    // both downstream aggregates read the duplicated sliver — checkpoint
    // it so the span build + global count run ONCE (the bm25/boilerplate
    // shared-materialization discipline), not once per consumer
    val dup = spans.join(counts.where(col("_cnt") > 1), Seq("h"))
      .materialized
    val perDoc = dup.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_spans"))
    val covered = dup
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (k - 1))).as("_idx"))
      .distinct()
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_covered_tokens"))
    totals
      .join(perDoc, Seq(idCol), "left")
      .join(covered, Seq(idCol), "left")
      .select(
        col(idCol), col("n_tokens"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_covered_tokens"), lit(0L)).as("n_covered_tokens"),
        coalesce(col("n_covered_tokens"), lit(0L)).cast("double")
          ./(col("n_tokens").cast("double")).as("covered_frac"))
  }

  /** Span-scrubbed text: every token position covered by ANY
    * corpus-duplicated k-token span is dropped (all copies — the
    * aggressive variant of arXiv:2107.06499 §4; keeping one canonical
    * copy is [[spanProfile]] + a min-(doc,pos) rule, not needed for the
    * training-set case where the span is boilerplate). Returns
    * (`idCol`, n_tokens, n_kept, scrubbed_text).
    *
    * Same two-shuffle shape as [[spanProfile]]; the per-doc covered-set
    * `collect_set` is bounded by DOCUMENT length (not corpus size), and
    * reassembly is a shuffle-free higher-order `filter` over the
    * original token array.
    */
  def spanScrub(docs: DataFrame, textCol: String, idCol: String,
                k: Int = 6): DataFrame = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val base = docs.select(col(idCol), toks.as("_toks"))
    val spans = spanRows(docs, textCol, idCol, k)
    val counts = spans.groupBy(col("h")).agg(count(lit(1)).as("_cnt"))
    val covered = spans.join(counts.where(col("_cnt") > 1), Seq("h"))
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (k - 1))).as("_idx"))
      .groupBy(col(idCol))
      .agg(collect_set(col("_idx")).as("_cov"))
    base
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("_toks"),
        coalesce(col("_cov"), array().cast("array<int>")).as("_cov"))
      .select(col(idCol),
        size(col("_toks")).as("n_tokens"),
        filter(col("_toks"), (_, i) => not(array_contains(col("_cov"), i))).as("_kept"))
      .select(col(idCol), col("n_tokens"),
        size(col("_kept")).as("n_kept"),
        array_join(col("_kept"), " ").as("scrubbed_text"))
  }

  /** Stitched-document detection: pairs where document A's LAST `k`
    * tokens are byte-identical to document B's FIRST `k` tokens — the
    * signature of crawl stitching (one page's footer re-crawled as the
    * next page's header) and of pagination artifacts, which
    * whole-document fingerprints and bag-of-shingles near-dup both miss
    * (the overlap is a tiny fraction of either doc). Emits
    * (`doc_a`, `doc_b`, `boundary_fp`) — A's tail continues into B;
    * `boundary_fp` the engine-portable md24 of the shared boundary.
    * Documents shorter than `k` tokens cannot carry a full boundary and
    * drop from BOTH sides.
    *
    * Plan: one slim projection per side — (id, boundary string), k
    * tokens ≈ tens of bytes, never the document — and ONE equi-join of
    * tail against head. The boundary string is itself the join key:
    * exact by construction, no verify pass needed (at web scale swap
    * the key for xxhash64(boundary) and keep the string equality as the
    * residual join condition — same plan, 8-byte exchange). Fan-out per
    * boundary = (#docs ending with it) × (#docs starting with it):
    * vocabulary-like skew, the unhinted-join class, so AQE decides the
    * strategy.
    */
  def stitchPairs(docs: DataFrame, textCol: String, idCol: String,
                  k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val base = docs
      .select(col(idCol), toks.as("_toks"))
      .where(size(col("_toks")) >= k)
    val tails = base.select(col(idCol).as("doc_a"),
      array_join(slice(col("_toks"), -k, k), " ").as("_boundary"))
    val heads = base.select(col(idCol).as("doc_b"),
      array_join(slice(col("_toks"), 1, k), " ").as("_boundary"))
    tails.join(heads, Seq("_boundary"))
      .where(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        QualityClassifier.md24(col("_boundary")).as("boundary_fp"))
  }

  /** Prefix-filtered EXACT set-similarity self-join (AllPairs/PPJoin —
    * Bayardo, Ma & Srikant, WWW 2007; Xiao et al., WWW 2008): every pair
    * of documents whose word-token-set Jaccard is ≥ `tNum/tDen`, with
    * FULL recall — no bands, no hashing, no blocking loss. The
    * complement of [[minHashPairs]] (approximate, recall < 1) and of
    * the lang-blocked exhaustive baseline (recall limited by the
    * block): this is what a dedup pipeline runs when the near-dup
    * report must be provably complete at the threshold.
    *
    * The trick that avoids the all-pairs cross join: order every
    * document's tokens by GLOBAL document frequency, rarest first. If
    * J(x,y) ≥ t then |x∩y| ≥ ⌈t·|x|⌉, so x's first
    * p = |x| − ⌈t·|x|⌉ + 1 tokens (its "prefix") must contain an
    * intersection token — and symmetrically for y: under one global
    * order the two prefixes share a token (the prefix-filtering
    * principle). Candidate pairs are therefore generated by a plain
    * equi-join of prefix tokens against prefix tokens — and because
    * prefixes hold each document's RAREST tokens, per-token fan-out is
    * tiny by construction (the frequent tokens that would explode a
    * token-join never enter a prefix).
    *
    * Plan at scale: one explode + hash-aggregate for document
    * frequencies (vocabulary-sized); one equi-join to annotate tokens
    * with df; ONE per-document regroup (keyed by doc, per-group state
    * bounded by document length) whose (df, token)-sorted array yields
    * BOTH the rarest-first prefix (slice) and the verify token array
    * (re-sort of the projected tokens); the prefix-token
    * self-equi-join; a pair-key aggregate to dedup candidates; and one
    * verify join back to the (id, sorted-token-array) table — exact
    * merge intersection via [[jaccardTokens]]. Everything is keyed by
    * token or id; nothing is corpus-quadratic. The threshold is a
    * rational `tNum/tDen` so the prefix length and the final acceptance
    * test are integer-exact (no float ⌈⌉ drift vs the oracle).
    *
    * Returns (`a`, `b`, `n_common`, `jaccard`) for accepted pairs.
    *
    * `shingleK ≥ 2` switches the set elements from words to k-token
    * shingles — the production setting. Prefix filtering's cost bound
    * is Σ(prefix-token df²), which collapses only when SOME of each
    * document's elements are globally rare; word sets over a small
    * vocabulary (the adversarial case — measured 128 s at sf0.1 on
    * this corpus's ~100-word vocabulary, an effective all-pairs)
    * violate that, while shingling makes the element space
    * combinatorial so near-universal elements all but vanish. Same
    * guarantee, same algorithm — exact Jaccard over the chosen
    * element sets.
    */
  def prefixJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                         tNum: Int, tDen: Int, shingleK: Int = 0): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be a rational in (0, 1]: got $tNum/$tDen")
    val units =
      if (shingleK >= 2) shingles(col(textCol), shingleK)
      else array_distinct(split(lower(trim(col(textCol))), "\\s+"))
    val toks = docs
      .select(col(idCol).as("_id"), explode(units).as("_tok"))
      .where(col("_tok") =!= "")
      .materialized // feeds df-counts and the per-doc regroup
    val dfCounts = toks.groupBy(col("_tok")).agg(count(lit(1)).as("_df"))
    // ONE (df, tok)-ordered per-doc regroup now feeds BOTH the
    // rarest-first prefix and the verify arrays (guide §2.4: operations
    // keyed the same way share one exchange). The r14 shape paid two
    // _id-keyed exchanges of the full token table — a window (rank by
    // (_df, _tok), then prefix filter) plus a separate
    // collect_set aggregate for the verify sets; sort_array over
    // struct(_df, _tok) is the identical total order ((id, tok) rows
    // are distinct — shingles/array_distinct upstream — so there are
    // no rank ties to break), slice(1, p) is the identical prefix
    // membership, and re-sorting the projected tokens reproduces
    // sort_array(collect_set(..)) element for element.
    // shuffle_hash on the df annotation: it needs no order, and the
    // regroup right after re-partitions by _id anyway — SMJ would sort
    // the full token table by _tok for nothing.
    val perDoc = toks.join(dfCounts.hint("shuffle_hash"), "_tok")
      .groupBy(col("_id"))
      .agg(sort_array(collect_list(struct(col("_df"), col("_tok")))).as("_ord"),
        count(lit(1)).as("_sz"))
      // prefix length |x| - ceil(t|x|) + 1, with ceil done in integers
      .withColumn("_p",
        (col("_sz") - expr(s"(_sz * $tNum + $tDen - 1) div $tDen") + 1).cast("int"))
      .materialized // consumed by both candidate legs and both verify sides
    val prefix = perDoc
      .select(col("_id"), explode(slice(col("_ord"), lit(1), col("_p"))).as("_pt"))
      .select(col("_id"), col("_pt").getField("_tok").as("_tok"))
    val cand = prefix.select(col("_id").as("a"), col("_tok"))
      .join(prefix.select(col("_id").as("b"), col("_tok")), "_tok")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("_np"))
      .select(col("a"), col("b"))
    val sets = perDoc.select(col("_id"),
      sort_array(transform(col("_ord"), p => p.getField("_tok"))).as("_toks"),
      col("_sz"))
    // exact intersect count as a sorted two-pointer merge
    // ([[graft.plans.IntersectSortedSize]]): the sets are already
    // sort_array(collect_set(..)), and size(array_intersect(..)) built
    // a per-pair hash set — measured 6.3 s of the query's 5.9 s total
    // over 409k candidate pairs at sf0.1, vs ~0.5 s merged. Same count,
    // bit-exact (DedupSpec asserts it against the composed form).
    // shuffle_hash, not sort-merge: SMJ would SORT the candidate side
    // WITH its joined-in array payloads (~2-4 KB/row — profiled 4.4 vs
    // 1.6 s at sf0.1); hashing the (id, token-array) side builds
    // per-partition tables bounded by sets/nPartitions, the right shape
    // at 100 TB too (guide §3: skip the sort when one side is the
    // payload carrier).
    cand
      .join(sets.select(col("_id").as("a"), col("_toks").as("_ta"), col("_sz").as("_sa"))
        .hint("shuffle_hash"), "a")
      .join(sets.select(col("_id").as("b"), col("_toks").as("_tb"), col("_sz").as("_sb"))
        .hint("shuffle_hash"), "b")
      .withColumn("n_common", ExpressionUtils.column(graft.plans.IntersectSortedSize(
        ExpressionUtils.expression(col("_ta")), ExpressionUtils.expression(col("_tb")))).cast("long"))
      .where(col("n_common") * tDen >= (col("_sa") + col("_sb") - col("n_common")) * tNum)
      .select(col("a"), col("b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("_sa") + col("_sb") - col("n_common")).cast("double")).as("jaccard"))
  }

  /** SoftDeDup — dedup by REWEIGHTING instead of dropping (He et al.
    * 2024, "SoftDedup: an efficient data reweighting method"): every
    * copy of a duplicated document survives, but carries training
    * weight 1/k where k is its exact-duplicate group size, so the
    * group's total gradient contribution equals one canonical copy
    * while shuffle order, context mixing, and coverage are preserved.
    * The gentler sibling of [[exactGroups]]+drop, preferred when
    * duplication correlates with quality (popular pages are crawled
    * more often AND better).
    *
    * Emits one row per input doc: (`idCol`, fingerprint, dup_count,
    * weight DOUBLE = 1/k — one IEEE division of an exact int, so
    * bit-reproducible). Plan: one slim fingerprint aggregate + one
    * equi-join back on the fingerprint (AQE broadcasts the group table
    * while it is small; shuffle-joins at web scale). The document body
    * never moves — only (id, 16-byte fp) rows shuffle.
    */
  def softDedupWeights(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = docs.select(col(idCol), exactFingerprint(col(textCol)).as("fingerprint"))
    val groups = fp.groupBy(col("fingerprint")).agg(count(lit(1)).as("dup_count"))
    fp.join(groups, "fingerprint")
      .select(col(idCol), col("fingerprint"), col("dup_count"),
        (lit(1.0) / col("dup_count").cast("double")).as("weight"))
  }

  /** Unique-token yield per stratum — the source-planning number behind
    * every training-mix negotiation: raw token counts overstate a source
    * whose content is duplicated elsewhere, so each document's tokens
    * are discounted by its GLOBAL exact-duplicate group size (the
    * [[softDedupWeights]] weight applied at token grain) and rolled up
    * per stratum. A source whose yield ratio is 0.6 contributes 40%
    * less novel data than its size claims — that is the number that
    * decides crawl budget and mixture weight.
    *
    * Effective tokens live on the 2⁻²⁰ fixed-point grid:
    * `(n_tokens · 2²⁰) div k` per doc, summed as int64 — exact,
    * associative, engine-independent. Plan: one slim fingerprint
    * aggregate (global, so cross-stratum duplication is seen), one
    * join back on the 16-byte fp, one stratum rollup. Document bodies
    * never shuffle.
    */
  def uniqueTokenYield(docs: DataFrame, textCol: String, idCol: String,
                       strataCol: String): DataFrame = {
    val base = docs.select(col(idCol), col(strataCol).as("stratum"),
      size(TextAnalysis.tokens(col(textCol))).cast("long").as("_nt"),
      exactFingerprint(col(textCol)).as("fingerprint"))
    val groups = base.groupBy(col("fingerprint")).agg(count(lit(1)).as("_k"))
    base.join(groups, "fingerprint")
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nt")).as("raw_tokens"),
        sum(expr("(_nt * 1048576L) div _k")).as("eff_tokens_q20"))
      .select(col("stratum"), col("n_docs"), col("raw_tokens"), col("eff_tokens_q20"),
        (col("eff_tokens_q20").cast("double") / 1048576.0
          / col("raw_tokens").cast("double")).as("yield_ratio"))
      .orderBy(col("stratum"))
  }
}
