package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TimeFns
import graft.operators.{AnnGraph, Dedup, Multimodal, QualityClassifier, Retrieval, Similarity, TextAnalysis}
import graft.sources.Tables
import graft.operators.Materialize.MatOps

/** LLM-training-data pipeline queries over the `documents` / `embeddings`
  * corpus, plus the business-time metric aggregate. Every entry pairs with
  * a DuckDB oracle in [[Oracles]] — including both approximate ANN paths:
  * the LSH hyperplanes and the IVF k-means fit are deterministic integer
  * recurrences the oracles regenerate in SQL.
  *
  * Scale design notes (the point of this package at 100 TB):
  *   - every near-dup candidate set is generated by a bucketed equi-join
  *     (LSH bands / simhash chunks / blocking keys), never a cross join;
  *   - signatures/fingerprints/shingle hashes are SHUFFLE-FREE per-row
  *     native codegen kernels (graft.plans.*), not explode+aggregate;
  *   - text metrics are per-row map work (codegen'd, shuffle-free);
  *   - ANN scoring streams candidates against a broadcast query set.
  */
object LlmQueries {

  /** The sf test files are single-row-group parquet = ONE input split, so
    * Spark would run every per-row kernel on one core. One small
    * round-robin shuffle of the raw rows unlocks full-machine parallelism
    * for the shingle-heavy text-dedup operators (measured ~2x cold at
    * sf0.1; NOT applied to the 2,000-row embeddings queries, where the
    * kernels are cheap enough that the extra shuffle is a wash). At
    * production scale inputs arrive as thousands of splits and callers
    * should NOT do this — the operators themselves are
    * partitioning-agnostic.
    */
  private def spread(df: DataFrame, s: SparkSession): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  /** Exact dedup: groups by normalized-text fingerprint (one hash agg). */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, d), "text", "doc_id")
      .orderBy(col("fingerprint"))

  /** Incremental (cross-run) exact dedup
    * ([[graft.operators.Dedup.incrementalDedup]]): docs with
    * `doc_id % 5 == 0` play the already-ingested corpus (their
    * fingerprints the persisted store), the rest the incoming batch.
    * The synthetic corpus has NO exact duplicates of its own (500
    * distinct fingerprints at sf0.01), so the query PLANTS both failure
    * modes — re-ingested copies of store docs (must fall to the
    * anti-join) and in-batch copies (must fall to the canonical rule) —
    * otherwise the row would be trivially green on a no-op
    * (the [[dedupEmbedding]] lesson).
    */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val store = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    val newDocs = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
    val reIngested = store.where(col("doc_id") < 100)
      .select((col("doc_id") + 200000).as("doc_id"), col("lang"), col("text"))
    val inBatchDup = newDocs.where(col("doc_id") < 100)
      .select((col("doc_id") + 300000).as("doc_id"), col("lang"), col("text"))
    val batch = newDocs.unionByName(reIngested).unionByName(inBatchDup)
    Dedup.incrementalDedup(
      batch, store.select(Dedup.exactFingerprint(col("text")).as("fingerprint")),
      "text", "doc_id")
      .select(col("doc_id"), col("lang"), col("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** The STORE-MEDIATED twin of [[dedupIncremental]]
    * ([[graft.operators.Dedup.incrementalDedupRun]] +
    * [[graft.state.FingerprintStore]]): a self-contained two-run replay
    * where run 1 ingests the seed corpus (`doc_id % 5 == 0`) into a
    * fresh on-disk fingerprint store, the store is compacted, and run 2
    * deduplicates the SAME planted batch as [[dedupIncremental]] against
    * what run 1 persisted — so run 2's re-ingested copies are dropped by
    * fingerprints that traveled through parquet, not through a
    * same-plan DataFrame. Output (and oracle) are identical to
    * [[dedupIncremental]] by construction; what this row verifies is
    * the load → dedup → write → commit → compact → load cycle.
    */
  def dedupIncrementalCommit(s: SparkSession, d: String): DataFrame = {
    import graft.state.FingerprintStore
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val seed = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    val newDocs = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
    val reIngested = seed.where(col("doc_id") < 100)
      .select((col("doc_id") + 200000).as("doc_id"), col("lang"), col("text"))
    val inBatchDup = newDocs.where(col("doc_id") < 100)
      .select((col("doc_id") + 300000).as("doc_id"), col("lang"), col("text"))
    val batch = newDocs.unionByName(reIngested).unionByName(inBatchDup)

    // fresh store per invocation: the row replays the whole cycle
    val storeDir = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft-fpstore-${Integer.toHexString(d.hashCode)}").getPath
    new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(storeDir), true)

    Dedup.incrementalDedupRun(seed, storeDir, "text", "doc_id")(_ => ()) // run 1
    FingerprintStore.compact(s, storeDir)
    Dedup.incrementalDedupRun(batch, storeDir, "text", "doc_id")(_ => ()) // run 2
      .select(col("doc_id"), col("lang"), col("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** Quality-canonical cluster resolution
    * ([[graft.operators.Dedup.bestPerCluster]]): the simhash near-dup
    * clusters of [[dedupClusters]] resolved to their HIGHEST-lexical-
    * diversity member (ties to lowest id) instead of the min-id — the
    * C4-style "keep the best copy" rule, as one max_by hash aggregate
    * (no per-cluster sort).
    */
  def dedupClusterBest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val comp = Dedup.simHashClusters(spread(docs, s), "text", "doc_id")
      .select(col("doc_id"), col("component"))
    val membership = docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
    val toks = TextAnalysis.tokens(col("text"))
    val scores = docs.select(col("doc_id"),
      (size(array_distinct(toks)).cast("double") / size(toks).cast("double")).as("score"))
    Dedup.bestPerCluster(membership, scores, "doc_id", "score")
      .orderBy(col("component"))
  }

  /** Cross-source duplicate overlap matrix
    * ([[graft.operators.Dedup.sourceOverlapMatrix]]): which sources
    * carry the same content — the diagnostic behind source-level
    * curation decisions (drop the mirror, keep the origin). The
    * synthetic corpus has no cross-source duplicates, so the query
    * PLANTS three mirror sources re-hosting docs `doc_id < 200` keyed
    * on doc_id % 3 (mirrored in the oracle) — the overlap counts
    * verified are real ones.
    */
  def dedupSourceOverlap(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val mirrored = docs.where(col("doc_id") < 200)
      .select((col("doc_id") + 700000).as("doc_id"),
        concat(lit("mirror"), pmod(col("doc_id"), lit(3))).as("source"), col("text"))
    Dedup.sourceOverlapMatrix(docs.unionByName(mirrored), "text", "source")
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Per-source dataset card — the release-notes table every corpus
    * ships with: volume (docs, tokens), exact-dup rate (distinct
    * content fingerprints vs rows), mean lexical diversity (floored to
    * the 2⁻⁴⁰ grid so the average is an associative integer sum — the
    * bm25 discipline), and the dominant language with its share. One
    * corpus pass for the per-source aggregate, one tiny (source, lang)
    * aggregate for the mode, joined back on the source key.
    */
  def corpusCard(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val scale = 1099511627776.0 // 2^40
    val base = Tables.documents(s, d).select(
      col("source"), col("lang"),
      Dedup.exactFingerprint(col("text")).as("fp"),
      size(toks).as("n_toks"),
      floor((size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        * scale).cast("long").as("div_fp"))
    val perSource = base.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_toks")).as("n_tokens"),
      countDistinct(col("fp")).as("n_distinct"),
      sum(col("div_fp")).as("_sdiv"))
    val topLang = base.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_lang_docs"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("n_lang_docs").desc, col("lang"))))
      .where(col("_rn") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("n_lang_docs").as("top_lang_docs"))
    perSource.join(topLang, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_docs").cast("double")).as("dup_frac"),
        ((col("_sdiv").cast("double") / lit(scale)) / col("n_docs").cast("double")).as("mean_diversity"),
        col("top_lang"), col("top_lang_docs"),
        (col("top_lang_docs").cast("double") / col("n_docs").cast("double")).as("top_lang_share"))
      .orderBy(col("source"))
  }

  /** KMV-sketch cross-source overlap estimates next to their exact
    * values ([[graft.operators.Dedup.sourceOverlapSketch]], k=16) over
    * the same planted-mirror corpus as [[dedupSourceOverlap]] — the
    * bounded-memory path the exact matrix cannot take at 100 TB, with
    * every row its own accuracy measurement.
    */
  def sketchOverlap(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val mirrored = docs.where(col("doc_id") < 200)
      .select((col("doc_id") + 700000).as("doc_id"),
        concat(lit("mirror"), pmod(col("doc_id"), lit(3))).as("source"), col("text"))
    Dedup.sourceOverlapSketch(docs.unionByName(mirrored), "text", "source", k = 16)
      .orderBy(col("source_a"), col("source_b"))
  }

  /** MinHash+LSH near-dup pairs, verified with exact shingle Jaccard.
    * 128 hashes / 32 bands of 4: recall is ~87% for a pair at exactly
    * j=0.5, ~0.999 at j=0.7, 1-3e-15 at j=0.9, while a j=0.05 background
    * pair collides with p≈6e-4 — candidate volume stays near-linear in
    * corpus size. The all-pairs oracle matches here because this corpus's
    * pair-similarity distribution is bimodal (near-dups at j≥0.9,
    * background < 0.07); a corpus with borderline j≈0.5 pairs would need
    * more bands (or a lower per-band row count) for gate-exact recall —
    * the operator's contract is approximate candidates + exact verify.
    * Same caveat for the skew cap: buckets with >maxBucketGroups distinct
    * signatures are skipped (this corpus peaks far below the 256 default,
    * so the exhaustive oracle still matches; a boilerplate-heavy corpus
    * that trips the cap trades those candidates for bounded task size).
    */
  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    Dedup.minHashPairs(spread(Tables.documents(s, d), s), "text", "doc_id", threshold = 0.5)
      .orderBy(col("a"), col("b"))

  /** Benchmark decontamination: docs with `doc_id % 10 == 7` play the
    * held-out eval set, the rest the training corpus; output = every
    * train doc that is a near-copy (shingle Jaccard ≥ 0.5) of an eval
    * doc — the pre-training hygiene pass every LLM pipeline runs. The
    * corpus's near-dup pairs sit at j ≥ 0.9 where 32×4-band LSH recall
    * is ≈1, so the exhaustive cross-set oracle matches exactly (same
    * contract note as [[dedupMinhash]]).
    */
  def dedupDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.minHashDecontaminate(
      spread(docs.where(pmod(col("doc_id"), lit(10)) =!= 7), s),
      spread(docs.where(pmod(col("doc_id"), lit(10)) === 7), s),
      "text", "doc_id", threshold = 0.5)
      .orderBy(col("corpus_id"), col("probe_id"))
  }

  /** Eval-answer substring decontamination
    * ([[graft.operators.Dedup.answerContamination]]): every 25th doc
    * plants a benchmark "answer" — a 6-token run from its own interior
    * (tokens 3–8 of the normalized text) — and the corpus is scanned
    * for documents containing that run verbatim. The broadcast
    * nested-loop containment plan, aggregated per answer: total hits
    * and foreign hits (docs other than the answer's source — the
    * actual leakage signal; the synthetic corpus's cross-doc
    * boilerplate makes several answers fire foreign).
    */
  def decontamAnswers(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val answers = docs
      .select(col("doc_id"), split(norm, " ").as("toks"))
      .where(pmod(col("doc_id"), lit(25)) === 0 && size(col("toks")) >= 8)
      .select(col("doc_id").as("answer_id"),
        array_join(slice(col("toks"), 3, 6), " ").as("answer"))
    Dedup.answerContamination(spread(docs, s), "text", "doc_id",
      answers, "answer_id", "answer")
      .groupBy(col("answer_id"))
      .agg(count(lit(1)).as("n_hits"),
        sum(when(col("doc_id") =!= col("answer_id"), 1L).otherwise(0L)).as("n_foreign_hits"))
      .orderBy(col("answer_id"))
  }

  /** Exact 13-gram decontamination over the same train/eval split as
    * [[dedupDecontaminate]]: corpus docs sharing ANY word 13-gram with an
    * eval doc, with the count of distinct shared grams — the n-gram
    * overlap rule (vs the near-copy rule) of pre-training hygiene. The
    * probe n-gram set broadcasts; only hit rows shuffle.
    */
  def dedupContaminatedNgrams(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.ngramContamination(
      spread(docs.where(pmod(col("doc_id"), lit(10)) =!= 7), s),
      docs.where(pmod(col("doc_id"), lit(10)) === 7),
      "text", "doc_id", n = 13)
      .orderBy(col("corpus_id"))
  }

  /** [[dedupContaminatedNgrams]] through the Bloom-sieve scale path
    * ([[graft.operators.Dedup.ngramContaminationBloom]]): build a 4 MB
    * Bloom filter of the eval grams, prune the corpus explode map-side,
    * exact-confirm the rare survivors. Shares the exact variant's DuckDB
    * oracle — the Bloom path must be row-identical (false positives are
    * removed by the confirm join), which makes this the strongest kind of
    * row: an approximate-prefilter plan checked against an exact engine.
    */
  def dedupContaminatedBloom(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.ngramContaminationBloom(
      spread(docs.where(pmod(col("doc_id"), lit(10)) =!= 7), s),
      docs.where(pmod(col("doc_id"), lit(10)) === 7),
      "text", "doc_id", n = 13)
      .orderBy(col("corpus_id"))
  }

  /** Exact 2-gram Jaccard within (lang) blocks on a doc_id-sampled subset —
    * the exhaustive-verification baseline the LSH paths approximate.
    * N-grams are hashed to longs before the O(block²) pair join: long-array
    * intersections beat string-array ones and the shuffled arrays shrink
    * ~8×; Jaccard values are identical absent 64-bit collisions.
    */
  def dedupNgram(s: SparkSession, d: String): DataFrame = {
    val sub = spread(Tables.documents(s, d).where(col("doc_id") % 2 === 0), s)
    val g = sub.select(
      col("doc_id"), col("lang"), col("n_chars"),
      Dedup.shingleHashes(col("text"), 2).as("ng"))
    val l = g.select(col("lang"), col("doc_id").as("a"), col("n_chars").as("ca"), col("ng").as("nga"))
    val r = g.select(col("lang"), col("doc_id").as("b"), col("n_chars").as("cb"), col("ng").as("ngb"))
    l.join(r, "lang").where(col("a") < col("b"))
      // Length-band BLOCKING PARAMETER (not implied by the threshold —
      // like all record-linkage blocking it trades recall for cost): pairs
      // differing by >50 chars are excluded before the expensive array
      // intersection. Measured 2× on this corpus vs no band; the provable
      // size-ratio bound (J ≤ min/max) was measured and rejected — it
      // keeps 84% of pairs here, pruning nothing. Full-recall near-dup
      // detection is minHashPairs; this entry is the in-block exhaustive
      // baseline, and its oracle mirrors the same band.
      .where(abs(col("ca") - col("cb")) <= 50)
      .withColumn("jaccard", Dedup.jaccardSorted(col("nga"), col("ngb")))
      .where(col("jaccard") >= 0.3)
      .select(col("a"), col("b"), col("jaccard"))
      .orderBy(col("a"), col("b"))
  }

  /** Prefix-filtered exact set-similarity self-join
    * ([[graft.operators.Dedup.prefixJaccardPairs]], AllPairs/PPJoin):
    * every document pair with 3-shingle-set Jaccard ≥ 1/2, full recall
    * with NO blocking — candidates come from the equi-join of
    * rarest-shingle prefixes under the global document-frequency
    * order, so the exhaustive guarantee costs a bounded join instead
    * of the corpus cross join. Shingles (not words) are the element
    * set: this corpus's ~100-word vocabulary makes every WORD
    * near-universal (prefix filtering degenerates to all-pairs —
    * measured 128 s at sf0.1), while the combinatorial shingle space
    * restores the rare-prefix bound. The quadratic oracle verifies
    * completeness empirically: every qualifying pair in the all-pairs
    * join must survive prefix filtering.
    */
  def jaccardJoin(s: SparkSession, d: String): DataFrame =
    Dedup.prefixJaccardPairs(spread(Tables.documents(s, d), s),
      "text", "doc_id", tNum = 1, tDen = 2, shingleK = 3)
      .orderBy(col("a"), col("b"))

  /** Directed near-containment pairs
    * ([[graft.operators.Dedup.containmentPairs]]): doc-in-doc detection
    * over the odd-id half of the corpus, lang-blocked, shingle floor 5,
    * C(A⊆B) ≥ 0.8 — the asymmetric complement of [[dedupNgram]]'s
    * Jaccard baseline (a quoted short doc scores ~0 Jaccard but ~1
    * containment). The oracle computes the same directed pairs on
    * string shingles; values agree absent 64-bit shingle-hash
    * collisions, the [[dedupNgram]] caveat.
    */
  def dedupContainment(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(
      spread(Tables.documents(s, d).where(col("doc_id") % 2 === 1), s),
      "text", "doc_id", blockCol = "lang")
      .orderBy(col("a"), col("b"))

  /** SimHash near-dup pairs (48-bit fingerprint, pigeonhole chunk join).
    * chunks=4 > maxHamming=3 makes candidate generation lossless, so the
    * output equals all pairs at Hamming ≤ 3 — which is what the all-pairs
    * oracle computes from the same md5-derived fingerprints.
    */
  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simHashPairs(spread(Tables.documents(s, d), s), "text", "doc_id")
      .orderBy(col("a"), col("b"))

  /** Near-dup cluster resolution — the stage AFTER pair generation in a
    * real dedup pipeline: connected components over the simhash Hamming≤3
    * graph (the densest pair set this corpus produces), one row per
    * document with its cluster's canonical (minimum) doc_id, the cluster
    * size, and whether this document is the canonical keeper. Filtering
    * `is_canonical` is exactly "keep one doc per near-dup cluster" at
    * 100 TB: exact-fingerprint cliques contract BEFORE the graph stage,
    * star-contraction CC (O(log²n) rounds) runs on the representative
    * graph only (see [[graft.operators.Dedup.simHashClusters]] /
    * [[graft.operators.Dedup.connectedComponents]]), then one
    * count-per-component window.
    */
  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val comp = Dedup.simHashClusters(spread(docs, s), "text", "doc_id")
      .select(col("doc_id"), col("component"))
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("component"))))
      .withColumn("is_canonical", col("doc_id") === col("component"))
      .orderBy(col("doc_id"))
  }

  /** Duplicate-cluster SIZE histogram over [[dedupClusters]]'s simhash
    * components — the dup-burden report a dedup run files (RefinedWeb
    * publishes exactly this curve): how many clusters of each size the
    * corpus holds, with the size-1 row counting unique documents and
    * the tail quantifying template/mirror mass. One distinct over the
    * (component, size) pairs + a sizes-sized rollup on top of the
    * existing clustering — the histogram itself never touches corpus
    * text.
    */
  def dedupClusterSizes(s: SparkSession, d: String): DataFrame =
    dedupClusters(s, d)
      .select(col("component"), col("cluster_size")).distinct()
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))

  /** Cluster resolution over the MinHash-verified Jaccard ≥ 0.5 graph —
    * [[dedupClusters]]' contract-then-cluster design on the full-recall
    * scale path: exact-fingerprint contraction, rep-level MinHash pairs,
    * star-contraction CC, labels mapped back (see
    * [[graft.operators.Dedup.minHashClusters]]).
    */
  def dedupMinhashClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val comp = Dedup.minHashClusters(spread(docs, s), "text", "doc_id", threshold = 0.5)
      .select(col("doc_id"), col("component"))
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("component"))))
      .withColumn("is_canonical", col("doc_id") === col("component"))
      .orderBy(col("doc_id"))
  }

  /** Embedding-cosine near-dup pairs (LSH candidates + exact verify).
    * threshold = 0.9 places the query in the operator's contract regime —
    * near-DUPLICATE detection, where multi-table LSH recall approaches 1
    * (≈1 at cosine ≥ 0.99; a borderline pair exactly at the threshold can
    * still be missed — sweeping mid-similarity pairs exhaustively is what
    * [[annBrute]]-style scoring is for, not an LSH dedup pass).
    *
    * The synthetic corpus's max pair cosine is ≈0.60, so on the raw table
    * the verified-correct result is EMPTY — which would make the driver
    * row a trivial 0-rows-vs-0-rows check. The query therefore PLANTS
    * deterministic near-duplicates inside the lineage: an id-offset copy
    * of each vec_id < 25, scaled by 2.0f. Scaling by a power of two is
    * float-EXACT, leaves every hyperplane dot product's sign unchanged
    * (so LSH recall on the planted pairs is structurally 1, not
    * probabilistically ≈1), and keeps the exact-cosine verification
    * bit-reproducible in the DuckDB oracle — the driver verifies 25
    * found pairs at cosine ≈ 1.0, plus the absence of false positives
    * from the 0.60-max background.
    */
  def dedupEmbedding(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val planted = emb.where(col("vec_id") < 25)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    Dedup.embeddingCosinePairs(emb.unionByName(planted), "vec_id", "embedding",
      dim = 64, threshold = 0.9)
      .orderBy(col("a"), col("b"))
  }

  /** Threshold-sweep audit over the verified ≥0.9 cosine pair set: how
    * many near-dup pairs survive at 0.90 / 0.95 / 0.99 / 0.999 — the
    * measurement that picks a SemDeDup epsilon BEFORE committing a
    * full dedup run (one pair generation, four candidate policies
    * evaluated). Sweeps only upward from the threshold whose LSH
    * recall is oracle-proven complete, so every count is exact.
    */
  def dedupThresholdSweep(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val planted = emb.where(col("vec_id") < 25)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    Dedup.embeddingCosinePairs(emb.unionByName(planted), "vec_id", "embedding",
      dim = 64, threshold = 0.9)
      .select(col("cosine"),
        explode(array(lit(0.90), lit(0.95), lit(0.99), lit(0.999))).as("threshold"))
      .groupBy(col("threshold"))
      .agg(sum(when(col("cosine") >= col("threshold"), 1L).otherwise(0L)).as("n_pairs"))
      .orderBy(col("threshold"))
  }

  /** Cluster resolution over the embedding-cosine near-dup graph — the
    * third modality of the contract/cluster family (text fingerprints
    * have no analog here, so CC runs on the LSH-verified pairs
    * directly; the pair graph is already tiny relative to the corpus).
    */
  def dedupEmbeddingClusters(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val planted = emb.where(col("vec_id") < 25)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val corpus = emb.unionByName(planted)
    val pairs = Dedup.embeddingCosinePairs(corpus, "vec_id", "embedding",
      dim = 64, threshold = 0.9).select(col("a"), col("b"))
    val comp = Dedup.connectedComponents(pairs, "a", "b")
      .select(col("id").as("vec_id"), col("component"))
    corpus.select(col("vec_id"))
      .join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("component"), col("vec_id")).as("component"))
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("component"))))
      .withColumn("is_canonical", col("vec_id") === col("component"))
      .orderBy(col("vec_id"))
  }

  /** SemDeDup-style semantic dedup: k-means cells + within-cell cosine
    * pruning, keep-min-id ([[graft.operators.Dedup.semanticDedup]]).
    * Near-duplicates are PLANTED as exact id-offset copies of each
    * vec_id < 25 — an identical vector provably lands in its original's
    * cell (same distances, deterministic tie-break), so the 25 drops are
    * structural; a ×2-scaled copy (the [[dedupEmbedding]] planting) could
    * quantize to a different cell and silently vanish from a
    * within-cell-only operator. The 0.60-max-cosine background verifies
    * the no-false-positive side.
    */
  def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val planted = emb.where(col("vec_id") < 25)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    Dedup.semanticDedup(emb.unionByName(planted), "vec_id", "embedding",
      dim = 64, threshold = 0.9)
      .orderBy(col("vec_id"))
  }

  /** Brute-force cosine top-10 for a 10-vector query set (broadcast). */
  def annBrute(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** LSH-bucketed approximate top-10 (LCG hyperplanes, multi-probe) —
    * fully oracle-checked: the DuckDB oracle regenerates the same planes
    * from the same integer recurrence, so bucketing, probing, and ranking
    * are all verified bit-for-bit (recall vs brute force additionally
    * asserted in ScalaTest). planes sizes the bucket count to the corpus:
    * 2^planes buckets should be ~corpus/2^6 so each query's probe set
    * still sees ~50+ candidates.
    */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.lshTopK(emb, emb.where(col("vec_id") < 10), k = 10, dim = 64, planes = 6)
      .orderBy(col("query_id"), col("rank"))
  }

  /** ANN recall@10 — [[graft.operators.Similarity.recallAtK]] of the
    * LSH approximate path against the brute-force exact path, per
    * query. The evaluation-harness row: both input paths are themselves
    * oracle-verified (`ann_lsh` / `ann_brute`), and this row verifies
    * the measurement that decides whether an approximate index is good
    * enough to deploy.
    */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.where(col("vec_id") < 10)
    Similarity.recallAtK(
      Similarity.lshTopK(emb, q, k = 10, dim = 64, planes = 6),
      Similarity.bruteForceTopK(emb, q, k = 10))
      .orderBy(col("query_id"))
  }

  /** Matryoshka truncation audit: recall@10 of brute-force search over
    * the FIRST 16 of 64 dimensions against the full-dimension exact
    * top-10 — the measurement behind Matryoshka-representation serving
    * (Kusupati et al. 2022: if prefix dims carry the signal, a short
    * prefix answers cheap first-stage retrieval). Both paths reuse
    * [[graft.operators.Similarity.bruteForceTopK]]; only the slice
    * differs, so the recall number isolates the truncation cost.
    */
  def annMatryoshka(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val trunc = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
    Similarity.recallAtK(
      Similarity.bruteForceTopK(trunc, trunc.where(col("vec_id") < 10), k = 10),
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), k = 10))
      .orderBy(col("query_id"))
  }

  /** Length-unbiased lexical diversity
    * ([[graft.operators.TextAnalysis.mattr]], window 50 / stride 10):
    * the moving-average type-token ratio — the quality signal that
    * doesn't mechanically prefer short documents the way raw
    * distinct/total TTR does. Shuffle-free per-row fold.
    */
  def textMattr(s: SparkSession, d: String): DataFrame =
    TextAnalysis.mattr(spread(Tables.documents(s, d), s), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** Per-document token-distribution entropy
    * ([[graft.operators.TextAnalysis.tokenEntropy]]) — the information-
    * density quality signal next to [[textQuality]]'s ratio gates.
    * Entropies cast to float on both sides: the Σ c·ln(c) double sum is
    * reduction-order-sensitive in the last ulps and Java/libm ln differ
    * by 1 ulp on rare inputs (the bm25 discipline).
    */
  def textEntropy(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenEntropy(spread(Tables.documents(s, d), s), "text", "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        col("entropy").cast("float").as("entropy"),
        col("norm_entropy").cast("float").as("norm_entropy"))
      .orderBy(col("doc_id"))

  /** Per-language lexical-diversity Tukey outliers
    * ([[graft.operators.Expectations.iqrOutliers]]): documents whose
    * distinct-token ratio falls outside their own language's
    * q1−1.5·IQR / q3+1.5·IQR fences (exact discrete quartiles) — the
    * planted repetitive near-dups surface as 'low' outliers, which is
    * precisely the quality signal the fence is for.
    */
  def qualityOutliers(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val base = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      (size(array_distinct(toks)).cast("double") / size(toks).cast("double")).as("score"))
    graft.operators.Expectations.iqrOutliers(spread(base, s), "lang", "score")
      .select(col("doc_id"), col("lang"), col("score"), col("q1"), col("q3"), col("side"))
      .orderBy(col("doc_id"))
  }

  /** Exact corpus top-50 terms
    * ([[graft.operators.TextAnalysis.topTerms]]); the bounded-memory
    * scale path is the suite-verified Misra–Gries sketch
    * ([[graft.operators.TextAnalysis.topTermsSketch]]).
    */
  def textTopTerms(s: SparkSession, d: String): DataFrame =
    TextAnalysis.topTerms(spread(Tables.documents(s, d), s), "text", 50)
      .orderBy(col("rank"))

  /** Phrase mining via PMI collocations
    * ([[graft.operators.TextAnalysis.collocations]]): top-20
    * adjacent-token pairs by pointwise mutual information with support
    * >= 5 — the word2vec-style phrase step that promotes "new york" to
    * one vocabulary unit before tokenizer training. The PMI ranking is
    * computed log-free on an integer grid (ratio ordering equals PMI
    * ordering), so the oracle replays every score bit-for-bit.
    */
  def textCollocations(s: SparkSession, d: String): DataFrame =
    TextAnalysis.collocations(spread(Tables.documents(s, d), s), "text",
      minCount = 5, topK = 20)

  /** Gopher rule battery ([[graft.operators.TextAnalysis.gopherRules]],
    * Rae et al. 2021 §A1.1): per-document booleans for the word-count,
    * mean-word-length, symbol-ratio, alphabetic-word, and stopword
    * rules plus the conjunction. The corpus passes everything
    * uniformly, so each `doc_id % 10` class PLANTS a different rule
    * failure — a 2-word doc, a `#`-flooded doc, a numbers-flooded doc,
    * a long-token doc — so every rule's reject arm is exercised (the
    * [[dedupIncremental]] planting lesson).
    */
  def qualityGopher(s: SparkSession, d: String): DataFrame = {
    val m = pmod(col("doc_id"), lit(10))
    val planted = Tables.documents(s, d).select(col("doc_id"),
      when(m === 1, lit("x1 x2"))
        .when(m === 2, concat(col("text"), lit(" # # # # # # # # # #")))
        .when(m === 3, concat(col("text"), lit(" 111 222 333 444 555 666 777 888 999 000")))
        .when(m === 4, lit("abcdefghijklmnop qrstuvwxyzabcdefgh ijklmnopqrstuvwx yzabcdefghijklmn"))
        .otherwise(col("text")).as("text"))
    TextAnalysis.gopherRules(planted, "text")
      .select(col("doc_id"), col("n_words"), col("r_word_count"), col("r_word_len"),
        col("r_symbols"), col("r_alpha"), col("r_stopwords"), col("gopher_pass"))
      .orderBy(col("doc_id"))
  }

  /** C4 heuristics over a planted corpus
    * ([[graft.operators.TextAnalysis.c4Rules]]) — each rule gets real
    * failures (the [[qualityGopher]] discipline): m=1 too short, m=2
    * a curly-brace code marker, m=3 no terminal punctuation, m=4 a
    * cookie-banner phrase; every other doc gains a terminal period so
    * its pass is controlled, not incidental.
    */
  def qualityC4(s: SparkSession, d: String): DataFrame = {
    val m = pmod(col("doc_id"), lit(10))
    val planted = Tables.documents(s, d).select(col("doc_id"),
      when(m === 1, lit("x1 x2."))
        .when(m === 2, concat(col("text"), lit(" { code block }.")))
        .when(m === 3, concat(col("text"), lit(" no terminal word")))
        .when(m === 4, concat(col("text"), lit(" accept cookie banner.")))
        .otherwise(concat(col("text"), lit("."))).as("text"))
    TextAnalysis.c4Rules(planted, "text")
      .select(col("doc_id"), col("n_words"), col("r_min_words"), col("r_no_brace"),
        col("r_terminal"), col("r_no_policy"), col("c4_pass"))
      .orderBy(col("doc_id"))
  }

  /** The RELEASE MANIFEST — the capstone chain a dataset release
    * actually ships: quality gate (distinct-ratio ≥ 0.5) → exact
    * canonical dedup (duplicates PLANTED: every `doc_id % 7 == 0` doc
    * re-enters under a shifted id, so the dedup stage genuinely
    * removes rows) → hash-stable train/val/test split → md5-coin
    * 8-way sharding → per (split, shard) doc/token/language totals.
    * Every stage is an operator with its own verified row
    * ([[qualityGate]]-shape score, [[dedupExact]],
    * [[graft.operators.CorpusSelection.assignSplit]],
    * [[graft.operators.CorpusSelection.assignShards]]); this row pins
    * their COMPOSITION — the thing a user actually runs — end to end
    * against one oracle. Plan: the chain is projections + one
    * fingerprint window + one final aggregate; no stage shuffles the
    * text more than once.
    */
  def corpusManifest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val corpus = docs.union(
      docs.where(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"), col("text")))
    val toks = TextAnalysis.tokens(col("text"))
    val scored = corpus.select(col("doc_id"), col("lang"), col("text"),
      size(toks).cast("long").as("n_toks"),
      (size(array_distinct(toks)).cast("double") / size(toks).cast("double")).as("score"))
    val gated = scored.where(col("score") >= 0.5)
    val w = Window.partitionBy(Dedup.exactFingerprint(col("text"))).orderBy(col("doc_id"))
    val canonical = gated
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(col("doc_id"), col("lang"), col("n_toks"))
    val split = graft.operators.CorpusSelection.assignSplit(
      canonical, "doc_id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    graft.operators.CorpusSelection.assignShards(split, "doc_id", 8)
      .groupBy(col("split"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("split"), col("shard"))
  }

  /** Count-min frequency estimation harness
    * ([[graft.operators.TextAnalysis.countMinSketch]]): the exact
    * top-20 terms probed against the 4×1024 sketch — `overest` is the
    * per-term collision overcount, non-negative by construction (a
    * count-min can only over-count), and the diagonal `est ≈ exact`
    * is what licenses using the sketch for frequency gating where the
    * vocabulary is too wide to count exactly.
    */
  def sketchCountMin(s: SparkSession, d: String): DataFrame = {
    val docs = spread(Tables.documents(s, d), s)
    val sketch = TextAnalysis.countMinSketch(docs, "text")
    val top = TextAnalysis.topTerms(docs, "text", 20)
    TextAnalysis.countMinLookup(sketch, top.select(col("term")))
      .join(top, Seq("term"))
      .select(col("rank"), col("term"), col("cnt").as("exact_cnt"), col("est_cnt"),
        (col("est_cnt") - col("cnt")).as("overest"))
      .orderBy(col("rank"))
  }

  /** Per-language distinct-3-shingle cardinality: exact `countDistinct`
    * next to the KMV(64) sketch estimate ([[graft.plans.KmvMinK]]) —
    * the accuracy harness for the bounded-memory distinct path (the
    * [[annRecall]] pattern applied to cardinality estimation). The
    * exact side shuffles the distinct coin universe (vocabulary-sized,
    * affordable at sf; at 100 TB it is the side you DON'T run); the
    * sketch side's state is 64 longs per language with a map-side
    * partial merge. Coins are the engine's portable md5-prefix hash
    * ([[graft.operators.CorpusSelection]] discipline, 2^24 space) so
    * the oracle replays both sides bit-for-bit — the k-th-minimum
    * division is exact because the coin space is a power of two.
    */
  def sketchDistinct(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.register(s)
    val k = 64
    val coins = spread(Tables.documents(s, d), s)
      .select(col("lang"), explode(Dedup.shingles(col("text"), 3)).as("sh"))
      .select(col("lang"),
        graft.plans.Md5Prefix.of(col("sh"), 6).as("coin"))
    coins.groupBy(col("lang"))
      .agg(
        countDistinct(col("coin")).as("exact_distinct"),
        call_function("kmv_min_k", col("coin"), lit(k)).as("mink"))
      .select(
        col("lang"), col("exact_distinct"),
        graft.plans.KmvMinK.estimate(col("mink"), k, 16777216.0).as("est_distinct"))
      .withColumn("rel_err",
        (abs(col("est_distinct") - col("exact_distinct").cast("double"))
          / col("exact_distinct").cast("double")).cast("float"))
      .orderBy(col("lang"))
  }

  /** Per-event-type distinct-user cardinality via HyperLogLog registers
    * ([[graft.plans.HllRegisters]], p=8 → 256 byte-sized registers) next
    * to the exact `countDistinct` — plus the row the sketch exists for:
    * the `ALL` line, whose registers are the elementwise-max MERGE of
    * the per-group sketches (computed from the 5 sketch rows, NOT by
    * rescanning the event log), deduplicating users shared across event
    * types the way per-group exact counts cannot. Coins are the
    * portable 56-bit md5 prefix, the register layout is a pure function
    * of the coin, and the estimate's denominator is an integer-grid sum
    * — so the oracle replays registers AND estimate bit-for-bit
    * (the replayability objection [[graft.plans.KmvMinK]] raises
    * against HLL, removed by construction). At 100 TB: state is 256
    * bytes per group, map-side combined; the merge row is the
    * per-source → corpus rollup pattern.
    */
  def sketchHll(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.register(s)
    val p = 8
    val coins = Tables.events(s, d)
      .select(col("event_type"), col("user_id"),
        graft.plans.Md5Prefix.of(concat(lit("hll:"), col("user_id")), 14)
          .as("coin"))
      .materialized // consumed by the per-group aggregate AND the global exact count
    val per = coins.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"),
        call_function("hll_registers", col("coin"), lit(p)).as("regs"))
      .materialized // emitted as rows AND folded into the merged sketch
    val mergedRegs = per
      .select(posexplode(col("regs")).as(Seq("j", "r")))
      .groupBy(col("j")).agg(max(col("r")).as("r"))
      .agg(array_sort(collect_list(struct(col("j"), col("r")))).as("jr"))
      .select(transform(col("jr"), x => x.getField("r")).as("regs"))
    val merged = coins.agg(countDistinct(col("user_id")).as("exact_distinct"))
      .crossJoin(mergedRegs)
      .select(lit("ALL").as("grp"), col("exact_distinct"), col("regs"))
    per.select(col("event_type").as("grp"), col("exact_distinct"), col("regs"))
      .unionByName(merged)
      .select(col("grp"), col("exact_distinct"),
        aggregate(col("regs"), lit(0L),
          (a, r) => a + when(r === 0, 1L).otherwise(0L)).as("v_zero"),
        graft.plans.HllRegisters.sumScaled(col("regs"), p).as("s_scaled"))
      .withColumn("est_q10", graft.plans.HllRegisters.estimateQ10(col("s_scaled"), p))
      .orderBy(col("grp"))
  }

  /** Output-shard balance audit
    * ([[graft.operators.CorpusSelection.shardBalance]]): md5-coin
    * sharding into 16 shards, weighted by `n_chars` (bytes standing in
    * for tokens — the column is already materialized in the table, and
    * a byte-balanced layout is what bounds writer-task runtime). The
    * audit a writer gates on before committing a corpus layout:
    * `skew` = each shard's token share over the ideal equal share.
    */
  def shardBalance(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection
      .shardBalance(Tables.documents(s, d), "doc_id", col("n_chars"), 16)
      .orderBy(col("shard"))

  /** Snapshot content diff ([[graft.operators.Dedup.snapshotDiff]]):
    * the ingest-refresh monitor. The two snapshots derive
    * deterministically from the corpus — `previous` drops the
    * `doc_id % 10 == 9` slice (those docs play "added"), `current`
    * drops the `% 10 == 4` slice ("removed") and appends an edit
    * marker to the `% 10 == 6` slice ("changed") — so every status
    * arm is exercised, not just the trivially-green `unchanged`
    * diagonal (the [[dedupIncremental]] planting lesson).
    */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val prev = docs.where(pmod(col("doc_id"), lit(10)) =!= 9)
    val cur = docs.where(pmod(col("doc_id"), lit(10)) =!= 4)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(10)) === 6, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    Dedup.snapshotDiff(prev, cur, "text", "doc_id")
      .select(col("doc_id"), col("status"), col("fp_prev"), col("fp_cur"))
      .orderBy(col("doc_id"))
  }

  /** Salted skew join ([[graft.operators.SkewJoin.saltedJoin]]):
    * events (the skewed fact) joined to a per-user dimension through
    * the factor-8 salt spread. The row's value is the EQUALITY with
    * the plain join (the oracle runs the unsalted SQL): salting only
    * refines the partition key, so the result set is bit-identical
    * while the hottest user's rows land in 8 reducer tasks instead of
    * one.
    */
  def skewJoin(s: SparkSession, d: String): DataFrame = {
    val events = Tables.events(s, d)
    val dim = events.groupBy(col("user_id")).agg(count(lit(1)).as("n_user_events"))
    graft.operators.SkewJoin.saltedJoin(
      events.select(col("event_id"), col("user_id"), col("event_type")),
      dim, Seq("user_id"), col("event_id"), 8)
      .select(col("event_id"), col("user_id"), col("event_type"), col("n_user_events"))
      .orderBy(col("event_id"))
  }

  /** The histogram sketch USED as a gate (not just measured):
    * per-language quality floor at the estimated 25th percentile of
    * the lexical-diversity score (snapped to basis points so the
    * histogram's integer domain applies), admission by broadcast
    * threshold — [[quantileSketch]]'s estimator replacing the exact
    * sort window inside the [[qualityPercentileGate]] shape. At 100 TB
    * this swaps the gate's per-stratum corpus sort for a
    * #strata × #bins aggregate; the est ≥ exact bias makes the floor
    * at most one bin stricter, never looser.
    */
  def qualityHistogramGate(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val scored = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      floor(size(array_distinct(toks)).cast("double") / size(toks).cast("double") * 10000)
        .cast("long").as("score_bp"))
    val thresholds = graft.operators.Expectations
      .histogramQuantiles(scored, "lang", col("score_bp"), 64L, Seq(2500))
      .select(col("lang"), col("est_value").as("threshold_bp"))
    scored.join(broadcast(thresholds), "lang")
      .where(col("score_bp") >= col("threshold_bp"))
      .select(col("doc_id"), col("lang"), col("score_bp"), col("threshold_bp"))
      .orderBy(col("doc_id"))
  }

  /** Canonicalization composed INTO dedup ([[graft.plans.NfcClean]] →
    * [[graft.operators.Dedup.exactGroups]]): every document appears
    * twice — once with a precomposed suffix, once (under a shifted id)
    * with the byte-DIFFERENT decomposed spelling of the same glyphs.
    * Raw fingerprints would see two distinct texts; after `nfc_clean`
    * every pair collapses to one group of exactly 2 — the reason
    * normalization runs before fingerprinting in any real pipeline.
    */
  def dedupExactNfc(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.register(s)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val composed = docs.select(col("doc_id"),
      concat(col("text"), lit(" café")).as("text"))
    val decomposed = docs.select((col("doc_id") + 10000000L).as("doc_id"),
      concat(col("text"), lit(" café")).as("text"))
    val corpus = composed.union(decomposed)
      .select(col("doc_id"), call_function("nfc_clean", col("text")).as("text"))
    Dedup.exactGroups(corpus, "text", "doc_id").orderBy(col("fingerprint"))
  }

  /** Z-order layout key ([[graft.plans.MortonCode]] via
    * [[graft.operators.Layout.mortonCode]]): the interleave of
    * (`n_chars`, md5-coin mod 2^16) that [[graft.operators.Layout.zorderLayout]]
    * clusters files by — sorting on it keeps per-file min/max narrow
    * on BOTH dimensions (the pruning measurement itself is
    * LayoutSpec's file-audit test; this row pins the code arithmetic
    * bit-for-bit against the oracle's shift/mask replay).
    */
  def zorderCode(s: SparkSession, d: String): DataFrame = {
    val coin16 = pmod(
      graft.plans.Md5Prefix.of(col("doc_id").cast("string"), 6),
      lit(65536L))
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), coin16.as("dim_b"),
        graft.operators.Layout.mortonCode(col("n_chars"), coin16, 16).as("zcode"))
      .orderBy(col("doc_id"))
  }

  /** Hilbert layout key ([[graft.plans.HilbertCode]] via
    * [[graft.operators.Layout.hilbertCode]]): the same
    * (`n_chars`, md5-coin) plane as [[zorderCode]], indexed by the
    * Hilbert curve instead of the Z-curve — the layout key with no
    * quadrant-seam jumps (every step Manhattan-adjacent, the property
    * LayoutSpec pins), which is why Delta/Iceberg ship it as ZORDER's
    * successor. The oracle replays the quadrant-rotation walk with a
    * 16-level recursive CTE, so every branch of the rotate/reflect
    * arithmetic is pinned bit-for-bit.
    */
  def hilbertCode(s: SparkSession, d: String): DataFrame = {
    val coin16 = pmod(
      graft.plans.Md5Prefix.of(col("doc_id").cast("string"), 6),
      lit(65536L))
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), coin16.as("dim_b"),
        graft.operators.Layout.hilbertCode(col("n_chars"), coin16, 16).as("hcode"))
      .orderBy(col("doc_id"))
  }

  /** Zone-map skip audit across candidate layouts
    * ([[graft.operators.Layout.zonemapSkipAudit]]): ingestion order vs
    * single-column sort vs Z-order over the same (n_chars, md5-coin)
    * plane as [[zorderCode]], 64 simulated files, two probe boxes (one
    * narrow in each dimension). The pruning claim behind
    * [[graft.operators.Layout.zorderLayout]] becomes an oracle-checked
    * number: ingest skips ~nothing, sort_a prunes only its own column,
    * Z-order prunes on BOTH.
    */
  def layoutZonemap(s: SparkSession, d: String): DataFrame = {
    val coin16 = pmod(
      graft.plans.Md5Prefix.of(col("doc_id").cast("string"), 6),
      lit(65536L))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), coin16.as("dim_b"))
      .withColumn("zcode",
        graft.operators.Layout.mortonCode(col("n_chars"), col("dim_b"), 16))
    graft.operators.Layout.zonemapSkipAudit(docs, "n_chars", "dim_b",
      Seq(
        "ingest" -> Seq(col("doc_id")),
        "sort_a" -> Seq(col("n_chars"), col("doc_id")),
        "zorder" -> Seq(col("zcode"), col("doc_id"))),
      numFiles = 64,
      boxes = Seq(
        ("a_slice", 2000L, 2200L, 0L, 65535L),
        ("b_slice", 0L, 1000000L, 0L, 4095L)))
  }

  /** nDCG@10 of the 16-dim Matryoshka-prefix ranking against graded
    * relevance from the exact 64-dim ranking
    * ([[graft.operators.Retrieval.ndcgAtK]]) — the rank-aware twin of
    * [[annMatryoshka]]'s recall row: same fits, but measuring whether
    * the truncated retriever keeps the BEST neighbors on top, not just
    * in the set.
    */
  def retrievalNdcg(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val trunc = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
    graft.operators.Retrieval.ndcgAtK(
      Similarity.bruteForceTopK(trunc, trunc.where(col("vec_id") < 10), k = 10),
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), k = 10))
  }

  /** MRR@10 + recall@10 of the 16-dim-truncated retrieval against the
    * full-dimension exact ranking ([[graft.operators.Retrieval.mrrAtK]])
    * — the rank-metric pair next to [[retrievalNdcg]] on the SAME
    * candidate tables: nDCG grades the ordering, MRR the time-to-first-
    * relevant, recall the set coverage.
    */
  def retrievalMrr(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val trunc = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
    graft.operators.Retrieval.mrrAtK(
      Similarity.bruteForceTopK(trunc, trunc.where(col("vec_id") < 10), k = 10),
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), k = 10))
  }

  /** Prefix-cache savings profile
    * ([[graft.operators.TextAnalysis.prefixCacheProfile]]): per
    * language, the token mass a radix prompt cache would serve from
    * cache — computed exactly via the sorted-neighbor LCP trie
    * identity, no trie built. The serving-side ROI number behind
    * automatic prefix caching.
    */
  def promptPrefixCache(s: SparkSession, d: String): DataFrame =
    TextAnalysis.prefixCacheProfile(Tables.documents(s, d), "text", "doc_id", "lang")

  /** Data-scaling curve ([[graft.operators.TextAnalysis.scalingCurve]]):
    * unigram-LM NLL on a fixed held-out bucket as training data grows
    * 1/8 → 1/4 → 1/2 of the corpus, plus the log-log OLS slope — the
    * "does more data still help" exponent, all three subset models
    * read off ONE corpus token pass.
    */
  def lmScalingCurve(s: SparkSession, d: String): DataFrame =
    TextAnalysis.scalingCurve(spread(Tables.documents(s, d), s), "text", "doc_id")

  /** Exact average precision (area under the precision–recall curve) of
    * the hash classifier against the independent "long document" truth
    * ([[graft.operators.EvalMetrics.averagePrecision]]) — the
    * imbalance-honest companion of `roc_auc` on the same score/truth
    * pair as `quality_calibration`.
    */
  def evalAuprc(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val scored = QualityClassifier.scoreHashModel(spread(docs, s), "text", "doc_id")
    val truth = docs.select(col("doc_id"),
      (size(split(lower(trim(col("text"))), "\\s+")) >= 45).as("is_long"))
    graft.operators.EvalMetrics.averagePrecision(
      scored.join(truth, Seq("doc_id")), "score", "is_long", "doc_id")
  }

  /** MAD robust outlier gate per language
    * ([[graft.operators.Expectations.madOutliers]]): exact lower
    * medians, integer cross-multiplied modified z-score flags — the
    * robust detector next to `quality_winsorize`'s conditioner.
    */
  def qualityMad(s: SparkSession, d: String): DataFrame =
    graft.operators.Expectations.madOutliers(
      Tables.documents(s, d), "lang", col("n_chars"), "doc_id")

  /** Cross-source quantile normalization of the length score
    * ([[graft.operators.CorpusSelection.quantileNormalize]]): each
    * source's n_chars distribution mapped onto the shared 20-bucket
    * target — the batch-effect fix that makes one admission threshold
    * fair across sources whose raw score scales differ.
    */
  def qualityQnorm(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection.quantileNormalize(
      Tables.documents(s, d), "source", "doc_id", col("n_chars"), buckets = 20)

  /** t-closeness audit over the same (lang, length-bucket) classes and
    * `source` sensitive attribute as [[privacyLdiversity]]
    * ([[graft.operators.Privacy.tCloseness]]) — completing the
    * k-anonymity → l-diversity → t-closeness release ladder: classes
    * whose source mix strays from the corpus-wide mix by total-variation
    * distance > 0.25 still leak even when l-diverse.
    */
  def privacyTcloseness(s: SparkSession, d: String): DataFrame =
    graft.operators.Privacy.tCloseness(
      Tables.documents(s, d)
        .select(col("lang"), expr("n_chars div 500").as("len_bucket"), col("source")),
      "lang", "len_bucket", "source", t = 0.25)

  /** IVF nprobe→recall tuning curve
    * ([[graft.operators.Similarity.ivfProbeSweep]]): recall@10 at
    * nprobe 1/2/4/8 from ONE fit, ONE assignment, ONE scoring join —
    * the production "how many cells must I probe" measurement next to
    * the fixed-nprobe `ann_ivf`/`ann_recall` rows.
    */
  def annIvfSweep(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfProbeSweep(emb, emb.where(col("vec_id") < 10), k = 10, dim = 64)
  }

  /** NN-descent neighbor graph ([[graft.operators.AnnGraph.buildGraph]]):
    * the HNSW/Vamana-class index build — multi-probe LSH init (planes=5,
    * the ann_lsh LCG hyperplanes), two deterministic NN-descent rounds,
    * degree cap 8, plus id-hash long-range init edges (the expander half
    * of the init). Emits the full directed adjacency; the oracle replays
    * init and both rounds in SQL (the ann_ivf discipline), so the entire
    * "model fit" is hash-verified bit-for-bit.
    */
  def annGraph(s: SparkSession, d: String): DataFrame =
    AnnGraph.buildGraph(Tables.embeddings(s, d), degree = 8, planes = 5, groupBits = 5)
      .orderBy(col("vec_id"), col("rank"))

  /** Beam search over the NN-descent graph
    * ([[graft.operators.AnnGraph.beamSearch]]): 10 queries from the
    * LSH-seeded entry beam, beam 16, three frontier rounds, top-10 — the
    * greedy search loop of HNSW layer 0, fully oracle-replayed.
    */
  def annGraphTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    AnnGraph.beamSearch(
      AnnGraph.buildGraph(emb, degree = 8, planes = 5, groupBits = 5), emb,
      emb.where(col("vec_id") < 10), k = 10, beam = 16, planes = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Recall@10 of the graph-ANN beam search against brute force — the
    * deployment-gating measurement for the graph index, same harness
    * shape as [[annRecall]].
    */
  def annGraphRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.where(col("vec_id") < 10)
    Similarity.recallAtK(
      AnnGraph.beamSearch(
        AnnGraph.buildGraph(emb, degree = 8, planes = 5, groupBits = 5),
        emb, q, k = 10, beam = 16, planes = 5),
      Similarity.bruteForceTopK(emb, q, k = 10))
      .orderBy(col("query_id"))
  }

  /** Top principal component of the embedding corpus
    * ([[graft.operators.Similarity.topPrincipalComponent]]): power
    * iteration on the exact integer scatter matrix — the dominant
    * anisotropy axis ("All-but-the-top"), next to [[embWhiten]]'s
    * diagonal standardization; the full PCA step the distributed-
    * training family was missing.
    */
  def embPcaTop(s: SparkSession, d: String): DataFrame =
    Similarity.topPrincipalComponent(Tables.embeddings(s, d), "vec_id", "embedding",
      dim = 64)

  /** Per-vector anisotropy alignment
    * ([[graft.operators.Similarity.anisotropyAlignment]]): cos(v, u)
    * against the fitted top component and the energy fraction a
    * debias pass would keep — the operational half of
    * "All-but-the-top" next to [[embPcaTop]]'s fit.
    */
  def embDebias(s: SparkSession, d: String): DataFrame =
    Similarity.anisotropyAlignment(Tables.embeddings(s, d), "vec_id", "embedding",
      dim = 64).orderBy(col("vec_id"))

  /** ε-DP median release per language over the length-bucket domain
    * ([[graft.operators.Privacy.dpQuantile]], exponential mechanism as
    * reproducible Gumbel-max) — the second DP primitive next to
    * `dp_counts`, with the exact median riding along as the
    * utility-loss audit.
    */
  def dpQuantileLen(s: SparkSession, d: String): DataFrame =
    graft.operators.Privacy.dpQuantile(
      Tables.documents(s, d)
        .select(col("lang"), expr("n_chars div 100").as("bucket")),
      "lang", "bucket", epsilon = 1.0, q = 0.5)

  /** Event-rate anomaly monitor ([[graft.operators.RateAnomaly]]):
    * per event type, minute buckets z-scored against the trailing
    * 10-bucket baseline. Integer window sums + single-division floats,
    * replayed exactly by the oracle.
    */
  def eventAnomaly(s: SparkSession, d: String): DataFrame =
    graft.operators.RateAnomaly.detect(Tables.events(s, d), "event_type", "ts")
      .orderBy(col("event_type"), col("bucket"))

  /** Chunk→doc embedding mean pooling
    * ([[graft.operators.Similarity.meanPoolGrid]]): every 4
    * consecutive vec_ids play one document's chunks; componentwise
    * mean on the 2^20 integer grid, emitted as scalar (group, dim)
    * rows.
    */
  def embPool(s: SparkSession, d: String): DataFrame =
    graft.operators.Similarity
      .meanPoolGrid(Tables.embeddings(s, d), expr("vec_id div 4"), "embedding")
      .orderBy(col("group_id"), col("dim"))

  /** Histogram-percentile sketch next to the exact rank window
    * ([[graft.operators.Expectations.histogramQuantiles]]) — the
    * accuracy harness for the bounded approx-percentile path: per
    * language, p50/p90/p99 of `n_chars` estimated from a width-16
    * fixed histogram (one `(lang, bin)` count aggregate — #strata×#bins
    * rows shuffle, constant in corpus size) against the exact discrete
    * percentile (a full per-stratum sort window — the side you don't
    * run at 100 TB). `err` is bounded by `binWidth − 1` by
    * construction; integer arithmetic end to end.
    */
  def quantileSketch(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val binWidth = 16L
    val pbs = Seq(5000, 9000, 9900)
    val hist = graft.operators.Expectations
      .histogramQuantiles(docs, "lang", col("n_chars"), binWidth, pbs)
    val w = Window.partitionBy(col("lang"))
    def atRank(bp: Int) =
      max(when(col("_rn") === expr(s"(_cnt * ${bp}L + 9999L) DIV 10000L"), col("n_chars")))
    val exactWide = docs
      .withColumn("_rn", row_number().over(w.orderBy(col("n_chars"))))
      .withColumn("_cnt", count(lit(1)).over(w))
      .groupBy(col("lang"))
      .agg(atRank(pbs.head).as(s"_e${pbs.head}"),
        pbs.tail.map(p => atRank(p).as(s"_e$p")): _*)
    val exact = exactWide.select(col("lang"),
      explode(map(pbs.flatMap(p => Seq(lit(p), col(s"_e$p"))): _*)).as(Seq("p_bp", "exact_value")))
    hist.join(exact, Seq("lang", "p_bp"))
      .select(col("lang"), col("p_bp"), col("n_rows"), col("exact_value"),
        col("est_value"), (col("est_value") - col("exact_value")).as("err"))
      .orderBy(col("lang"), col("p_bp"))
  }

  /** Unicode canonicalization ([[graft.plans.NfcClean]]): NFC
    * composition + C0/DEL control strip, the pass that runs BEFORE
    * fingerprinting so byte-variant spellings of the same glyphs dedup
    * together. The corpus is ASCII (NFC is the identity on it), so the
    * row PLANTS a decomposed suffix on every document — combining
    * acute (U+0301), the Angstrom compatibility singleton (U+212B),
    * and a BEL control — and hash-compares the full normalized text:
    * a kernel that failed to compose, drop, or pass through would
    * diverge on every row (the [[dedupIncremental]] planting lesson).
    */
  def textNormalize(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.register(s)
    // decomposed on purpose: "cafe" + COMBINING ACUTE, ANGSTROM SIGN,
    // BEL - NFC must compose the first two (U+00E9, U+00C5) and the
    // control strip must drop the third
    val planted = concat(col("text"), lit(" cafe\u0301 \u212B\u0007end"))
    Tables.documents(s, d)
      .select(col("doc_id"), call_function("nfc_clean", planted).as("text_norm"))
      .withColumn("n_chars_norm", length(col("text_norm")))
      .orderBy(col("doc_id"))
  }

  /** Cross-run near-dup ([[graft.operators.Dedup.incrementalNearDup]]):
    * even-id docs play the persisted store, odd-id docs the incoming
    * batch; each batch doc reports its best stored near-match at
    * J ≥ 0.5. The corpus's planted near-dup pairs span the even/odd
    * split, so the row genuinely flags cross-run re-crawls (the
    * [[dedupIncremental]] planting lesson applied to the NEAR-dup
    * axis). Oracle: exhaustive batch×store string-shingle Jaccard with
    * the identical best-match rule — exhaustive is affordable at the
    * oracle's sf, and banding recall at J ≥ 0.5 on this bimodal corpus
    * is 1 up to the S-curve tail `minhash_banding` measures.
    */
  def dedupIncrementalMinhash(s: SparkSession, d: String): DataFrame = {
    val docs = spread(Tables.documents(s, d), s).select(col("doc_id"), col("text"))
    val store = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val batch = docs.where(pmod(col("doc_id"), lit(2)) =!= 0)
    Dedup.incrementalNearDup(batch, store, "text", "doc_id")
      .orderBy(col("batch_id"))
  }

  /** MinHash calibration curve — the sketch-accuracy harness for the
    * near-dup family (the [[annRecall]] pattern applied to similarity
    * ESTIMATION rather than retrieval): for every lang-blocked doc
    * pair, the 128-permutation signature-agreement estimate next to
    * the exact shingle Jaccard, aggregated into ten exact-Jaccard
    * bins. A healthy sketch reads as a diagonal (`mean_est` ≈ bin
    * midpoint) with the binomial `sqrt(J(1-J)/128)` spread; a broken
    * permutation family reads as a flat or biased curve — this row is
    * what justifies trusting `dedup_minhash`'s banding thresholds.
    *
    * Exhaustive pairs are EVALUATION-ONLY posture (like [[annRecall]]'s
    * brute-force side): production similarity always goes through the
    * LSH-bucketed candidate join. Everything the oracle replays is
    * integer arithmetic — md5-prefix shingle coins, minstd-LCG
    * coefficients (the `ann_lsh` replay discipline), `(a·x+b) mod
    * (2^31−1)` mins, match counts — so the only doubles are exact
    * power-of-two or small-integer divisions and the compare is
    * bit-for-bit.
    */
  /** Shared signature table of the two minhash harnesses
    * ([[minhashAccuracy]], [[minhashBanding]]): md5-coin shingle sets
    * over the deterministic id-window probe (`doc_id < 1000` — the
    * harness needs a few thousand pairs, not the corpus cross product;
    * evaluation posture like annRecall's query subset), signed with
    * 128 minstd-LCG permutations the oracles regenerate exactly.
    */
  private def minhashHarnessSigs(s: SparkSession, d: String): DataFrame = {
    val numHashes = 128
    val states = {
      var st = (42L * 2654435761L) % 2147483646L + 1L
      val out = Vector.newBuilder[Long]
      var i = 0
      while (i < 8 + 2 * numHashes) {
        st = st * 48271L % 2147483647L
        if (i >= 8) out += st
        i += 1
      }
      out.result()
    }
    val a = (0 until numHashes).map(j => states(2 * j))
    val b = (0 until numHashes).map(j => states(2 * j + 1))
    val coined = spread(Tables.documents(s, d).where(col("doc_id") < 1000), s)
      .select(col("doc_id"), col("lang"),
        array_sort(array_distinct(transform(Dedup.shingles(col("text"), 3),
          sh => conv(substring(md5(sh), 1, 6), 16, 10).cast("long")))).as("coins"))
      .where(size(col("coins")) > 0)
    coined.select(col("doc_id"), col("lang"), col("coins"),
      Dedup.minHashSignatureExpr(col("coins"), a, b, 2147483647L, 1L << 31).as("sig"))
  }

  def minhashAccuracy(s: SparkSession, d: String): DataFrame = {
    val numHashes = 128
    val sigs = minhashHarnessSigs(s, d)
      .materialized // both sides of the pair join
    val x = sigs.select(col("lang"), col("doc_id").as("a_id"), col("coins").as("ca"), col("sig").as("sa"))
    val y = sigs.select(col("lang"), col("doc_id").as("b_id"), col("coins").as("cb"), col("sig").as("sb"))
    val pairs = x.join(y, Seq("lang")).where(col("a_id") < col("b_id"))
      .select(
        aggregate(zip_with(col("sa"), col("sb"), (u, v) => when(u === v, 1).otherwise(0)),
          lit(0), (acc, e) => acc + e).as("n_match"),
        Dedup.jaccardSorted(col("ca"), col("cb")).as("exact_j"))
    pairs
      .groupBy(least(floor(col("exact_j") * 10).cast("int"), lit(9)).as("bin"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("n_match")).as("total_matches"),
        min(col("n_match")).as("min_match"),
        max(col("n_match")).as("max_match"))
      .select(
        col("bin"), col("n_pairs"), col("total_matches"),
        (col("total_matches").cast("double") / (col("n_pairs") * numHashes).cast("double")).as("mean_est"),
        (col("min_match").cast("double") / lit(numHashes.toDouble)).as("min_est"),
        (col("max_match").cast("double") / lit(numHashes.toDouble)).as("max_est"))
      .orderBy(col("bin"))
  }

  /** The LSH banding S-curve — the measurement that justifies the
    * (bands, rows) choice in `dedup_minhash`: with 32 bands of 4 rows
    * the theoretical collision probability is `1−(1−s⁴)³²` (knee near
    * s* = (1/32)^(1/4) ≈ 0.42), and this row measures the EMPIRICAL
    * curve — per exact-Jaccard bin, the fraction of pairs that became
    * banding candidates. Low bins must stay near 0 (candidate
    * efficiency: work the join does NOT do), high bins near 1
    * (recall: near-dups the banding cannot miss). Band keys are the
    * raw signature slices (no engine-private hash), so the oracle
    * replays candidate generation itself — the one stage of the
    * production minhash path [[minhashAccuracy]] left unmeasured.
    */
  def minhashBanding(s: SparkSession, d: String): DataFrame = {
    val (bands, rows) = (32, 4)
    val sigs = minhashHarnessSigs(s, d).materialized // banded AND paired
    val banded = sigs.select(col("lang"), col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bIdx => array_join(slice(col("sig"), bIdx * rows + 1, lit(rows)), ","))).as(Seq("band", "key")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.lang") === col("y.lang") && col("x.band") === col("y.band") &&
          col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.lang").as("lang"), col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
      .withColumn("is_cand", lit(1L))
    val x = sigs.select(col("lang"), col("doc_id").as("a_id"), col("coins").as("ca"))
    val y = sigs.select(col("lang"), col("doc_id").as("b_id"), col("coins").as("cb"))
    val pairs = x.join(y, Seq("lang")).where(col("a_id") < col("b_id"))
      .select(col("lang"), col("a_id"), col("b_id"),
        Dedup.jaccardSorted(col("ca"), col("cb")).as("exact_j"))
    pairs.join(cand, Seq("lang", "a_id", "b_id"), "left")
      .groupBy(least(floor(col("exact_j") * 10).cast("int"), lit(9)).as("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("is_cand"), lit(0L))).as("n_candidates"))
      .withColumn("candidate_rate",
        col("n_candidates").cast("double") / col("n_pairs").cast("double"))
      .orderBy(col("bin"))
  }

  /** b-bit minwise hashing accuracy (Li & König 2010) — the fourth
    * sketch-accuracy harness: keep only the LOWEST bit of each of the
    * 128 minhash values (a 32x signature-storage shrink, the trick that
    * makes web-scale pairwise dedup indexes fit in memory) and measure,
    * per exact-Jaccard bin over the same [[minhashHarnessSigs]] probe
    * window, the mean bit-agreement `A` and the derived estimate
    * `J_est = 2A − 1` (for 1 bit, E[A] = (1+J)/2 up to the universe
    * correction term). A flat curve or an estimate biased off the bin
    * diagonal means the bit extraction or the underlying permutations
    * broke — caught here before the storage-optimized index silently
    * mis-dedups.
    */
  def minhashBbit(s: SparkSession, d: String): DataFrame = {
    val numHashes = 128
    val sigs = minhashHarnessSigs(s, d)
      .materialized // both sides of the pair join
    val x = sigs.select(col("lang"), col("doc_id").as("a_id"), col("coins").as("ca"), col("sig").as("sa"))
    val y = sigs.select(col("lang"), col("doc_id").as("b_id"), col("coins").as("cb"), col("sig").as("sb"))
    x.join(y, Seq("lang")).where(col("a_id") < col("b_id"))
      .select(
        aggregate(zip_with(col("sa"), col("sb"),
          (u, v) => when(u.bitwiseAND(lit(1)) === v.bitwiseAND(lit(1)), 1).otherwise(0)),
          lit(0), (acc, e) => acc + e).as("n_agree"),
        Dedup.jaccardSorted(col("ca"), col("cb")).as("exact_j"))
      .groupBy(least(floor(col("exact_j") * 10).cast("int"), lit(9)).as("bin"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("n_agree")).as("total_agree"))
      .select(col("bin"), col("n_pairs"), col("total_agree"),
        (col("total_agree").cast("double") / (col("n_pairs") * numHashes).cast("double"))
          .as("mean_agree"),
        (col("total_agree").cast("double") / (col("n_pairs") * numHashes).cast("double")
          * lit(2.0) - lit(1.0)).as("mean_est_j"))
      .orderBy(col("bin"))
  }

  /** SimHash fidelity curve — the third sketch-accuracy harness: mean
    * 48-bit Hamming distance per exact-Jaccard bin over the same
    * [[minhashHarnessSigs]] probe window. The inverse slope (high-J
    * pairs → low hamming, unrelated pairs → hamming near 24 ≈ bits/2)
    * is what justifies `dedup_simhash`'s hamming ≤ 3 threshold; an
    * implementation bug in the native [[graft.plans.SimHash64]] kernel
    * (wrong bit, wrong hash prefix) flattens the curve and
    * hash-diverges here before it silently mis-dedups anywhere else.
    */
  def simhashAccuracy(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.register(s)
    val base = spread(Tables.documents(s, d).where(col("doc_id") < 1000), s)
      .select(col("doc_id"), col("lang"),
        array_sort(array_distinct(transform(Dedup.shingles(col("text"), 3),
          sh => conv(substring(md5(sh), 1, 6), 16, 10).cast("long")))).as("coins"),
        call_function("simhash64", col("text"), lit(48)).as("simhash"))
      .where(size(col("coins")) > 0 && col("simhash").isNotNull)
      .materialized
    val x = base.select(col("lang"), col("doc_id").as("a_id"), col("coins").as("ca"), col("simhash").as("fa"))
    val y = base.select(col("lang"), col("doc_id").as("b_id"), col("coins").as("cb"), col("simhash").as("fb"))
    x.join(y, Seq("lang")).where(col("a_id") < col("b_id"))
      .select(
        bit_count(col("fa").bitwiseXOR(col("fb"))).as("hamming"),
        Dedup.jaccardSorted(col("ca"), col("cb")).as("exact_j"))
      .groupBy(least(floor(col("exact_j") * 10).cast("int"), lit(9)).as("bin"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("hamming")).as("total_hamming"),
        min(col("hamming")).as("min_hamming"), max(col("hamming")).as("max_hamming"))
      .select(col("bin"), col("n_pairs"), col("total_hamming"),
        (col("total_hamming").cast("double") / col("n_pairs").cast("double")).as("mean_hamming"),
        col("min_hamming"), col("max_hamming"))
      .orderBy(col("bin"))
  }

  /** Per-stratum token-distribution drift
    * ([[graft.operators.TextAnalysis.tokenDrift]]): even-id docs play
    * the reference crawl, odd-id docs the incoming one; JS divergence
    * compared at float (order-sensitive double sums — the bm25
    * discipline).
    */
  def corpusDrift(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TextAnalysis.tokenDrift(
      docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1),
      "text", "lang")
      .select(col("lang"), col("n_ref_tokens"), col("n_cur_tokens"), col("n_terms"),
        col("js_divergence").cast("float").as("js_divergence"))
      .orderBy(col("lang"))
  }

  /** Per-document quality metrics (pure projection, codegen'd). */
  def textQuality(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityMetrics(Tables.documents(s, d), "text")
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct_tokens"), col("n_chars_text"),
        col("avg_token_len"), col("stopword_hits"), col("stopword_ratio"),
        col("distinct_ratio"), col("punct_count"), col("is_quality"))
      .orderBy(col("doc_id"))

  /** Stopword-hit language ID: per-language scores + argmax with a
    * deterministic alphabetical tie-break.
    */
  /** Lang-ID confusion matrix — the evaluation-harness row for
    * [[textLangid]] (the [[annRecall]] pattern applied to the
    * classifier): per (true, predicted) pair, document count and the
    * pair's share of the true language — the measurement that decides
    * whether the heuristic lang-ID is good enough to gate on.
    */
  def langidConfusion(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang_true"))
    textLangid(s, d)
      .select(col("lang_true"), col("lang_pred"))
      .groupBy(col("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("frac_of_true",
        col("n_docs").cast("double") / sum(col("n_docs")).over(w).cast("double"))
      .orderBy(col("lang_true"), col("lang_pred"))
  }

  def textLangid(s: SparkSession, d: String): DataFrame = {
    val scores = TextAnalysis.langIdScores(col("text"))
    val withScores = Tables.documents(s, d).select(
      col("doc_id") +: col("lang").as("lang_true") +:
        scores.map { case (l, c) => c.as(s"score_$l") }: _*)
    val best = greatest(scores.map { case (l, _) => col(s"score_$l") }: _*)
    val pred = coalesce(scores.map { case (l, _) => when(col(s"score_$l") === best, lit(l)) }: _*)
    withScores
      .withColumn("lang_pred", pred)
      .orderBy(col("doc_id"))
  }

  /** Token statistics: whitespace tokens + BPE-ish subword count. */
  def textTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).as("n_ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish_tokens"))
      .orderBy(col("doc_id"))

  /** Training-mix selection under a per-language token budget: rank each
    * language's docs by lexical diversity (distinct-token ratio, the
    * quality signal), admit highest-first while the running BPE-ish token
    * sum stays ≤ 4000 — "fill each language's slice of the mix with its
    * best documents". One window per stratum; see
    * [[graft.operators.CorpusSelection]] for the skewed-stratum scale
    * path (approximate-threshold pre-filter).
    */
  def selectTokenBudget(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val base = Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      (size(array_distinct(toks)).cast("double") / size(toks).cast("double")).as("score"),
      TextAnalysis.bpeishTokenCount(col("text")).as("n_sel_tokens"))
    graft.operators.CorpusSelection
      .selectByTokenBudget(base, "lang", col("score"), col("n_sel_tokens"), 4000L, "doc_id")
      .orderBy(col("lang"), col("cum_tokens"), col("doc_id"))
  }

  /** DSIR data selection: treat source `src0` as the curated target
    * corpus (the Wikipedia stand-in) and pull the 100 raw documents
    * whose hashed unigram+bigram profile has the highest importance
    * weight `mean_b[ln p_target(b) − ln p_raw(b)]`
    * ([[graft.operators.CorpusSelection.dsirScores]]). The raw pool is
    * featurized once; the model is a broadcast 4096-row ratio table;
    * the top-k is TakeOrderedAndProject — no global sort.
    */
  def selectDsir(s: SparkSession, d: String): DataFrame = {
    val docs = spread(Tables.documents(s, d), s)
    graft.operators.CorpusSelection
      .selectByDsir(
        docs.select(col("doc_id"), col("text")),
        docs.filter(col("source") === "src0").select(col("doc_id"), col("text")),
        "text", "doc_id", k = 100)
      .orderBy(col("rank"))
  }

  /** Concat-and-chunk sequence packing, sharded by language (each shard
    * packs as an independent token stream — the production layout that
    * keeps the global-sort window parallel): per doc, its stream offset,
    * owning 2048-token training sequence, and whether it straddles a cut.
    */
  def packSequences(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection
      .packSequences(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text")),
        TextAnalysis.bpeishTokenCount(col("text")), 2048L, "doc_id", shardCol = Some("lang"))
      .select(col("doc_id"), col("lang"), col("n_seq_tokens"), col("start_offset"),
        col("seq_id"), col("end_seq_id"))
      .orderBy(col("lang"), col("doc_id"))

  /** Quality-weighted deterministic downsampling
    * ([[graft.operators.CorpusSelection.weightedSample]]): each doc
    * survives with probability = its lexical-diversity score, so the mix
    * thins the low-quality tail while staying bit-reproducible (md5
    * coin, no seed, no RNG state) — the importance-sampling move of a
    * training-mix builder.
    */
  def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val base = Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      (size(array_distinct(toks)).cast("double") / size(toks).cast("double")).as("weight"))
    graft.operators.CorpusSelection.weightedSample(base, "doc_id", col("weight"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic 20-doc sample per language (md5-scrambled order) —
    * reproducible stratified corpus sampling for eval slices / ablations.
    */
  def sampleStratified(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection
      .stratifiedSample(Tables.documents(s, d).select(col("doc_id"), col("lang")), "lang", 20, "doc_id")
      .orderBy(col("lang"), col("sample_rank"))

  /** End-to-end corpus curation in ONE query — the composition a
    * reference user actually runs: quality gate (`is_quality`) → exact
    * dedup keeping each fingerprint's canonical (min-id) doc → per-
    * language token-budget selection, highest lexical diversity first.
    * Every stage is an already-verified operator; the chain is pure
    * map work + one fingerprint window + one selection window, so the
    * whole curation costs two exchanges beyond the scan. The heavy
    * near-dup/decontamination passes run as their own upstream stages
    * (dedup_clusters / dedup_decontaminate).
    */
  def corpusCuration(s: SparkSession, d: String): DataFrame = {
    val q = TextAnalysis.qualityMetrics(Tables.documents(s, d), "text")
      .where(col("is_quality"))
      .select(col("doc_id"), col("lang"), col("text"), col("distinct_ratio").as("score"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_sel_tokens"))
    val canon = q
      .withColumn("_fp", Dedup.exactFingerprint(col("text")))
      .withColumn("_canon", min(col("doc_id")).over(Window.partitionBy(col("_fp"))))
      .where(col("doc_id") === col("_canon"))
      .select(col("doc_id"), col("lang"), col("score"), col("n_sel_tokens"))
    graft.operators.CorpusSelection
      .selectByTokenBudget(canon, "lang", col("score"), col("n_sel_tokens"), 4000L, "doc_id")
      .orderBy(col("lang"), col("cum_tokens"), col("doc_id"))
  }

  /** Per-language corpus profile — doc counts, token totals, exact
    * discrete length percentiles (rank-window, no collect_list, no
    * float interpolation), mean lengths, quality fraction. See
    * [[graft.operators.TextAnalysis.corpusProfile]].
    */
  def corpusStats(s: SparkSession, d: String): DataFrame =
    TextAnalysis.corpusProfile(Tables.documents(s, d), "text", "lang")
      .orderBy(col("stratum"))

  /** Gopher-style repetition quality signals: top-/duplicate-n-gram
    * fractions for n=2,3 plus token-level duplication — the boilerplate
    * detector of a corpus quality gate (pure per-row kernel map work; see
    * [[graft.operators.TextAnalysis.repetitionMetrics]] /
    * [[graft.plans.NgramStats]]).
    */
  def textRepetition(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetitionMetrics(Tables.documents(s, d), "text")
      .select(col("doc_id"),
        col("n_2grams"), col("top_2gram_frac"), col("dup_2gram_frac"),
        col("n_3grams"), col("top_3gram_frac"), col("dup_3gram_frac"),
        col("dup_token_frac"))
      .orderBy(col("doc_id"))

  /** PII scrubbing — the compliance pass of a training-data pipeline:
    * per-doc hit counts per pattern + redacted text. The synthetic corpus
    * contains no PII (a redaction no-op would be a trivially-green driver
    * row — the [[dedupEmbedding]] lesson), so the query PLANTS
    * deterministic PII inside the lineage: docs get an email, IPv4, or
    * phone suffix keyed on doc_id % 3, built identically in the oracle
    * SQL — the driver then verifies real match counts and real
    * redactions, plus the untouched remainder of every document.
    */
  /** Deterministic PII planting (shared by [[textPii]] and
    * [[curationFull]]): appends an email / IPv4 / phone suffix keyed on
    * doc_id % 3, built identically in the oracle SQL — the synthetic
    * corpus contains no real PII, so an unplanted scrub would verify a
    * no-op.
    */
  private def plantPii(text: Column, docId: Column): Column =
    concat(text,
      when(pmod(docId, lit(3)) === 0,
        concat(lit(" reach user"), docId, lit("@example.com or admin@test.org")))
      .when(pmod(docId, lit(3)) === 1,
        concat(lit(" from host 10.0."), pmod(docId, lit(256)), lit(".7")))
      .otherwise(concat(lit(" call +1555"), pmod(docId, lit(10000)) + 1000000)))

  def textPii(s: SparkSession, d: String): DataFrame = {
    val planted = Tables.documents(s, d).select(
      col("doc_id"), plantPii(col("text"), col("doc_id")).as("text"))
    TextAnalysis.piiMetrics(planted, "text")
      .select(col("doc_id"), col("n_email"), col("n_ipv4"), col("n_phone"), col("redacted"))
      .orderBy(col("doc_id"))
  }

  /** [[corpusCuration]] with the round-6 repetition gate added — the
    * full curation chain a pipeline actually runs: quality gate →
    * Gopher repetition gate (dup-2-gram fraction ≤ 0.1, dropping the
    * boilerplate tail — ~10% of this corpus) → exact-dedup canonical →
    * per-language token budget. Still one plan: per-row map work (two
    * n-gram kernel calls ride the quality projection), the fingerprint
    * window, and the selection window — the two-exchange shape of
    * [[corpusCuration]] is unchanged.
    */
  def curationPipeline(s: SparkSession, d: String): DataFrame = {
    val gated = TextAnalysis.repetitionMetrics(
      TextAnalysis.qualityMetrics(Tables.documents(s, d), "text").where(col("is_quality")),
      "text")
      .where(col("dup_2gram_frac") <= 0.1)
      .select(col("doc_id"), col("lang"), col("text"), col("distinct_ratio").as("score"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_sel_tokens"))
    val canon = gated
      .withColumn("_fp", Dedup.exactFingerprint(col("text")))
      .withColumn("_canon", min(col("doc_id")).over(Window.partitionBy(col("_fp"))))
      .where(col("doc_id") === col("_canon"))
      .select(col("doc_id"), col("lang"), col("score"), col("n_sel_tokens"))
    graft.operators.CorpusSelection
      .selectByTokenBudget(canon, "lang", col("score"), col("n_sel_tokens"), 4000L, "doc_id")
      .orderBy(col("lang"), col("cum_tokens"), col("doc_id"))
  }

  /** The FULL curation chain of a training-data pipeline — the builder
    * brief's five gates in ONE job: quality gate → Gopher repetition
    * gate (dup-2-gram fraction ≤ 0.1) → CCNet-style perplexity gate
    * (corpus-trained unigram nll_per_token ≤ 5.5, dropping the ~10%
    * most unusual token distributions of this corpus) → exact-dedup
    * canonical → per-language token budget — with PII scrubbing applied
    * to the SURVIVORS (planted suffixes, the [[textPii]] contract, so
    * the redactions verified are real ones).
    *
    * Plan shape at scale: the per-row gates ride the scan projection;
    * the perplexity score joins back on doc_id (one exchange of a
    * doc_id+float table — the model is corpus-trained, so a join, not a
    * map, is inherent); then the [[corpusCuration]] two windows. The
    * scrub is map work on the budget's survivors only — scrubbing after
    * selection instead of before it cuts the regex volume by the
    * rejection rate, and is the right order whenever the gates don't
    * read the scrubbed text.
    */
  def curationFull(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nll = TextAnalysis.unigramNll(docs, "text", "doc_id", topK = 24)
      .select(col("doc_id"), col("nll_per_token"))
    val gated = TextAnalysis.repetitionMetrics(
        TextAnalysis.qualityMetrics(docs, "text").where(col("is_quality")), "text")
      .where(col("dup_2gram_frac") <= 0.1)
      .join(nll, "doc_id")
      .where(col("nll_per_token") <= 5.5)
      .select(col("doc_id"), col("lang"), col("text"),
        col("distinct_ratio").as("score"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_sel_tokens"),
        col("nll_per_token"))
    val canon = gated
      .withColumn("_fp", Dedup.exactFingerprint(col("text")))
      .withColumn("_canon", min(col("doc_id")).over(Window.partitionBy(col("_fp"))))
      .where(col("doc_id") === col("_canon"))
      .drop("_fp", "_canon")
    val selected = graft.operators.CorpusSelection
      .selectByTokenBudget(canon, "lang", col("score"), col("n_sel_tokens"), 4000L, "doc_id")
      .withColumn("text", plantPii(col("text"), col("doc_id")))
    TextAnalysis.piiMetrics(selected, "text")
      .select(col("doc_id"), col("lang"), col("score"), col("n_sel_tokens"),
        col("nll_per_token"), col("cum_tokens"),
        (col("n_email") + col("n_ipv4") + col("n_phone")).as("n_pii"),
        col("redacted"))
      .orderBy(col("lang"), col("cum_tokens"), col("doc_id"))
  }

  /** [[curationFull]] plus the SIXTH gate — exact 13-gram benchmark
    * decontamination ([[graft.operators.Dedup.ngramContamination]], the
    * dedup_contaminated_ngrams operator) — the complete chain of a
    * training-data pipeline: quality → repetition → perplexity →
    * exact-dedup canonical → decontamination → per-language token
    * budget, PII-scrubbed survivors. Docs with `doc_id % 10 == 7` play
    * the held-out eval set (the [[dedupDecontaminate]] split); the
    * train side is everything else, and any train doc sharing a word
    * 13-gram with ANY eval doc is dropped before the budget window.
    *
    * Plan shape: the decontamination probe grams BROADCAST (an eval
    * set is small by definition), the shingle explode runs only over
    * the survivors of the four earlier gates, and only hit rows reach
    * the contamination aggregate — so the sixth gate adds zero
    * full-corpus shuffles to [[curationFull]]'s two-exchange shape.
    */
  def curationDecontam(s: SparkSession, d: String): DataFrame = {
    val all = Tables.documents(s, d)
    val docs = all.where(pmod(col("doc_id"), lit(10)) =!= 7)
    val evalSet = all.where(pmod(col("doc_id"), lit(10)) === 7)
    val nll = TextAnalysis.unigramNll(docs, "text", "doc_id", topK = 24)
      .select(col("doc_id"), col("nll_per_token"))
    val gated = TextAnalysis.repetitionMetrics(
        TextAnalysis.qualityMetrics(docs, "text").where(col("is_quality")), "text")
      .where(col("dup_2gram_frac") <= 0.1)
      .join(nll, "doc_id")
      .where(col("nll_per_token") <= 5.5)
      .select(col("doc_id"), col("lang"), col("text"),
        col("distinct_ratio").as("score"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_sel_tokens"),
        col("nll_per_token"))
    // checkpointed: canon feeds BOTH the contamination corpus explode
    // and the anti-join's left side — without it the whole four-gate +
    // perplexity subtree executes twice (the physical plan showed the full nll
    // pipeline duplicated; measured ~2x on the sf0.1 row)
    val canon = gated
      .withColumn("_fp", Dedup.exactFingerprint(col("text")))
      .withColumn("_canon", min(col("doc_id")).over(Window.partitionBy(col("_fp"))))
      .where(col("doc_id") === col("_canon"))
      .drop("_fp", "_canon")
      .materialized
    val contaminated = Dedup.ngramContamination(canon, evalSet, "text", "doc_id", n = 13)
    val clean = canon.join(contaminated,
      canon("doc_id") === contaminated("corpus_id"), "left_anti")
    val selected = graft.operators.CorpusSelection
      .selectByTokenBudget(clean, "lang", col("score"), col("n_sel_tokens"), 4000L, "doc_id")
      .withColumn("text", plantPii(col("text"), col("doc_id")))
    TextAnalysis.piiMetrics(selected, "text")
      .select(col("doc_id"), col("lang"), col("score"), col("n_sel_tokens"),
        col("nll_per_token"), col("cum_tokens"),
        (col("n_email") + col("n_ipv4") + col("n_phone")).as("n_pii"),
        col("redacted"))
      .orderBy(col("lang"), col("cum_tokens"), col("doc_id"))
  }

  /** URL/domain-level quality filtering
    * ([[graft.operators.UrlFilter]]) — the C4/RefinedWeb curation gate
    * the text-level chain lacks: registered-domain (eTLD+1) extraction +
    * domain blocklist anti-join. The synthetic corpus has no URL column,
    * so the query PLANTS deterministic URLs keyed on doc_id (the
    * [[textPii]] planting contract, mirrored in the oracle): five
    * domains — two on the blocklist (40% of rows must drop), one under a
    * two-part public suffix (`shop.example.co.uk` → `example.co.uk`,
    * exercising the eTLD+1 rule) — behind alternating subdomains.
    */
  /** [[selectTokenBudget]] through the skewed-stratum APPROX path
    * ([[graft.operators.CorpusSelection.selectByTokenBudgetApprox]]:
    * percentile-probe admission floor + exact window on survivors) —
    * same oracle as the exact row, so the conservative-threshold
    * pre-pass is certified result-identical by the driver, not only by
    * the suite.
    */
  def selectTokenBudgetApprox(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val base = Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      (size(array_distinct(toks)).cast("double") / size(toks).cast("double")).as("score"),
      TextAnalysis.bpeishTokenCount(col("text")).as("n_sel_tokens"))
    graft.operators.CorpusSelection
      .selectByTokenBudgetApprox(base, "lang", col("score"), col("n_sel_tokens"), 4000L, "doc_id")
      .orderBy(col("lang"), col("cum_tokens"), col("doc_id"))
  }

  /** Data-mixture selection
    * ([[graft.operators.CorpusSelection.selectByMixture]]): a 16k-token
    * training mix at target language proportions 40/25/15/12/8 over
    * en/ru/de/fr/es — per-language budgets derived from the weights,
    * highest lexical diversity first, same scoring as
    * [[selectTokenBudget]]. The uneven weights make every stratum's
    * budget distinct, so a budget/stratum mix-up cannot cancel out.
    */
  def selectMixture(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val base = Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      (size(array_distinct(toks)).cast("double") / size(toks).cast("double")).as("score"),
      TextAnalysis.bpeishTokenCount(col("text")).as("n_sel_tokens"))
    graft.operators.CorpusSelection
      .selectByMixture(base, "lang", col("score"), col("n_sel_tokens"), 16000L,
        Map("en" -> 0.40, "ru" -> 0.25, "de" -> 0.15, "fr" -> 0.12, "es" -> 0.08),
        "doc_id")
      .select(col("doc_id"), col("lang"), col("score"), col("n_sel_tokens"), col("cum_tokens"))
      .orderBy(col("lang"), col("cum_tokens"), col("doc_id"))
  }

  /** Deterministic 90/5/5 train/val/test assignment
    * ([[graft.operators.CorpusSelection.assignSplit]]): the md5-coin
    * split that is stable across runs, engines, and corpus growth.
    */
  def splitAssign(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection.assignSplit(
      Tables.documents(s, d).select(col("doc_id"), col("lang")),
      "doc_id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .orderBy(col("doc_id"))

  /** Adaptive per-language quality admission
    * ([[graft.operators.CorpusSelection.percentileGate]]): keep each
    * language's top quartile by lexical-diversity score (p75 in basis
    * points — exact discrete quantile, integer rank arithmetic), the
    * per-stratum-calibrated alternative to one global cutoff.
    */
  def qualityPercentileGate(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        (size(array_distinct(toks)).cast("double") / size(toks).cast("double")).as("score"))
    graft.operators.CorpusSelection.percentileGate(base, "lang", col("score"), 7500)
      .select(col("doc_id"), col("lang"), col("score"), col("threshold_score"))
      .orderBy(col("doc_id"))
  }

  /** Product-quantization codes ([[graft.operators.Similarity.pqEncode]],
    * PQ4×16 over the 64-dim table): four per-sub-space k-means codebooks,
    * each vector → four 4-bit codes. The oracle replays all four seeded
    * fits bit-for-bit in SQL (the `ann_ivf` machinery, prefixed per
    * sub-space) and the same higher-cell tie-break.
    */
  def embPq(s: SparkSession, d: String): DataFrame =
    Similarity.pqEncode(Tables.embeddings(s, d), "vec_id", "embedding", dim = 64)
      .orderBy(col("vec_id"), col("sub_idx"))

  /** IVF×PQ composed top-10
    * ([[graft.operators.Similarity.ivfPqTopK]]): coarse-cell pruning
    * then ADC code scoring — the full modern ANN stack, all three fits
    * oracle-replayed.
    */
  def annIvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfPqTopK(emb, emb.where(col("vec_id") < 10), k = 10, dim = 64)
      .orderBy(col("query_id"), col("rank"))
  }

  /** RESIDUAL IVF×PQ top-10
    * ([[graft.operators.Similarity.ivfPqResidualTopK]]): the deployed
    * FAISS `IVF,PQ` form — PQ codes over `vec − coarse_centroid`
    * residuals, per-(query, probed-cell) LUTs; all fits (coarse + m
    * residual codebooks) oracle-replayed.
    */
  def annIvfPqResidual(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfPqResidualTopK(emb, emb.where(col("vec_id") < 10), k = 10, dim = 64)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Residual IVF×PQ recall@10 vs exact L2 — the accuracy dividend of
    * residual encoding, measured against [[annIvfPqRecall]]'s
    * raw-vector PQ on the same fits.
    */
  def annIvfPqResidualRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.where(col("vec_id") < 10)
    Similarity.recallAtK(
      Similarity.ivfPqResidualTopK(emb, q, k = 10, dim = 64),
      Similarity.l2TopK(emb, q, k = 10))
      .orderBy(col("query_id"))
  }

  /** PQ + exact refine top-10
    * ([[graft.operators.Similarity.pqRefineTopK]], refine factor 5):
    * the ADC shortlist re-ranked by exact L2 — the standard
    * compressed-index recall recovery.
    */
  def annPqRefined(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.pqRefineTopK(emb, emb.where(col("vec_id") < 10), k = 10, dim = 64)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF×PQ recall@10 vs exact L2 — pruning loss AND quantization
    * loss in one number per query (compare with [[annPqRecall]], which
    * isolates quantization alone).
    */
  def annIvfPqRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.where(col("vec_id") < 10)
    Similarity.recallAtK(
      Similarity.ivfPqTopK(emb, q, k = 10, dim = 64),
      Similarity.l2TopK(emb, q, k = 10))
      .orderBy(col("query_id"))
  }

  /** PQ recall@10 against the exact-L2 ground truth
    * ([[graft.operators.Similarity.l2TopK]] — ADC approximates squared
    * L2, not cosine, so this is the honest recall measurement for the
    * PQ family): [[graft.operators.Similarity.recallAtK]] of `ann_pq`
    * vs brute-force L2, per query.
    */
  def annPqRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.where(col("vec_id") < 10)
    Similarity.recallAtK(
      Similarity.pqTopK(emb, q, k = 10, dim = 64),
      Similarity.l2TopK(emb, q, k = 10))
      .orderBy(col("query_id"))
  }

  /** PQ asymmetric-distance top-10
    * ([[graft.operators.Similarity.pqTopK]]): per-query lookup tables
    * over the four codebooks, fixed-point long sums — rank-deterministic
    * and fully oracle-replayed like `ann_ivf`.
    */
  def annPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.pqTopK(emb, emb.where(col("vec_id") < 10), k = 10, dim = 64)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding-table health profile
    * ([[graft.operators.Similarity.embeddingNorms]]): per-vector L2
    * norm, zero components, max |component|, zero-vector flag — the
    * pre-index sanity pass.
    */
  def embNorms(s: SparkSession, d: String): DataFrame =
    Similarity.embeddingNorms(Tables.embeddings(s, d), "vec_id", "embedding")
      .orderBy(col("vec_id"))

  /** Adaptive curation chain: per-language p60 percentile gate
    * ([[graft.operators.CorpusSelection.percentileGate]]) → exact-dedup
    * canonical → per-language token budget — the calibrated-threshold
    * variant of [[corpusCuration]]'s fixed global gate, carrying each
    * language's learned `threshold_score` through to the output for
    * auditability.
    */
  def curationAdaptive(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val base = Tables.documents(s, d).select(
      col("doc_id"), col("lang"), col("text"),
      (size(array_distinct(toks)).cast("double") / size(toks).cast("double")).as("score"),
      TextAnalysis.bpeishTokenCount(col("text")).as("n_sel_tokens"))
    val gated = graft.operators.CorpusSelection.percentileGate(base, "lang", col("score"), 6000)
    val canon = gated
      .withColumn("_fp", Dedup.exactFingerprint(col("text")))
      .withColumn("_canon", min(col("doc_id")).over(Window.partitionBy(col("_fp"))))
      .where(col("doc_id") === col("_canon"))
      .select(col("doc_id"), col("lang"), col("score"), col("threshold_score"), col("n_sel_tokens"))
    graft.operators.CorpusSelection
      .selectByTokenBudget(canon, "lang", col("score"), col("n_sel_tokens"), 4000L, "doc_id")
      .orderBy(col("lang"), col("cum_tokens"), col("doc_id"))
  }

  /** α-sampling (temperature) weights at α=0.3
    * ([[graft.operators.CorpusSelection.temperatureWeights]]): the
    * mBERT/XLM-R low-resource up-sampling rule; probabilities compared
    * at float (pow libm ulps + a #strata double sum).
    */
  def sampleTemperature(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection.temperatureWeights(
      spread(Tables.documents(s, d), s), "lang",
      size(TextAnalysis.tokens(col("text"))), alpha = 0.3)
      .select(col("lang"), col("n_tokens"),
        col("p_raw").cast("float").as("p_raw"),
        col("p_alpha").cast("float").as("p_alpha"),
        col("boost").cast("float").as("boost"))
      .orderBy(col("lang"))

  /** DoReMi-style per-language resampling weights
    * ([[graft.operators.CorpusSelection.mixtureWeights]]): targets are
    * exact binary fractions summing to 1 (normalization is then the
    * identity, so Spark and the oracle divide identical doubles), `es`
    * deliberately absent to exercise the whitelist zero-weight arm.
    */
  def mixtureWeights(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection.mixtureWeights(
      spread(Tables.documents(s, d), s), "lang",
      size(TextAnalysis.tokens(col("text"))),
      Map("en" -> 0.5, "ru" -> 0.25, "de" -> 0.125, "fr" -> 0.125),
      cap = 10.0)
      .orderBy(col("lang"))

  /** Data-echo epoch plan
    * ([[graft.operators.CorpusSelection.epochMixture]]): a 4x-the-
    * corpus token budget split en 40 / zh 20 / de 15 / fr 15 / es 10 —
    * aggressive enough that three of the five languages hit the
    * 4-epoch repetition cap (Muennighoff et al. 2023's cliff) while
    * en/es stay under it, exercising both arms. `n_chars` stands in
    * for tokens (the [[shardBalance]] convention).
    */
  def mixtureEpochs(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection.epochMixture(
      Tables.documents(s, d), "lang", col("n_chars"),
      Map("en" -> 40, "zh" -> 20, "de" -> 15, "fr" -> 15, "es" -> 10),
      budgetPct = 400, capQ10 = 4096L)
      .orderBy(col("stratum"))

  /** Cross-split near-dup leakage
    * ([[graft.operators.CorpusSelection.splitLeakage]]) over the
    * [[dedupSimhash]] pair set and the [[splitAssign]] 90/5/5
    * assignment: every Hamming≤3 pair whose members landed in different
    * splits — the evaluation-contamination audit.
    */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val assign = graft.operators.CorpusSelection.assignSplit(
      docs.select(col("doc_id")), "doc_id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    val pairs = Dedup.simHashPairs(spread(docs, s), "text", "doc_id")
    graft.operators.CorpusSelection.splitLeakage(pairs, assign)
      .select(col("a"), col("b"), col("split_a"), col("split_b"), col("hamming"))
      .orderBy(col("a"), col("b"))
  }

  /** Deterministic URL planting shared by [[urlFilter]] and
    * [[urlDomainCap]] (the [[plantPii]] contract for URLs): five
    * domains keyed on doc_id % 5 behind alternating subdomains,
    * mirrored in the oracle SQL.
    */
  private def plantUrls(docs: DataFrame): DataFrame = {
    val domains = array(
      lit("example.com"), lit("badsite.io"), lit("shop.example.co.uk"),
      lit("spam-tracker.net"), lit("news.example.org"))
    val sub = when(pmod(col("doc_id"), lit(2)) === 0, lit("www")).otherwise(lit("cdn"))
    docs.select(col("doc_id"), col("lang"),
      concat(lit("https://"), sub, lit("."),
        element_at(domains, (pmod(col("doc_id"), lit(5)) + 1).cast("int")),
        lit("/p/"), col("doc_id").cast("string")).as("url"))
  }

  /** Crawl-frontier URL dedup
    * ([[graft.operators.UrlFilter.canonicalGroups]]): every document's
    * clean URL is planted alongside a messy variant of the SAME page —
    * uppercase scheme+host, explicit `:443`, trailing slash, shuffled
    * query with `utm_source` noise, fragment — under a shifted id.
    * Canonicalization must collapse every pair to one group of exactly
    * 2; any missed normalization step leaves singleton groups and
    * hash-diverges.
    */
  def urlCanonical(s: SparkSession, d: String): DataFrame = {
    val clean = plantUrls(Tables.documents(s, d))
      .select(col("doc_id"), concat(col("url"), lit("?a=1&b=2")).as("url"))
    val messy = clean.select(
      (col("doc_id") + 10000000L).as("doc_id"),
      concat(
        upper(regexp_extract(col("url"), "^[^/]*://[^/?]*", 0)), lit(":443"),
        regexp_extract(col("url"), "^[^/]*://[^/?]*([^?]*)", 1), lit("/"),
        lit("?b=2&utm_source=x&a=1#frag")).as("url"))
    graft.operators.UrlFilter
      .canonicalGroups(clean.union(messy), "url", "doc_id")
      .orderBy(col("canonical_url"))
  }

  def urlFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val blocklist = Seq("badsite.io", "spam-tracker.net").toDF("domain")
    graft.operators.UrlFilter
      .filterBlockedDomains(plantUrls(Tables.documents(s, d)), "url", blocklist)
      .select(col("doc_id"), col("lang"), col("url"), col("host"), col("registered_domain"))
      .orderBy(col("doc_id"))
  }

  /** Per-domain quota ([[graft.operators.UrlFilter.capPerDomain]],
    * RefinedWeb-style): at most 60 documents per registered domain over
    * the planted URLs (each domain holds ~100 at sf0.01, so the cap
    * genuinely binds), doc_id ascending as the keep order. The operator
    * runs the salted two-phase top-N (result-identical to one window;
    * the oracle is the one-window form).
    */
  def urlDomainCap(s: SparkSession, d: String): DataFrame =
    graft.operators.UrlFilter
      .capPerDomain(plantUrls(Tables.documents(s, d)), "url", maxPerDomain = 60, tieCol = "doc_id")
      .select(col("doc_id"), col("lang"), col("url"), col("registered_domain"), col("domain_rank"))
      .orderBy(col("doc_id"))

  /** Corpus-wide line-level dedup
    * ([[graft.operators.TextAnalysis.lineDedup]], the C4 "three-sentence
    * span ≥3×" / RefinedWeb line-wise rule): fixed 10-token lines, any
    * line occurring ≥3 times anywhere in the corpus dropped from every
    * document, documents reassembled from survivors. Sub-document
    * cross-corpus dedup — the boilerplate axis exact-doc dedup can't
    * see. Emits per-doc line counts + the cleaned-text fingerprint.
    */
  def dedupLines(s: SparkSession, d: String): DataFrame =
    TextAnalysis.lineDedup(spread(Tables.documents(s, d), s), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** Crawl politeness scheduling
    * ([[graft.operators.UrlFilter.politenessSchedule]]): the fetch plan
    * for the planted frontier — every registered domain pinned to one
    * of 4 workers by md5 coin, its URLs serialized 5 s apart in doc-id
    * order. Host affinity + per-host serial slots is what makes the
    * crawl-delay contract enforceable with zero cross-worker
    * coordination.
    */
  def crawlSchedule(s: SparkSession, d: String): DataFrame =
    graft.operators.UrlFilter.politenessSchedule(
      plantUrls(Tables.documents(s, d)), "url", "doc_id",
      delaySeconds = 5L, workers = 4)
      .orderBy(col("doc_id"))

  /** Cross-document boilerplate fractions
    * ([[graft.operators.TextAnalysis.boilerplateMetrics]]): word
    * 8-grams shared by ≥2 documents mark template/boilerplate content;
    * per-doc fraction of distinct grams that are boilerplate. The
    * corpus's natural near-dups make the signal real (no planting
    * needed — verified non-degenerate: both zero and high fractions
    * occur at sf0.01).
    */
  def textBoilerplate(s: SparkSession, d: String): DataFrame =
    TextAnalysis.boilerplateMetrics(Tables.documents(s, d), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** Curation FUNNEL — per-gate survivor counts for the
    * [[curationDecontam]] six-gate chain, the observability row every
    * production curation run reports (where documents die decides which
    * gate to retune).
    *
    * Plan shape (round-9 re-plan; the previous form materialized every
    * stage and ran SEVEN sequential count jobs — 33 s at sf0.1, 16% of
    * the whole bench): per-gate SURVIVAL FLAGS ride one projection as
    * cumulative booleans `g1..g5` — quality and repetition are per-row
    * metrics, the perplexity gate joins the corpus-trained nll back on
    * doc_id, the canonical-dedup gate is `min(when(g3, doc_id))` over
    * the fingerprint window (the min over SURVIVORS of the prior
    * gates, exactly the staged semantics), and the decontamination
    * gate is a left-join null-check against the contaminated-id set
    * (contamination is a per-doc property — a doc's own 13-grams vs
    * the broadcast eval-gram set — so flagging the full train side
    * gives each doc the same verdict the staged anti-join did).
    * Gate counts 0–5 then come off ONE aggregate of conditional sums;
    * only the token-budget gate needs its per-language window, run as
    * a second job over the persisted SLIM flag table (ids, flags and
    * the two selection columns — no text). Seven corpus
    * materializations collapse to one corpus pass plus one slim window
    * job. The oracle recomputes every stage independently in SQL, so
    * the two sides agree only if every intermediate gate population
    * matches exactly.
    */
  def curationFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = Tables.documents(s, d)
    val docs = all.where(pmod(col("doc_id"), lit(10)) =!= 7)
    val evalSet = all.where(pmod(col("doc_id"), lit(10)) === 7)
    val nll = TextAnalysis.unigramNll(docs, "text", "doc_id", topK = 24)
      .select(col("doc_id"), col("nll_per_token"))
    val contaminated = Dedup.ngramContamination(docs, evalSet, "text", "doc_id", n = 13)
      .select(col("corpus_id"))
    val metrics = TextAnalysis.repetitionMetrics(
        TextAnalysis.qualityMetrics(docs, "text"), "text")
      .join(nll, Seq("doc_id"), "left")
      .join(contaminated.withColumn("_contam", lit(true)),
        col("doc_id") === col("corpus_id"), "left")
      .withColumn("g1", col("is_quality"))
      .withColumn("g2", col("g1") && col("dup_2gram_frac") <= 0.1)
      .withColumn("g3", col("g2") && col("nll_per_token") <= 5.5)
      .withColumn("_fp", Dedup.exactFingerprint(col("text")))
    val flags = metrics
      .withColumn("_canon",
        min(when(col("g3"), col("doc_id"))).over(Window.partitionBy(col("_fp"))))
      .withColumn("g4", col("g3") && col("doc_id") === col("_canon"))
      .withColumn("g5", col("g4") && col("_contam").isNull)
      .select(col("doc_id"), col("lang"),
        col("distinct_ratio").as("score"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_sel_tokens"),
        col("g1"), col("g2"), col("g3"), col("g4"), col("g5"))
      .materialized
    // a null boolean gate (e.g. nll missing for a token-less doc) means
    // "did not survive": the conditional sum skips it, matching the
    // staged filters, and coalesce guards the all-null degenerate case
    def cnt(g: Column) = coalesce(sum(g.cast("long")), lit(0L))
    val gateCounts = flags.agg(
      count(lit(1)).as("c0"), cnt(col("g1")).as("c1"), cnt(col("g2")).as("c2"),
      cnt(col("g3")).as("c3"), cnt(col("g4")).as("c4"), cnt(col("g5")).as("c5"))
      .head()
    val q6 = graft.operators.CorpusSelection
      .selectByTokenBudget(flags.where(col("g5")), "lang", col("score"),
        col("n_sel_tokens"), 4000L, "doc_id")
      .count()
    val out = Seq(
      ("00_input", gateCounts.getLong(0)),
      ("01_quality", gateCounts.getLong(1)),
      ("02_repetition", gateCounts.getLong(2)),
      ("03_perplexity", gateCounts.getLong(3)),
      ("04_dedup", gateCounts.getLong(4)),
      ("05_decontam", gateCounts.getLong(5)),
      ("06_budget", q6))
      .toDF("stage", "n_docs")
      .orderBy(col("stage"))
    flags.unpersist()
    out
  }

  /** Unigram log-perplexity quality scores (CCNet-style filter signal):
    * mean per-token negative log-likelihood under the corpus-trained
    * unigram model ([[graft.operators.TextAnalysis.unigramNll]]).
    * topK = 24 sits BELOW this corpus's ~31-term vocabulary on purpose:
    * the rare tail goes out-of-vocabulary, so the driver row verifies
    * the OOV floor path with real hits, not vacuously.
    */
  def textPerplexity(s: SparkSession, d: String): DataFrame =
    TextAnalysis.unigramNll(Tables.documents(s, d), "text", "doc_id", topK = 24)
      .orderBy(col("doc_id"))

  /** CCNet head/middle/tail buckets (Wenzek et al. 2020): per language,
    * documents rank into perplexity TERCILES under the corpus unigram
    * LM ([[textPerplexity]]'s scores) — head = the third the LM finds
    * most natural, tail = the third it finds worst; CCNet ships the
    * buckets and lets each consumer choose its cut. `ntile(3)` over
    * (nll, doc_id) — the doc-id tiebreak makes the bucketing a total
    * order, so the assignment is deterministic on both engines. Output
    * is the per-(lang, bucket) census with the nll envelope; the
    * window sorts only the (doc, score) table, never the corpus text.
    */
  def ccnetBuckets(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val scored = TextAnalysis.unigramNll(docs, "text", "doc_id", topK = 24)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("nll_per_token"), col("doc_id"))
    scored.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("tercile", ntile(3).over(w))
      .withColumn("bucket",
        when(col("tercile") === 1, "head").when(col("tercile") === 2, "middle")
          .otherwise("tail"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("nll_per_token")).as("min_nll"),
        max(col("nll_per_token")).as("max_nll"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** Bigram stupid-backoff LM scores
    * ([[graft.operators.TextAnalysis.bigramNllBackoff]]): topK = 512
    * sits below this corpus's ~990 distinct (sentinel-extended) bigrams
    * on purpose — the backoff arm is exercised with real hits, not
    * vacuously (the textPerplexity OOV-floor discipline).
    */
  def textPerplexity2(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bigramNllBackoff(spread(Tables.documents(s, d), s), "text", "doc_id", topK = 512)
      .orderBy(col("doc_id"))

  /** Interpolated Kneser–Ney bigram scores
    * ([[graft.operators.TextAnalysis.kneserNeyNll]]): the production
    * smoothing next to [[textPerplexity2]]'s stupid backoff — absolute
    * discount 3/4, continuation-count unigram, closed rational
    * probabilities so every per-bigram log lands on the 2⁻⁴⁰ grid and
    * the doc sums stay integer.
    */
  def textPerplexityKn(s: SparkSession, d: String): DataFrame =
    TextAnalysis.kneserNeyNll(spread(Tables.documents(s, d), s), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** Gini concentration of token mass per source
    * ([[graft.operators.TextAnalysis.giniConcentration]]) — the
    * "few mega-docs or many uniform ones" audit that decides chunking
    * and sampling strategy before a source enters the mix.
    */
  def corpusGini(s: SparkSession, d: String): DataFrame =
    TextAnalysis.giniConcentration(Tables.documents(s, d), "text", "source")

  /** Zipf-law fit of the corpus vocabulary
    * ([[graft.operators.TextAnalysis.zipfFit]]): OLS slope of
    * ln(freq) on ln(rank) over the full (tiny) synthetic vocabulary —
    * natural text runs near −1; templated or garbled text flattens.
    */
  def vocabZipf(s: SparkSession, d: String): DataFrame =
    TextAnalysis.zipfFit(spread(Tables.documents(s, d), s), "text", topN = 1000)

  /** Vocabulary coverage curve
    * ([[graft.operators.TextAnalysis.vocabCoverage]]): token-mass share
    * of the top 5/10/20 terms — the ks sit inside this corpus's ~31-term
    * vocabulary so all three rows exist (production uses 10/100/1000).
    */
  def vocabCoverage(s: SparkSession, d: String): DataFrame =
    TextAnalysis.vocabCoverage(spread(Tables.documents(s, d), s), "text",
      ks = Seq(5, 10, 20))

  /** SoftDeDup reweighting ([[graft.operators.Dedup.softDedupWeights]]):
    * re-ingested and in-batch copies are PLANTED exactly as in
    * [[dedupIncremental]] (the corpus has no organic exact duplicates),
    * so the weight column provably carries 1/2 and 1/3 groups, not a
    * vacuous all-1.0.
    */
  def dedupSoft(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val dup1 = docs.where(col("doc_id") < 100)
      .select((col("doc_id") + 200000).as("doc_id"), col("source"), col("text"))
    val dup2 = docs.where(col("doc_id") < 40)
      .select((col("doc_id") + 300000).as("doc_id"), col("source"), col("text"))
    Dedup.softDedupWeights(docs.unionByName(dup1).unionByName(dup2), "text", "doc_id")
      .select(col("doc_id"), col("fingerprint"), col("dup_count"), col("weight"))
      .orderBy(col("doc_id"))
  }

  /** l-diversity audit over (lang, length-bucket) equivalence classes
    * with `source` as the sensitive attribute
    * ([[graft.operators.Privacy.lDiversity]]): classes where every
    * same-shaped document comes from fewer than 3 sources would leak
    * provenance through shape alone.
    */
  def privacyLdiversity(s: SparkSession, d: String): DataFrame =
    graft.operators.Privacy.lDiversity(
      Tables.documents(s, d)
        .select(col("lang"), expr("n_chars div 500").as("len_bucket"), col("source")),
      "lang", "len_bucket", "source", l = 3)

  /** Unique-token yield per source
    * ([[graft.operators.Dedup.uniqueTokenYield]]): the first 100 docs
    * are mirrored into a synthetic 'mirror' source, so the original
    * sources' yields drop below 1.0 exactly where their content is
    * duplicated elsewhere — the cross-source cannibalization the
    * raw token census cannot see.
    */
  def dedupYield(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val mirror = docs.where(col("doc_id") < 100)
      .select((col("doc_id") + 200000).as("doc_id"), lit("mirror").as("source"), col("text"))
    Dedup.uniqueTokenYield(docs.unionByName(mirror), "text", "doc_id", "source")
  }

  /** Code-switching audit
    * ([[graft.operators.TextAnalysis.codeSwitchProfile]]): per-doc
    * fraction of 16-token chunks whose stopword langid disagrees with
    * the document label — the mixed-document detector a monolingual
    * split needs before [[textLangid]]'s doc-level call is trusted.
    */
  def textCodeSwitch(s: SparkSession, d: String): DataFrame =
    TextAnalysis.codeSwitchProfile(spread(Tables.documents(s, d), s),
      "text", "doc_id", "lang", chunkSize = 16)
      .orderBy(col("doc_id"))

  /** Perceptual-hash near-dup pairs over the binary payloads
    * ([[graft.operators.Multimodal.perceptualHashPairs]]): every 20th
    * doc's payload is re-ingested under a shifted id (the [[mmDedup]]
    * planting), so the band join + Hamming verify provably recovers
    * the planted pairs at distance 0 through the aHash path.
    */
  def mmPhash(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).where(col("n_chars") >= 64)
      .select(col("doc_id"), col("text"))
    val planted = base.where(pmod(col("doc_id"), lit(20)) === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    Multimodal.perceptualHashPairs(
      Multimodal.withBinaryPayload(base.unionByName(planted), "text"),
      "doc_id", "payload", maxHamming = 6)
  }

  /** CLIP-score-style image–caption alignment gate
    * ([[graft.operators.Multimodal.clipScoreGate]]): stub image tiles
    * vs a real 16-dim hashed caption embedding, cosine-gated — the
    * LAION curation filter with the model towers stubbed and every
    * piece of plumbing (vectors, dot, norms, gate) exact and
    * shuffle-free.
    */
  def mmClipFilter(s: SparkSession, d: String): DataFrame =
    Multimodal.clipScoreGate(
      Multimodal.withBinaryPayload(
        Tables.documents(s, d).select(col("doc_id"), col("text")), "text"),
      "doc_id", "payload", "text", threshold = 0.95)
      .orderBy(col("doc_id"))

  /** Information-gain document selection: score = unigram NLL − bigram
    * NLL per token — how much a 1-token context improves the model's
    * fit of the document. High contrast means structured, learnable
    * text; near-zero means the bigram model learned nothing beyond
    * term frequencies (boilerplate or word soup). The
    * cheap-two-model proxy for the RHO-loss / DoReMi-style
    * "learnability" selection signal, built entirely from
    * [[graft.operators.TextAnalysis.unigramNll]] and
    * [[bigramNllBackoff]] (both corpus-trained, both on the 2⁻⁴⁰
    * grid). Top 50 docs by (contrast desc, doc_id).
    */
  def selectPplContrast(s: SparkSession, d: String): DataFrame = {
    val docs = spread(Tables.documents(s, d), s)
    val uni = TextAnalysis.unigramNll(docs, "text", "doc_id", topK = 24)
      .select(col("doc_id"), col("nll_per_token").as("uni_nll"))
    val bi = TextAnalysis.bigramNllBackoff(docs, "text", "doc_id", topK = 512)
      .select(col("doc_id"), col("nll_per_token").as("bi_nll"))
    uni.join(bi, Seq("doc_id"))
      .withColumn("contrast",
        (col("uni_nll").cast("double") - col("bi_nll").cast("double")).cast("float"))
      .orderBy(col("contrast").desc, col("doc_id"))
      .limit(50)
      .select(col("doc_id"), col("uni_nll"), col("bi_nll"), col("contrast"))
  }

  /** Per-dimension embedding whitening audit
    * ([[graft.operators.Similarity.whitenProfile]]): grid-exact
    * diagonal standardization — μ/σ from one 64-row aggregate, IEEE
    * sqrt both engines floor identically, per-vector z profile.
    */
  def embWhiten(s: SparkSession, d: String): DataFrame =
    Similarity.whitenProfile(Tables.embeddings(s, d), "embedding", "vec_id")
      .orderBy(col("vec_id"))

  /** Sliding 32-token chunks with 8-token overlap — the doc-prep step in
    * front of embedding/RAG/long-context pipelines
    * ([[graft.operators.TextAnalysis.chunkTokens]]): shuffle-free map
    * work + a bounded explode; every token covered, consecutive chunks
    * share the overlap.
    */
  def textChunks(s: SparkSession, d: String): DataFrame =
    TextAnalysis.chunkTokens(Tables.documents(s, d), "text", "doc_id",
      chunkSize = 32, overlap = 8)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Per-document top-5 TF-IDF keywords
    * ([[graft.operators.Retrieval.tfidfTopTerms]]) — term salience for
    * topic labeling / diversity-aware sampling; scores on the bm25
    * fixed-point grid, float output, exact-integer ranking.
    */
  def textKeywords(s: SparkSession, d: String): DataFrame =
    Retrieval.tfidfTopTerms(Tables.documents(s, d), k = 5)
      .orderBy(col("doc_id"), col("rank"))

  /** Symmetric int8 embedding quantization
    * ([[graft.operators.Similarity.quantizeInt8]]), posexploded to
    * (vec_id, scale, dim, q) scalar rows for the driver comparator (the
    * [[embProject]] lesson: raw arrays defeat the pandas sort).
    */
  def embQuantize(s: SparkSession, d: String): DataFrame =
    Similarity.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")
      .select(col("vec_id"), col("scale"), posexplode(col("q")).as(Seq("dim", "q")))
      .orderBy(col("vec_id"), col("dim"))

  /** Document fingerprints: md5 of normalized text + polynomial rolling
    * hash of token lengths.
    */
  def textFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.rollingHash(col("text")).as("rolling"))
      .orderBy(col("doc_id"))

  /** Winnowing fingerprint profile ([[graft.operators.Winnow.profile]],
    * k=4 w=4): per doc the k-gram count, selected-fingerprint count and
    * density (≈ 2/(w+1) on random text, lower on internally repetitive
    * docs — both a sampling audit and a quality signal).
    */
  def textWinnow(s: SparkSession, d: String): DataFrame =
    graft.operators.Winnow.profile(Tables.documents(s, d), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** Winnowing partial-overlap pairs ([[graft.operators.Winnow.pairs]]):
    * docs sharing ≥2 winnowed fingerprints after the df≤50 template
    * guard — the MOSS-style plagiarism sweep, bucketed by fingerprint.
    */
  def dedupWinnow(s: SparkSession, d: String): DataFrame =
    graft.operators.Winnow.pairs(Tables.documents(s, d), "text", "doc_id")
      .orderBy(col("doc_a"), col("doc_b"))

  /** Multi-signal quality blend
    * ([[graft.operators.CorpusSelection.quantileBlend]]): lexical
    * diversity and winnowing-fingerprint density quantile-normalized
    * per language and averaged — the FineWeb-style signal mix — then
    * the top 20 per language by blended score. Both signals are exact
    * integer ratios, so the quantile ranks are engine-independent.
    */
  def qualityBlend(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val base = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      (size(array_distinct(toks)).cast("double") / size(toks).cast("double")).as("diversity"))
    val wd = graft.operators.Winnow.profile(Tables.documents(s, d), "text", "doc_id")
      .select(col("doc_id"), col("density").as("wdensity"))
    val blended = graft.operators.CorpusSelection.quantileBlend(
      base.join(wd, "doc_id"), "lang", "doc_id",
      Seq("diversity" -> col("diversity"), "wdensity" -> col("wdensity")))
    blended
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("blend").desc, col("doc_id"))).cast("int"))
      .where(col("rk") <= 20)
      .orderBy(col("lang"), col("rk"))
  }

  /** Winnowing cluster resolution ([[graft.operators.Winnow.clusters]]):
    * the `dedup_winnow` pair graph collapsed to min-id-canonical
    * clusters — the same CC contract as `dedup_clusters`, driven by the
    * fingerprint-sample pair generation instead of simhash.
    */
  def dedupWinnowClusters(s: SparkSession, d: String): DataFrame =
    graft.operators.Winnow.clusters(Tables.documents(s, d), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** Johnson–Lindenstrauss random projection 64→16 dims — the
    * dimensionality-reduction front of an embedding pipeline (cheaper
    * downstream ANN/dedup scoring); LCG-generated matrix, fully
    * oracle-replayed ([[graft.operators.Similarity.randomProject]]).
    * The projected vector is posexploded to (vec_id, dim, value) scalar
    * rows for the driver row: doubles stay bit-comparable as scalars,
    * where a raw array<double> column defeats the comparator's sort.
    */
  def embProject(s: SparkSession, d: String): DataFrame =
    Similarity.randomProject(Tables.embeddings(s, d), "vec_id", "embedding",
      dim = 64, outDim = 16)
      .select(col("vec_id"), posexplode(col("projected")).as(Seq("dim", "value")))
      .orderBy(col("vec_id"), col("dim"))

  /** BM25 keyword retrieval — the sparse complement of the dense ANN
    * queries: top-10 corpus docs for 5 queries built from the first six
    * tokens of docs 0-4 (each query's source doc is its own strongest
    * hit, so ranking sanity is self-evident in the output). Corpus-side
    * postings semi-join the broadcast query-term set; per-(query,doc)
    * scores are associative 2⁻⁴⁰ fixed-point integer sums, deterministic
    * under any partitioning (see [[graft.operators.Retrieval.bm25TopK]]).
    *
    * The reported score is cast to FLOAT on both sides: BM25's idf is a
    * natural log, and Java's Math.log and libm's log legitimately differ
    * by 1 ulp on ~0.2% of inputs (measured), which can move a
    * contribution across a quantization step — the float cast absorbs
    * exactly that noise while still hash-verifying 7 significant digits.
    */
  def bm25TopK(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val queries = docs.where(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 6)).as("text"))
    Retrieval.bm25TopK(docs, queries, k = 10)
      .select(col("query_id"), col("doc_id"), col("score").cast("float").as("score"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hybrid retrieval: Reciprocal Rank Fusion
    * ([[graft.operators.Retrieval.rrfFuse]]) of the BM25 sparse leg and
    * the hash-embedding dense leg over the SAME 6-token queries — each
    * leg contributes top-20 ranks, the fused list re-ranks on
    * Σ 1/(60+rank) and keeps top-10. Both legs hash-verify on their own
    * rows ([[bm25TopK]], [[annHashEmbed]]), so the fusion oracle
    * recomputes them at k=20 and fuses in SQL; the fused score is an
    * exact fixed-point long sum divided by a power of two — no float
    * cast needed.
    */
  def retrievalRrf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val queries = docs.where(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 6)).as("text"))
    val sparse = Retrieval.bm25TopK(docs, queries, k = 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val dense = Similarity.hashEmbedTopK(docs, queries.withColumnRenamed("query_id", "doc_id"), k = 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(Seq(sparse, dense), k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Retrieve-then-rerank ([[graft.operators.Retrieval.rerankJaccard]]):
    * BM25 proposes 20 candidates per query, an exact token-set Jaccard
    * re-ranks to 10 — the two-stage architecture whose rerank cost is
    * independent of corpus size (the second stage touches only the
    * candidate rows; the corpus prunes through a semi-join before any
    * tokenization).
    */
  def retrievalRerank(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val queries = docs.where(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 6)).as("text"))
    Retrieval.rerankJaccard(docs, queries, kCandidates = 20, k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** DSIR Gumbel-top-k resampling
    * ([[graft.operators.CorpusSelection.sampleByDsir]]): the paper's
    * probabilistic sampling rule with id-derived (reproducible) Gumbel
    * noise — 100 documents sampled ∝ importance weight.
    */
  def selectDsirSample(s: SparkSession, d: String): DataFrame = {
    val docs = spread(Tables.documents(s, d), s)
    graft.operators.CorpusSelection
      .sampleByDsir(
        docs.select(col("doc_id"), col("text")),
        docs.filter(col("source") === "src0").select(col("doc_id"), col("text")),
        "text", "doc_id", k = 100)
      .orderBy(col("rank"))
  }

  /** Preference-pair assembly
    * ([[graft.operators.CorpusSelection.preferencePairs]]): per
    * language, top-vs-bottom lexical-diversity pairing with a 0.05
    * margin floor — the weak-supervision reward-model training layout.
    */
  def preferencePairs(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val base = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      (size(array_distinct(toks)).cast("double") / size(toks).cast("double")).as("score"))
    graft.operators.CorpusSelection
      .preferencePairs(base, "lang", col("score"), "doc_id", minMargin = 0.05)
      .orderBy(col("lang"), col("chosen_id"))
  }

  /** RAG index-build audit: sliding-window chunks (32 tokens, overlap 8
    * — the [[textChunks]] grid) are simhash-fingerprinted per chunk and
    * bucketed by the top 16 of 48 bits — the partition layout of a
    * near-dup-aware retrieval index — then each bucket reports its
    * occupancy (chunk count, distinct source docs). The occupancy
    * distribution is the index-skew gate a deployment checks before
    * committing the layout (a hot bucket = a hot shard). Chunking and
    * fingerprinting are map-local (the simhash is the codegen per-row
    * kernel, no explode-aggregate); the only exchange is the bucket
    * aggregate, map-side combined.
    */
  def ragIndex(s: SparkSession, d: String): DataFrame = {
    val chunks = TextAnalysis
      .chunkTokens(spread(Tables.documents(s, d), s), "text", "doc_id", 32, 8)
      .select((col("doc_id") * 4096 + col("chunk_idx")).as("chunk_key"),
        col("chunk_text"))
    Dedup.simHash(chunks, "chunk_text", "chunk_key")
      .select(col("chunk_key"), shiftright(col("simhash"), 32).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        countDistinct(expr("chunk_key div 4096")).cast("int").as("n_docs"))
      .orderBy(col("bucket"))
  }

  /** Curriculum training order
    * ([[graft.operators.CorpusSelection.curriculumOrder]]): shortest
    * documents first within each language, languages interleaved
    * round-robin via the closed-form position — no global sort.
    */
  def curriculumOrder(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection
      .curriculumOrder(Tables.documents(s, d), "lang",
        size(TextAnalysis.tokens(col("text"))), "doc_id")
      .select(col("doc_id"), col("lang"), col("difficulty"),
        col("within_rank"), col("pos"))
      .orderBy(col("pos"))

  /** Hard-negative mining ([[graft.operators.Retrieval.hardNegatives]]):
    * each query's positive is its own source document; the top-5
    * non-positive BM25 hits become the contrastive negatives — the
    * training-pair assembly for a dual-encoder retriever.
    */
  /** ColBERT-style MaxSim late interaction
    * ([[graft.operators.Similarity.maxSimTopK]]): the embeddings table
    * regrouped 4 vectors per unit (`vec_id div 4`, the [[embPool]]
    * convention) plays token-level multi-vector docs; units 0–4 are the
    * queries, the rest the candidate pool. Top-10 per query by
    * sum-of-max integer-grid dots — token-level matching that
    * single-vector cosine flattens, scored second-stage over a bounded
    * candidate set.
    */
  def retrievalMaxsim(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(expr("vec_id div 4").as("gid"), pmod(col("vec_id"), lit(4)).as("ti"),
        col("embedding"))
      .materialized // query side AND doc side of one scan
    val queries = emb.where(col("gid") < 5)
      .select(col("gid").as("qid"), col("ti"), col("embedding"))
    val docs = emb.where(col("gid") >= 5)
      .select(col("gid").as("did"), col("embedding"))
    Similarity.maxSimTopK(docs, queries, k = 10,
      qidCol = "qid", tidCol = "ti", didCol = "did", vecCol = "embedding")
      .orderBy(col("qid"), col("rank"))
  }

  def retrievalNegatives(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val queries = docs.where(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 6)).as("text"))
    val positives = queries.select(col("query_id"), col("query_id").as("doc_id"))
    Retrieval.hardNegatives(docs, queries, positives, nNeg = 5, kCandidates = 10)
      .orderBy(col("query_id"), col("neg_rank"))
  }

  /** IVF approximate top-10: k-means coarse quantizer + nprobe cell scan
    * — fully oracle-checked: the quantizer fit is deterministic (seeded
    * java.util.Random draws + 10 Lloyd iterations over the vec_id-ordered
    * sample), and the DuckDB oracle replays it bit-for-bit in SQL, so
    * cell assignment, probing, and ranking are all hash-verified (recall
    * vs brute force additionally asserted in ScalaTest).
    */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10), k = 10, dim = 64)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF add-after-train — the index-LIFECYCLE row [[annIvf]] lacks:
    * centroids are trained on the even-id half only (the index as
    * built), then the odd-id half is APPENDED by assignment to the
    * frozen cells — no refit, no re-shuffle of the existing index,
    * exactly how a production IVF index absorbs a new ingest batch.
    * Queries search the full (base ∪ appended) index; the oracle
    * replays the even-only k-means fit and the frozen assignment, so
    * a refit sneaking into the append path would hash-diverge.
    */
  def annIvfAppend(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val base = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10), k = 10, dim = 64,
      fitCorpus = Some(base))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Multimodal: binary payload + typed metadata projection (decode STUB
    * is deterministic column arithmetic — the plumbing is what's tested).
    */
  def mmImageMeta(s: SparkSession, d: String): DataFrame =
    Multimodal.withBinaryPayload(Tables.documents(s, d), "text")
      .select(col("doc_id"), Multimodal.imageMeta(col("payload")).as("m"))
      .select(col("doc_id"), col("m.n_bytes"), col("m.width"), col("m.height"), col("m.format"))
      .orderBy(col("doc_id"))

  /** Multimodal blob dedup: byte-identical payload detection per
    * declared format — the first pass of any image/audio dedup (exact
    * bytes catch re-uploads and mirror copies before any perceptual
    * hash runs). The corpus has no natural payload dups, so every 20th
    * doc's payload is PLANTED again under a new id; per format the
    * query reports blob/distinct/dup-group/dup-copy counts. All slim:
    * the 16-byte md5 is the only thing that shuffles.
    */
  def mmDedup(s: SparkSession, d: String): DataFrame = {
    val base = Multimodal.withBinaryPayload(Tables.documents(s, d), "text")
      .select(col("doc_id"), col("payload"))
    val planted = base.where(pmod(col("doc_id"), lit(20)) === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("payload"))
    base.unionByName(planted)
      .select(
        Multimodal.imageMeta(col("payload")).getField("format").as("format"),
        md5(col("payload")).as("fp"))
      .groupBy(col("format"), col("fp"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("format"))
      .agg(
        sum(col("_c")).as("n_blobs"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("_c") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
        sum(when(col("_c") > 1, col("_c")).otherwise(0L)).as("n_dup_copies"))
      .orderBy(col("format"))
  }

  /** Multimodal: evenly-spaced frame sampling from the binary payload. */
  def mmFrameSample(s: SparkSession, d: String): DataFrame =
    Multimodal.withBinaryPayload(Tables.documents(s, d), "text")
      .where(col("n_chars") >= 64)
      .select(col("doc_id"), posexplode(Multimodal.frameSampleHex(col("payload"), 4, 8)).as(Seq("frame_idx", "frame_hex")))
      .orderBy(col("doc_id"), col("frame_idx"))

  /** Multimodal: shot/scene-change detection
    * ([[graft.operators.Multimodal.sceneCuts]]) over 8 sampled frames
    * per payload — byte-sum intensity (stub feature, real pipeline),
    * cut at |Δ| > 40, running scene index per payload.
    */
  def mmSceneCuts(s: SparkSession, d: String): DataFrame =
    Multimodal.sceneCuts(
      Multimodal.withBinaryPayload(Tables.documents(s, d), "text")
        .where(col("n_chars") >= 64),
      "doc_id", "payload", frames = 8, frameBytes = 8, threshold = 40L)
      .orderBy(col("doc_id"), col("frame_idx"))

  /** Multimodal: sample-accurate PCM audio windows
    * ([[graft.operators.Multimodal.audioWindows]]) — REAL frame math
    * (8 kHz mono 16-bit, 4 ms windows every 2 ms ⇒ 64-byte windows,
    * 32-byte hop), text bytes standing in as the PCM payload.
    */
  def mmAudioWindows(s: SparkSession, d: String): DataFrame =
    Multimodal.audioWindows(
      Multimodal.withBinaryPayload(Tables.documents(s, d), "text"),
      "doc_id", "payload", sampleRate = 8000, windowMs = 4, hopMs = 2)
      .orderBy(col("doc_id"), col("window_idx"))

  /** Energy-based voice-activity detection over the same PCM layout as
    * [[mmAudioWindows]] ([[graft.operators.Multimodal.vadSegments]]):
    * exact int64 |int16| energies, threshold gate, islands-numbered
    * speech segments — REAL signal arithmetic, the speech-chunking
    * front of an ASR pipeline.
    */
  def mmAudioVad(s: SparkSession, d: String): DataFrame =
    Multimodal.vadSegments(
      Multimodal.withBinaryPayload(Tables.documents(s, d), "text"),
      "doc_id", "payload", sampleRate = 8000, windowMs = 4, hopMs = 2,
      thresholdPerSample = 27500L)
      .orderBy(col("doc_id"), col("window_idx"))

  /** Multimodal: partition-wise batched STUB resize — deterministic
    * (payload, dims) fingerprint in place of resized bytes; the batch
    * plumbing is real ([[graft.operators.Multimodal.resizeBatched]]).
    */
  def mmResize(s: SparkSession, d: String): DataFrame =
    Multimodal.resizeBatched(
      Multimodal.withBinaryPayload(Tables.documents(s, d), "text"), "doc_id", "payload",
      width = 64, height = 48)
      .toDF()
      .orderBy(col("id"))

  /** Multimodal: partition-wise batched decode (mapPartitions batch shape,
    * deterministic stub codec).
    */
  def mmDecodeBatched(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeBatched(
      Multimodal.withBinaryPayload(Tables.documents(s, d), "text"), "doc_id", "payload")
      .toDF()
      .orderBy(col("id"))

  /** Span-level exact-dedup profile ([[graft.operators.Dedup.spanProfile]],
    * Lee et al. 2022): per-doc counts of corpus-duplicated 6-token spans
    * and the token positions they cover — the signal a whole-document
    * fingerprint pass cannot see.
    */
  def dedupSpans(s: SparkSession, d: String): DataFrame =
    Dedup.spanProfile(spread(Tables.documents(s, d), s), "text", "doc_id", k = 6)
      .orderBy(col("doc_id"))

  /** Span-scrubbed text ([[graft.operators.Dedup.spanScrub]]): every
    * token covered by a corpus-duplicated 6-token span removed.
    */
  def dedupSpanScrub(s: SparkSession, d: String): DataFrame =
    Dedup.spanScrub(spread(Tables.documents(s, d), s), "text", "doc_id", k = 6)
      .orderBy(col("doc_id"))

  /** Intra-document unit dedup
    * ([[graft.operators.TextAnalysis.dedupUnits]], CCNet-style repeated-
    * line removal; 2-token units on this line-less synthetic corpus).
    */
  def textDedupUnits(s: SparkSession, d: String): DataFrame =
    TextAnalysis.dedupUnits(spread(Tables.documents(s, d), s), "text", "doc_id", unitSize = 2)
      .orderBy(col("doc_id"))

  /** Hashed-n-gram linear quality-classifier inference
    * ([[graft.operators.QualityClassifier.scoreHashModel]]): fastText-
    * shape scoring — unigram+bigram features hashed into 4096 buckets,
    * broadcast weight join, integer-grid score.
    */
  def qualityClassifier(s: SparkSession, d: String): DataFrame =
    QualityClassifier.scoreHashModel(spread(Tables.documents(s, d), s), "text", "doc_id",
      buckets = 4096)
      .orderBy(col("doc_id"))

  /** The classifier-era curation chain: quality gate → hashed-linear
    * CLASSIFIER gate (score > 0, [[graft.operators.QualityClassifier]])
    * → span-dedup gate (≤ half the tokens covered by corpus-duplicated
    * 6-grams, [[graft.operators.Dedup.spanProfile]]) → exact-dedup
    * canonical → per-lang token budget RANKED BY the classifier score —
    * the FineWeb-style "model decides what survives" pipeline next to
    * the heuristic-gated [[corpusCuration]] family. Per-doc classifier
    * scores are computed on the quality survivors (hash model — per-doc
    * independent); span coverage is computed on the FULL corpus
    * (duplication is a corpus property, including against docs the
    * quality gate dropped).
    */
  def curationClassifier(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // ONE projection pass over the corpus text computes every per-doc
    // column the chain needs (quality flags, exact fingerprint, token
    // count), cut once and shared by the classifier consumer and the
    // gating join — the previous plan re-ran the quality pass inside
    // the classifier lineage AND the join lineage (three corpus-text
    // scans); only spanProfile legitimately re-reads the corpus (span
    // coverage is a corpus property, including docs the quality gate
    // dropped).
    val q = TextAnalysis.qualityMetrics(spread(docs, s), "text")
      .where(col("is_quality"))
      .select(col("doc_id"), col("lang"), col("text"),
        Dedup.exactFingerprint(col("text")).as("_fp"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_sel_tokens"))
      .materialized
    val cls = QualityClassifier.scoreHashModel(q, "text", "doc_id")
      .where(col("label"))
      .select(col("doc_id"), col("score"))
    val spans = Dedup.spanProfile(spread(docs, s), "text", "doc_id", k = 6)
      .select(col("doc_id"), col("covered_frac"))
    // the joins carry SLIM rows (no text — it already did its work in
    // the projection pass above)
    val gated = q.drop("text").join(cls, "doc_id").join(spans, "doc_id")
      .where(col("covered_frac") <= 0.5)
    val canon = gated
      .withColumn("_canon", min(col("doc_id")).over(Window.partitionBy(col("_fp"))))
      .where(col("doc_id") === col("_canon"))
      .drop("_fp", "_canon")
    graft.operators.CorpusSelection
      .selectByTokenBudget(canon, "lang", col("score"), col("n_sel_tokens"), 4000L, "doc_id")
      .select(col("doc_id"), col("lang"), col("score"), col("covered_frac"),
        col("n_sel_tokens"), col("cum_tokens"))
      .orderBy(col("lang"), col("cum_tokens"), col("doc_id"))
  }

  /** BPE merge induction ([[graft.operators.Bpe.merges]]): the first 8
    * byte-pair merges learned from the corpus vocabulary — tokenizer
    * TRAINING as a query (one corpus pass + 8 vocabulary-sized rounds).
    */
  def bpeMerges(s: SparkSession, d: String): DataFrame =
    graft.operators.Bpe.merges(spread(Tables.documents(s, d), s), "text", k = 8)
      .orderBy(col("step"))

  /** The ENCODE half of BPE ([[graft.operators.Bpe.encodeCounts]]):
    * per-doc whitespace vs subword counts under the 8 learned merges —
    * the sequence-length statistic behind context budgeting.
    */
  def bpeTokenize(s: SparkSession, d: String): DataFrame =
    graft.operators.Bpe.encodeCounts(spread(Tables.documents(s, d), s), "text", "doc_id", k = 8)
      .orderBy(col("doc_id"))

  /** Unigram-LM (SentencePiece-style) tokenizer training
    * ([[graft.operators.UnigramLm.train]]): the production alternative
    * to BPE — seed an over-complete substring vocabulary, then 2 rounds
    * of hard-EM (Viterbi segmentation under integer NLL costs on the
    * 2⁴⁰ grid, usage re-estimation, char-preserving top-12 prune with
    * +1 smoothing between rounds). Emits the final vocabulary with its
    * round-2 Viterbi usage. One corpus pass (word counts); every EM
    * round runs on the distinct-word table.
    */
  def spmTrain(s: SparkSession, d: String): DataFrame =
    graft.operators.UnigramLm.train(spread(Tables.documents(s, d), s), "text")
      .orderBy(col("n_uses").desc, col("piece"))

  /** Encode the corpus with the trained unigram tokenizer
    * ([[graft.operators.UnigramLm.tokenizeCounts]]): per document the
    * whitespace token count and the Viterbi subword count — the
    * [[bpeTokenize]] shape for the unigram model.
    */
  def spmTokenize(s: SparkSession, d: String): DataFrame =
    graft.operators.UnigramLm.tokenizeCounts(spread(Tables.documents(s, d), s), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** Tokenizer fertility per language
    * ([[graft.operators.UnigramLm.fertility]]): subword pieces per
    * whitespace word and characters per piece under the TRAINED
    * unigram vocabulary — the number a vocab-size decision is judged
    * by, per corpus group. Complements [[vocabFertility]], which
    * audits the fixed BPE-ish regex tokenizer; this row audits the
    * fitted artifact, so vocabulary changes move it.
    */
  def spmFertility(s: SparkSession, d: String): DataFrame =
    graft.operators.UnigramLm.fertility(spread(Tables.documents(s, d), s), "text", "lang")
      .orderBy(col("lang"))

  /** Vocabulary-size tuning curve for the unigram tokenizer
    * ([[graft.operators.UnigramLm.vocabSweep]]): fertility at prune
    * budgets 6 and 12 — the sequence-length-vs-vocab-mass trade the
    * engine's own `spm_*` rows run at 12.
    */
  def spmVocabSweep(s: SparkSession, d: String): DataFrame =
    graft.operators.UnigramLm.vocabSweep(spread(Tables.documents(s, d), s),
      "text", keepMultis = Seq(6, 12))

  /** md5-derived 24-bit coin shared with the oracles. */
  private def h24(prefix: String, c: Column): Column =
    graft.plans.Md5Prefix.of(concat(lit(prefix), c.cast("string")), 6)

  /** Dataset-cartography data map
    * ([[graft.operators.QualityClassifier.dataMap]], Swayamdipta et
    * al. 2020): per document, the mean and integer-variability of its
    * signed margin across the 10 perceptron epochs of
    * [[classifierTrain]]'s fit, bucketed easy / ambiguous / hard — the
    * curation signal that separates redundant examples from label
    * errors from the valuable ambiguous middle.
    */
  def classifierDatamap(s: SparkSession, d: String): DataFrame =
    QualityClassifier.dataMap(
      spread(Tables.documents(s, d), s)
        .withColumn("y",
          when(size(split(lower(trim(col("text"))), "\\s+")) >= 45, 1L).otherwise(-1L)),
      "text", "doc_id", "y", buckets = 4096, iters = 10)
      .orderBy(col("doc_id"))

  /** Most-restrictive-wins license propagation
    * ([[graft.operators.Privacy.licensePropagation]]): every document
    * carries its source's license rank (md5-derived here; a real
    * catalog joins the license table), splits into 4 chunks, chunks
    * scatter into 16 training shards — each shard's binding license is
    * the max rank over everything mixed into it, the rule a release
    * audit enforces before shipping a shard.
    */
  def licensePropagationQ(s: SparkSession, d: String): DataFrame = {
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        (h24("lic:", col("source")) % 4).as("rank"),
        explode(sequence(lit(0), lit(3))).as("chunk"))
      .withColumn("shard",
        graft.plans.Md5Prefix.of(concat(lit("shard:"), col("doc_id").cast("string"),
          lit(":"), col("chunk").cast("string")), 6) % 16)
    graft.operators.Privacy.licensePropagation(chunks, "shard", "doc_id",
      "source", "rank",
      Seq("public_domain", "cc_by", "cc_by_sa", "proprietary"))
  }

  /** [[spmTokenize]] through the persisted-artifact lifecycle
    * ([[graft.operators.UnigramLm.trainVocab]] →
    * [[graft.operators.UnigramLm.tokenizeCountsWith]]): train once,
    * hand the (piece, cnt) vocabulary over as a TABLE, encode against
    * it — bit-equal to the fused path (the parquet round-trip is
    * suite-pinned), so the oracle is shared with [[spmTokenize]].
    */
  def spmTokenizeArtifact(s: SparkSession, d: String): DataFrame = {
    val docs = spread(Tables.documents(s, d), s)
    graft.operators.UnigramLm.tokenizeCountsWith(
      docs, "text", "doc_id",
      graft.operators.UnigramLm.trainVocab(docs, "text"))
      .orderBy(col("doc_id"))
  }

  /** Unbiased pass@k over sampled generations
    * ([[graft.operators.EvalMetrics.passAtK]], Chen et al. 2021): each
    * document plays one sampled generation for problem doc_id div 10
    * (n = 10 samples per problem at every sf), correctness an md5 coin
    * at 25% — the HumanEval aggregation as one corpus-sized count
    * exchange; pass@1 and pass@5 are ratios of exact integer falling
    * products.
    */
  def evalPassAtK(s: SparkSession, d: String): DataFrame =
    graft.operators.EvalMetrics.passAtK(
      Tables.documents(s, d).select(
        expr("doc_id div 10").as("problem_id"),
        (h24("pass:", col("doc_id")) % 4 === 0).as("ok")),
      "problem_id", "ok", ks = Seq(1, 5))
      .orderBy(col("problem_id"))

  /** Expected calibration error
    * ([[graft.operators.EvalMetrics.eceBins]], Guo et al. 2017):
    * hash-derived confidences on the 2²⁴ grid with correctness planted
    * at ~0.9·confidence (a deliberately over-confident model), 10
    * bins — the reliability-diagram table plus the corpus ECE, whose
    * numerator is one exact int64 sum.
    */
  def evalEce(s: SparkSession, d: String): DataFrame =
    graft.operators.EvalMetrics.eceBins(
      Tables.documents(s, d)
        .select(h24("conf:", col("doc_id")).as("conf_fp"),
          h24("acc:", col("doc_id")).as("_acc"))
        .select(col("conf_fp"),
          expr("_acc < (conf_fp * 9) div 10").as("ok")),
      "conf_fp", "ok", bins = 10)

  /** Per-doc keep flags of three production gates over the RAW corpus —
    * the shared input of the curation self-audit rows (388/416/299 of
    * 500 docs pass gopher/classifier/long250 at sf0.01, so every pair
    * has real mass in all four cells).
    */
  private def gateFlags(s: SparkSession, d: String): DataFrame = {
    val docs = spread(Tables.documents(s, d), s)
    val gop = TextAnalysis.gopherRules(docs, "text")
      .select(col("doc_id"), col("gopher_pass").as("gopher"))
    val lab = QualityClassifier.scoreHashModel(docs, "text", "doc_id")
      .select(col("doc_id"), col("label").as("classifier"))
    docs.select(col("doc_id"), col("n_chars"), (col("n_chars") >= 250).as("long250"))
      .join(gop, Seq("doc_id")).join(lab, Seq("doc_id"))
  }

  /** Median (quantile) treatment effect: EXACT per-arm medians via
    * [[graft.operators.Expectations.groupedQuantileSearch]] over the
    * 2²⁰ value grid — the robust alternative to the mean difference
    * when heavy tails would let a few whales move the [[abWelch]]
    * estimate. Both arms search in SHARED fanout-histogram rounds (one
    * cache of (arm, value), ~2 bounded aggregate rounds total — the r13
    * form ran two independent ~21-round bisections, ~46 job waves, and
    * cached the events column twice; r14 measured 10.0 s → ~1 s, same
    * medians bit-for-bit). Emits one row (n0, k0, median0_fp, n1, k1,
    * median1_fp, effect).
    */
  def abQuantileEffect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      (graft.plans.Md5Prefix.of(concat(lit("ab:"), col("user_id").cast("string")), 6)
        % 2).as("_g"),
      floor(col("value") * 1048576).cast("long").as("_v"))
    val rows = graft.operators.Expectations.groupedQuantileSearch(ev, 1, 2)
    require(rows.map(_._1) == Seq(0L, 1L), s"expected arms {0,1}, got ${rows.map(_._1)}")
    val Seq((_, n0, k0, m0), (_, n1, k1, m1)) = rows
    s.createDataset(Seq((n0, k0, m0, n1, k1, m1, (m1 - m0).toDouble / 1048576.0)))
      .toDF("n0", "k0", "median0_fp", "n1", "k1", "median1_fp", "effect")
  }

  /** Post-stratified A/B estimator
    * ([[graft.operators.RateAnomaly.postStratified]]): arm means
    * re-weighted to the pooled event-type shares — the categorical
    * sibling of [[abCuped]]; the cross-stratum float fold is pinned to
    * stratum order on BOTH engines.
    */
  def abPoststrat(s: SparkSession, d: String): DataFrame =
    graft.operators.RateAnomaly.postStratified(
      Tables.events(s, d),
      graft.plans.Md5Prefix.of(concat(lit("ab:"), col("user_id").cast("string")), 6) % 2,
      "event_type", "value")

  /** A/B power analysis ([[graft.operators.RateAnomaly.abPower]]):
    * per-arm sample size to detect a 5% relative effect at two-sided
    * α = 0.05 / power 0.8 from the historical user-grain variance —
    * the design step before [[abSrm]]/[[abCuped]]/[[abWelch]]; z
    * quantiles are embedded literals shared verbatim with the oracle.
    */
  def abPowerQ(s: SparkSession, d: String): DataFrame =
    graft.operators.RateAnomaly.abPower(Tables.events(s, d), "user_id", "value")

  /** k-truss peel curve ([[graft.operators.Graph.trussPeelCurve]],
    * k = 5): per round, survivors and removals over the
    * hash-sparsified item-transition graph (1-in-5 edges — the full
    * graph is near-complete and nothing peels). Converges within the
    * 6 rounds at the verified sf (final n_removed = 0), so the tail
    * count IS the exact 5-truss size; the curve output stays
    * non-empty even at scales where the graph peels to nothing.
    */
  def graphKtruss(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .where(graft.plans.Md5Prefix.of(concat(lit("tr:"),
        least(col("src"), col("dst")).cast("string"), lit(":"),
        greatest(col("src"), col("dst")).cast("string")), 6) % 5 === 0)
    graft.operators.Graph.trussPeelCurve(edges, "src", "dst", k = 5, rounds = 6)
  }

  /** ε-DP mean release ([[graft.operators.Privacy.dpMean]], clip 1000,
    * ε = 1): the third DP primitive — per-language mean n_chars with
    * clipped sensitivity and the reproducible hash-derived Laplace
    * noise of [[dpCounts]].
    */
  def dpMeanQ(s: SparkSession, d: String): DataFrame =
    graft.operators.Privacy.dpMean(Tables.documents(s, d), "lang", "n_chars",
      clip = 1000L)

  /** McNemar's paired-model test
    * ([[graft.operators.EvalMetrics.mcnemar]]): model A at
    * ~0.9·confidence accuracy, model B at ~0.8 — the discordant-pair
    * statistic that says whether B's deficit on the SAME eval set is
    * significant; continuity-corrected, one exact-integer ratio.
    */
  def evalMcnemar(s: SparkSession, d: String): DataFrame =
    graft.operators.EvalMetrics.mcnemar(
      Tables.documents(s, d)
        .select(h24("conf:", col("doc_id")).as("conf_fp"),
          h24("acc:", col("doc_id")).as("_a"), h24("accb:", col("doc_id")).as("_b"))
        .select(expr("_a < (conf_fp * 9) div 10").as("ok_a"),
          expr("_b < (conf_fp * 8) div 10").as("ok_b")),
      "ok_a", "ok_b")

  /** Exact distributed median WITHOUT a global sort
    * ([[graft.operators.Expectations.exactQuantileBisect]]): binary
    * search over the 2²⁰ value grid — ≤21 bounded count rounds, each
    * one map-side-combined aggregate over the cached column; the
    * bracket lives on the driver. The scalable exact-order-statistic
    * plan next to the approximate [[quantileSketch]].
    */
  def quantileBisect(s: SparkSession, d: String): DataFrame =
    graft.operators.Expectations.exactQuantileBisect(
      Tables.events(s, d).select(
        floor(col("value") * 1048576).cast("long").as("value_fp")),
      "value_fp", qNum = 1, qDen = 2)

  /** RAG faithfulness / support audit
    * ([[graft.operators.Retrieval.supportFraction]]): per query
    * document, the fraction of its distinct 3-grams present in its
    * retrieved context set (a deterministic 3-doc context here — the
    * pair table is pluggable and production feeds [[bm25TopK]]/ANN
    * output). Unsupported mass is the hallucination-risk gate.
    */
  def ragSupport(s: SparkSession, d: String): DataFrame = {
    val q = Tables.documents(s, d).where(pmod(col("doc_id"), lit(20)) === 7)
      .select(col("doc_id").as("query_id"))
    val pairs = q.select(col("query_id"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("_off"))
      .select(col("query_id"), (col("query_id") + col("_off")).as("ctx_id"))
    Retrieval.supportFraction(spread(Tables.documents(s, d), s), pairs,
      "text", "doc_id", n = 3)
  }

  /** Gate agreement matrix
    * ([[graft.operators.CorpusSelection.gateOverlap]]): pairwise
    * Jaccard between the classifier, Gopher, and length gates — the
    * redundancy audit a curation chain runs before stacking filters.
    */
  def selectionOverlap(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection.gateOverlap(gateFlags(s, d),
      Seq("classifier", "gopher", "long250"))

  /** Selection-pressure audit
    * ([[graft.operators.CorpusSelection.gateShift]]): per gate, the
    * kept set's mean n_chars against the corpus mean — what each
    * filter does to the length distribution (the winners-curse check).
    */
  def selectionShift(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection.gateShift(gateFlags(s, d),
      Seq("classifier", "gopher", "long250"), "n_chars")

  /** Leave-one-source-out ablation
    * ([[graft.operators.CorpusSelection.looSourceAblation]]): the
    * cheapest source-attribution signal — each source's removal effect
    * on the corpus-mean metric, from one source aggregate.
    */
  def sourceAblation(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection.looSourceAblation(Tables.documents(s, d), "source", "n_chars")

  /** Murphy decomposition of the Brier score
    * ([[graft.operators.EvalMetrics.brierDecomposition]]): per-bin
    * reliability and resolution terms plus the global uncertainty over
    * the same over-confident synthetic predictions as [[evalEce]] —
    * Brier = Σrel − Σres + unc, every term a fixed IEEE chain over
    * exact integer aggregates.
    */
  def evalBrier(s: SparkSession, d: String): DataFrame =
    graft.operators.EvalMetrics.brierDecomposition(
      Tables.documents(s, d)
        .select(h24("conf:", col("doc_id")).as("conf_fp"),
          h24("acc:", col("doc_id")).as("_acc"))
        .select(col("conf_fp"),
          expr("_acc < (conf_fp * 9) div 10").as("ok")),
      "conf_fp", "ok", bins = 10)

  /** Split-conformal coverage audit
    * ([[graft.operators.EvalMetrics.conformalCoverage]]): md5-derived
    * nonconformity scores, a 50/50 calibration/test coin, α = 0.1 —
    * the exact-rank threshold and the test-side coverage it delivers.
    */
  def evalConformal(s: SparkSession, d: String): DataFrame =
    graft.operators.EvalMetrics.conformalCoverage(
      Tables.documents(s, d)
        .select(col("doc_id"), h24("nc:", col("doc_id")).as("score"),
          (h24("cal:", col("doc_id")) % 2 === 0).as("is_cal")),
      "score", "doc_id", "is_cal", alphaNum = 1, alphaDen = 10)

  /** Isotonic (PAV) calibration of the reliability table
    * ([[graft.operators.EvalMetrics.isotonicCalibration]]): the
    * monotone fit that FIXES the miscalibration [[evalEce]] measures,
    * via the minimax closed form over 2⁴⁰-quantized pooled accuracies
    * — exact integer min/max, bounded segment joins.
    */
  def evalIsotonic(s: SparkSession, d: String): DataFrame =
    graft.operators.EvalMetrics.isotonicCalibration(
      Tables.documents(s, d)
        .select(h24("conf:", col("doc_id")).as("conf_fp"),
          h24("acc:", col("doc_id")).as("_acc"))
        .select(col("conf_fp"),
          expr("_acc < (conf_fp * 9) div 10").as("ok")),
      "conf_fp", "ok", bins = 10)

  /** Cohen's kappa between two synthetic raters
    * ([[graft.operators.EvalMetrics.cohenKappa]]): rater 1 an md5
    * 3-class label, rater 2 agreeing at ~70% — the LLM-judge agreement
    * gate; κ is a single division of exact integer cross-moments.
    * Generalizes [[labelKappa]] (binary labelers, per group) to the
    * k-class corpus-wide case via full marginal cross-moments.
    */
  def evalKappa(s: SparkSession, d: String): DataFrame =
    graft.operators.EvalMetrics.cohenKappa(
      Tables.documents(s, d)
        .select(col("doc_id"), (h24("r1:", col("doc_id")) % 3).as("r1"),
          h24("agree:", col("doc_id")).as("_ag"), h24("alt:", col("doc_id")).as("_al"))
        .select(col("r1"),
          when(col("_ag") % 10 < 7, col("r1"))
            .otherwise((col("r1") + 1 + col("_al") % 2) % 3).as("r2")),
      "r1", "r2")

  /** Bradley–Terry skill ratings from pairwise outcomes
    * ([[graft.operators.EvalMetrics.bradleyTerry]], Hunter 2004's MM
    * fixpoint on the 2²⁰ integer grid): per-user item transitions play
    * the matches (the destination item "wins" the comparison), 4
    * unrollable MM rounds — the arena-leaderboard model over the same
    * edge list as [[graft.queries.CoreQueries.graphPagerank]].
    */
  def evalBradleyTerry(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val matches = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .select(lag(col("k"), 1).over(w).as("loser"), col("k").as("winner"))
      .where(col("loser").isNotNull && col("winner").isNotNull &&
        col("loser") =!= col("winner"))
    graft.operators.EvalMetrics.bradleyTerry(matches, "winner", "loser", iters = 4)
      .orderBy(col("rating_fp").desc, col("item"))
  }

  /** Exact shared-substring (duplicate-run) discovery
    * ([[graft.operators.SuffixRuns.sharedRuns]]) — Lee et al. 2022's
    * exact dedup path via binary-lifted window fingerprints instead of
    * a monolithic suffix array. The synthetic corpus has no natural
    * ≥8-token shared runs (31-word vocabulary, random draws), so the
    * query PLANTS them: a fixed 120-doc slice plus stitched variants
    * (for every doc_id % 4 == 0, a new doc = 12-token prefix of d ++
    * an 8-to-31-token window of doc d+4 ++ 8 more tokens of d) — the
    * oracle rebuilds the same derived corpus and computes every pair's
    * true longest run QUADRATICALLY (all substrings ≥ 8 tokens,
    * string-equality join, max — no hashes anywhere), so the lifted
    * path is checked against ground truth, not against itself.
    */
  def dedupSubstring(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).where(col("doc_id") < 120)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
    val st = base.as("d").join(base.as("p"),
        col("p.doc_id") === col("d.doc_id") + 4)
      .where(pmod(col("d.doc_id"), lit(4)) === 0)
      .select((col("d.doc_id") + 100000L).as("doc_id"),
        concat(slice(col("d.toks"), 1, 12),
          slice(col("p.toks"), lit(3), lit(8) + pmod(col("d.doc_id"), lit(24))),
          slice(col("d.toks"), 13, 8)).as("toks"))
    graft.operators.SuffixRuns.sharedRunsTok(
      spread(base.unionByName(st).select(col("doc_id").as("_id"), col("toks")), s),
      minRun = 8, levels = 4)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The scrub half of [[dedupSubstring]]
    * ([[graft.operators.SuffixRuns.coveredPositions]]): per derived
    * document, the token mass inside ANY ≥8-token cross-document
    * shared run — the exact deletion accounting of Lee et al.'s dedup
    * (coverage = union of shared 8-windows, so no run extension is
    * needed). Same planted corpus as [[dedupSubstring]].
    */
  def dedupSubstringScrub(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).where(col("doc_id") < 120)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
    val st = base.as("d").join(base.as("p"),
        col("p.doc_id") === col("d.doc_id") + 4)
      .where(pmod(col("d.doc_id"), lit(4)) === 0)
      .select((col("d.doc_id") + 100000L).as("doc_id"),
        concat(slice(col("d.toks"), 1, 12),
          slice(col("p.toks"), lit(3), lit(8) + pmod(col("d.doc_id"), lit(24))),
          slice(col("d.toks"), 13, 8)).as("toks"))
    graft.operators.SuffixRuns.coveredPositions(
      spread(base.unionByName(st).select(col("doc_id").as("_id"), col("toks")), s),
      minRun = 8)
  }

  /** Sparse inverted-index cosine top-5
    * ([[graft.operators.Similarity.hashEmbedTopK]]): text-to-text
    * similarity via posting-list intersection on the hash features —
    * the third ANN strategy (dense brute / LSH-IVF / sparse inverted).
    */
  def annHashEmbed(s: SparkSession, d: String): DataFrame = {
    val docs = spread(Tables.documents(s, d), s)
    Similarity.hashEmbedTopK(docs, docs.where(col("doc_id") < 10), k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hashing-trick featurization ([[graft.operators.Similarity.hashEmbed]]):
    * text → L2-normalized 64-bucket hash embedding, sparse rows.
    */
  def textEmbedHash(s: SparkSession, d: String): DataFrame =
    Similarity.hashEmbed(spread(Tables.documents(s, d), s), "text", "doc_id", dim = 64)
      .orderBy(col("doc_id"), col("dim"))

  /** Per-vector cosine to its label centroid
    * ([[graft.operators.Similarity.centroidCosine]]): embedding-cluster
    * quality / mislabel-outlier signal on the exact integer grid.
    */
  def embCentroidCos(s: SparkSession, d: String): DataFrame =
    Similarity.centroidCosine(Tables.embeddings(s, d), "vec_id", "label", "embedding")
      .orderBy(col("vec_id"))

  /** A1 with business time — the reference's full metric row
    * (models/issue.py:212-224): per (entity, from-status) transition count,
    * wall seconds, business seconds (Mon–Fri 09:00–22:00, RU fixed
    * holidays), human-readable total, set-once last_seen.
    */
  def a1BusinessMetrics(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prevTs = coalesce(lag(col("ts"), 1).over(w), col("ts"))
    Tables.events(s, d)
      .select(
        col("user_id"), col("event_id"), col("ts"), col("event_type"),
        coalesce(lag(col("event_type"), 1).over(w), lit("created")).as("from_status"),
        TimeFns.timedeltaSeconds(col("ts"), prevTs).as("duration_s"),
        graft.plans.GraftExtensions.businessSecondsExpr(prevTs, col("ts")).as("busdays_s"))
      .groupBy(col("user_id"), col("from_status"))
      .agg(
        count(lit(1)).as("status_transitions_count"),
        sum(col("duration_s")).as("duration"),
        sum(col("busdays_s")).as("busdays_duration"),
        min(col("ts")).as("last_seen"))
      .withColumn("human_readable_duration", TimeFns.toHumanTime(col("duration"), 2))
      .orderBy(col("user_id"), col("from_status"))
  }

  /** Content-defined chunking ([[graft.operators.TextAnalysis.cdcChunks]],
    * divisor 16 ≈ 16-token expected chunks): the shift-resistant dedup
    * unit — an edit re-synchronizes the chunk grid at the next hash
    * boundary, so near-identical docs share all chunks outside the edit.
    * `n_docs_sharing > 1` rows are the cross-doc duplicated regions.
    */
  def chunkCdc(s: SparkSession, d: String): DataFrame =
    TextAnalysis.cdcChunks(spread(Tables.documents(s, d), s), "text", "doc_id", divisor = 16)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** K-anonymity release audit ([[graft.operators.Privacy.kAnonymize]],
    * k = 4 over the (lang, source) quasi-identifiers): the sf corpus has
    * singleton (lang, source) combos (1-doc cells), so all three ladder
    * levels — exact release, source suppressed, full suppression — are
    * exercised with real rows.
    */
  def kanonSuppress(s: SparkSession, d: String): DataFrame =
    graft.operators.Privacy.kAnonymize(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source")),
      "lang", "source", k = 4)
      .select(col("doc_id"), col("anon_q1"), col("anon_q2"),
        col("anon_level"), col("anon_set_size"))
      .orderBy(col("doc_id"))

  /** Right-to-be-forgotten audit ([[graft.operators.Privacy.deletionAudit]]):
    * the tombstone list is every 13th user (planted, deterministic);
    * per event type the audit reports rows before / deleted / after —
    * the verification artifact an erasure run files.
    */
  def deletionAudit(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val tomb = ev.where(pmod(col("user_id"), lit(13)) === 0).select(col("user_id"))
    graft.operators.Privacy.deletionAudit(ev, "user_id", tomb, "event_type")
      .orderBy(col("event_type"))
  }

  /** ε-DP count release ([[graft.operators.Privacy.dpCounts]], ε = 1):
    * per-language doc counts with reproducible hash-derived Laplace
    * noise on the 2⁻⁴⁰ grid — exact count kept beside the release so the
    * row is an accuracy measurement (the sketch_overlap convention).
    */
  def dpCounts(s: SparkSession, d: String): DataFrame =
    graft.operators.Privacy.dpCounts(Tables.documents(s, d), "lang", epsilon = 1.0)
      .orderBy(col("lang"))

  /** Blocked fuzzy record linkage
    * ([[graft.operators.Linkage.fuzzyNamePairs]]) over part names,
    * blocked by the head noun (last token), Levenshtein ≤ 3: the
    * catalog-dedup review queue — name pairs differing by small edits,
    * rolled up with id-pair counts. dist = 0 rows are exact-name
    * duplicates across part keys; dist ∈ [1, 3] the fuzzy merges.
    */
  def fuzzyMatch(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    graft.operators.Linkage.fuzzyNamePairs(
      p, "p_partkey", "p_name",
      graft.operators.Linkage.blockByLastToken(col("p_name")), maxDist = 3)
      .orderBy(col("name_a"), col("name_b"))
  }

  /** Embedding-space coverage per label
    * ([[graft.operators.Similarity.signCellCoverage]], 12 sign dims →
    * 4096 orthant cells): distinct-cell counts and cell-distribution
    * entropy — the diversity signal mixture tuning reads per source.
    */
  def embCoverage(s: SparkSession, d: String): DataFrame =
    Similarity.signCellCoverage(Tables.embeddings(s, d), "label", "embedding", signDims = 12)
      .orderBy(col("label"))

  /** Tokenizer-vocabulary OOV audit
    * ([[graft.operators.TextAnalysis.oovRate]]): per-source share of
    * token occurrences outside the corpus top-24 vocabulary. 24 sits
    * BELOW this corpus's ~31-term vocabulary on purpose — real OOV hits,
    * not a vacuous zero column (the textPerplexity discipline).
    */
  def vocabOov(s: SparkSession, d: String): DataFrame =
    TextAnalysis.oovRate(Tables.documents(s, d), "text", "source", vocabSize = 24)
      .orderBy(col("source"))

  /** Stitched-document detection ([[graft.operators.Dedup.stitchPairs]],
    * k = 10): the synthetic corpus has no natural tail→head overlaps, so
    * the query PLANTS them — every 25th doc gets a twin (id + 100000)
    * whose text BEGINS with that doc's 10-token tail (a crawl
    * continuation); each planted twin must pair with its origin, and
    * the pairing must survive on the boundary alone (the twin shares no
    * other content).
    */
  def dedupStitch(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val toks = split(lower(trim(col("text"))), "\\s+")
    val planted = base.where(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(array_join(slice(toks, -10, 10), " "),
          lit(" continuation payload of the stitched crawl page")).as("text"))
    Dedup.stitchPairs(base.unionByName(planted), "text", "doc_id", k = 10)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Per-language winsorization of document length
    * ([[graft.operators.CorpusSelection.winsorize]], p05/p95): exact
    * discrete percentile bands per lang, lengths clamped into them —
    * the outlier conditioning in front of mean-based quality blending.
    */
  def qualityWinsorize(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection.winsorize(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
      "lang", "n_chars", pLo = 0.05, pHi = 0.95)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("p_lo"), col("p_hi"), col("winsorized"), col("is_clamped"))
      .orderBy(col("doc_id"))

  /** T5-style span-corruption example generation
    * ([[graft.operators.TextAnalysis.spanCorruption]], ≈⅓ masked): the
    * denoising-pretraining pair factory — hash-chosen masks, sentinel
    * inputs, span-listing targets, identical on every engine.
    */
  def t5Spans(s: SparkSession, d: String): DataFrame =
    TextAnalysis.spanCorruption(spread(Tables.documents(s, d), s), "text", "doc_id", maskMod = 3)
      .orderBy(col("doc_id"))

  /** Vocabulary-growth (Heaps) curve
    * ([[graft.operators.TextAnalysis.vocabGrowth]]): distinct terms
    * after each tenth of the token stream in doc order.
    */
  def vocabGrowth(s: SparkSession, d: String): DataFrame =
    TextAnalysis.vocabGrowth(Tables.documents(s, d), "text", "doc_id")

  /** Poisson-bootstrap CI for the mean document length
    * ([[graft.operators.Expectations.poissonBootstrapMean]], 32
    * replicas): the error bar a corpus-stats dashboard should draw —
    * replica means exact on integer sums, the hash-derived Poisson
    * weights replayed bit-for-bit by the oracle.
    */
  def bootstrapCi(s: SparkSession, d: String): DataFrame =
    graft.operators.Expectations.poissonBootstrapMean(
      Tables.documents(s, d), "doc_id", "n_chars", replicas = 32)
      .orderBy(col("replica"))

  /** Padding-waste audit
    * ([[graft.operators.CorpusSelection.paddingAudit]], batch 32):
    * arrival-order vs length-sorted batch assembly over the documents'
    * token counts — the measured case for length-grouped batching.
    */
  /** Best-fit-decreasing sequence packing
    * ([[graft.operators.CorpusSelection.packBestFit]]): per-language
    * shards, whitespace-token lengths, capacity 256 — every document
    * lands in a fixed-capacity bin with no boundary straddling, bins
    * close near-full (the production padding-free batcher that
    * [[packEfficiency]]'s waste audit motivates). The oracle replays
    * the whole sequential placement as a list-state fold.
    */
  def packBestfit(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection.packBestFit(
      Tables.documents(s, d), "doc_id",
      size(split(lower(trim(col("text"))), "\\s+")), capacity = 256L,
      shardCol = "lang")
      .orderBy(col("lang"), col("bin"), col("doc_id"))

  /** The packing-waste ledger
    * ([[graft.operators.CorpusSelection.packWaste]]): the same best-fit
    * fold under arrival order vs length-desc (BFD) order, rolled up —
    * the before/after that justifies shipping the BFD packer.
    */
  def packWasteQ(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection.packWaste(
      Tables.documents(s, d), "doc_id",
      size(split(lower(trim(col("text"))), "\\s+")), capacity = 256L,
      shardCol = "lang")
      .orderBy(col("strategy"))

  def packEfficiency(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection.paddingAudit(
      Tables.documents(s, d), "doc_id",
      size(split(lower(trim(col("text"))), "\\s+")), batchSize = 32)
      .orderBy(col("strategy"))

  /** Classifier reliability diagram
    * ([[graft.operators.QualityClassifier.scoreHashModel]] binned
    * against the independent "long document" truth): per score bin
    * (width 0.25 over [−1, 1]), document count, observed positive rate,
    * and the score envelope — the calibration audit every
    * classifier-gated curation chain
    * ([[curationClassifier]]) owes its threshold choice to. Per-bin
    * rates are one deterministic division; score extremes use min/max
    * (order-free), never an order-sensitive double mean.
    */
  def qualityCalibration(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val scored = QualityClassifier.scoreHashModel(spread(docs, s), "text", "doc_id")
    val truth = docs.select(col("doc_id"),
      (size(split(lower(trim(col("text"))), "\\s+")) >= 45).as("is_long"))
    scored.join(truth, Seq("doc_id"))
      .withColumn("bin",
        least(greatest(floor((col("score") + 1.0) * 4.0).cast("long"), lit(0L)), lit(7L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_long"), 1L).otherwise(0L)).as("n_true"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
      .withColumn("true_rate", col("n_true").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("bin"))
  }

  /** Distributed batch-perceptron TRAINING of the quality classifier
    * ([[graft.operators.QualityClassifier.trainPerceptron]]): the other
    * half of the fastText story next to the inference-only
    * [[qualityClassifier]] — learn the 4096 hashed-n-gram bucket weights
    * from per-document ±1 labels (here the synthetic supervision "long
    * document": ≥ 45 whitespace tokens) over 10 full-corpus epochs, each
    * ONE broadcast-scoring pass + ONE integer update aggregate. Emits
    * the per-epoch convergence trace (misclassified count before the
    * epoch, weight l1 mass after it — 500 wrong at the zero model down
    * to single digits by epoch 10); the all-integer Rosenblatt update
    * is associative, so the oracle replays the entire optimization
    * bit-for-bit as 10 CTE layers.
    */
  def classifierTrain(s: SparkSession, d: String): DataFrame =
    QualityClassifier.trainPerceptron(
      spread(Tables.documents(s, d), s)
        .withColumn("y",
          when(size(split(lower(trim(col("text"))), "\\s+")) >= 45, 1L).otherwise(-1L)),
      "text", "doc_id", "y", buckets = 4096, iters = 10)
      .orderBy(col("iter"))

  /** Holdout generalization of the trained perceptron
    * ([[graft.operators.QualityClassifier.evalPerceptron]]): md5-coin
    * 80/20 split, 10 train-side epochs, both sides scored against the
    * final weights — (split, n_docs, n_wrong) says whether the learned
    * quality gate transfers to unseen documents.
    */
  def classifierEval(s: SparkSession, d: String): DataFrame =
    QualityClassifier.evalPerceptron(
      spread(Tables.documents(s, d), s)
        .withColumn("y",
          when(size(split(lower(trim(col("text"))), "\\s+")) >= 45, 1L).otherwise(-1L)),
      "text", "doc_id", "y", buckets = 4096, iters = 10)
      .orderBy(col("split"))

  /** Distributed Lloyd k-means over the full embeddings table
    * ([[graft.operators.Similarity.lloydKMeans]], k=8, 4 epochs,
    * 2²⁰ grid): the full-corpus refinement loop behind SemDeDup
    * clustering and IVF training — broadcast-centroid argmin + integer
    * centroid update per epoch, every step on the int64 grid so the
    * oracle replays the whole optimization as CTE layers. Emits the
    * final per-cluster assignment profile.
    */
  def kmeansTrain(s: SparkSession, d: String): DataFrame =
    Similarity.lloydKMeans(Tables.embeddings(s, d), "embedding", "vec_id",
      k = 8, iters = 4)
      .orderBy(col("cluster"))

  /** MMR diversified re-ranking ([[graft.operators.Retrieval.mmrSelect]],
    * Carbonell & Goldstein 1998): per query (the 10 lowest vec_ids),
    * top-20 candidates by exact grid dot, then 5 greedy rounds of
    * `rel − max-sim-to-picked` — the RAG retriever's
    * near-duplicate-suppression stage, all on the 2²⁰ integer grid so
    * the oracle replays every round's argmax.
    */
  def retrievalMmr(s: SparkSession, d: String): DataFrame = {
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val e = Tables.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => floor(x.cast("double") * (1L << 20)).cast("long")).as("qv"))
    val queries = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("_qqv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rel_fp").desc, col("cand_id"))
    val cands = e.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        dot(col("qv"), col("_qqv")).as("rel_fp"), col("qv"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= 20)
      .drop("_rn")
    Retrieval.mmrSelect(cands, "query_id", "cand_id", "rel_fp", "qv", k = 5)
      .orderBy(col("query_id"), col("sel_round"))
  }

  /** Greedy facility-location coverage selection
    * ([[graft.operators.CorpusSelection.facilitySelect]]): from a
    * 17-candidate pool (vec_id ≡ 0 mod 31), the 5 picks maximizing
    * corpus coverage Σ max sim⁺ — the submodular complement of
    * [[selectKcenter]]'s diversity objective; marginal gains exact on
    * the grid and provably non-increasing.
    */
  def selectFacility(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    graft.operators.CorpusSelection.facilitySelect(
      e, e.where(col("vec_id") % 31 === 0), "embedding", "vec_id", k = 5)
      .orderBy(col("sel_round"))
  }

  /** Greedy k-center coreset selection
    * ([[graft.operators.CorpusSelection.kCenterSelect]], Gonzalez
    * farthest-point traversal) over the embedding table: the 8 most
    * mutually-distant vectors with the covering-radius certificate per
    * round, on the lloydKMeans integer grid. The oracle replays every
    * round's running-min-distance table and argmax.
    */
  def selectKcenter(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusSelection.kCenterSelect(Tables.embeddings(s, d), "embedding", "vec_id", k = 8)
      .orderBy(col("sel_round"))

  /** CDC chunk-level storage dedup audit
    * ([[graft.operators.TextAnalysis.cdcChunks]] rolled up per source):
    * what a content-addressed chunk store would save — per source,
    * total chunk tokens vs tokens stored once per distinct chunk
    * fingerprint (the dedup-storage estimate every ingest pipeline
    * runs before committing a new crawl snapshot; CDC chunks make it
    * shift-resistant, so near-identical documents share everything
    * outside the edit region). Savings ratio on the 2⁻²⁰ grid.
    * All keyed by doc or fingerprint — nothing corpus-quadratic.
    */
  def chunkDedupRate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TextAnalysis.cdcChunks(spread(docs, s), "text", "doc_id")
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"), col("chunk_fp"))
      .agg(count(lit(1)).as("_cnt"), min(col("n_chunk_tokens")).cast("long").as("_ntok"))
      .groupBy(col("source"))
      .agg(sum(col("_cnt")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(col("_cnt") * col("_ntok")).as("total_tokens"),
        sum(col("_ntok")).as("stored_tokens"))
      .withColumn("saved_fp",
        expr("((total_tokens - stored_tokens) * 1048576L) div total_tokens"))
      .withColumn("saved",
        (col("total_tokens") - col("stored_tokens")).cast("double")
          / col("total_tokens").cast("double"))
      .orderBy(col("source"))
  }

  /** Inter-labeler agreement (Cohen's κ) per language between two weak
    * document labelers — the annotation-QA gate before any
    * classifier-gate threshold is trusted: raw agreement over-credits
    * labelers that both say "yes" to everything; κ subtracts the
    * chance-agreement floor. Labeler 1 gates on length (≥45 words),
    * labeler 2 on bytes (≥250 chars) — correlated-but-different, the
    * realistic case. All-integer: κ = (n·agree − E)/(n² − E) with
    * E = pos₁·pos₂ + neg₁·neg₂; the fixed-point column carries κ+1
    * (range [0,2]) because Spark's `div` truncates toward zero while
    * DuckDB's `//` floors — identical on non-negatives only. The
    * double κ is one division, deterministic on both engines.
    */
  def labelKappa(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"),
        (size(TextAnalysis.tokens(col("text"))) >= 45).as("l1"),
        (col("n_chars") >= 250).as("l2"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("l1") === col("l2"), 1L).otherwise(0L)).as("agree"),
        sum(when(col("l1"), 1L).otherwise(0L)).as("pos1"),
        sum(when(col("l2"), 1L).otherwise(0L)).as("pos2"))
      .withColumn("_e", col("pos1") * col("pos2")
        + (col("n_docs") - col("pos1")) * (col("n_docs") - col("pos2")))
      .select(col("lang"), col("n_docs"), col("agree"), col("pos1"), col("pos2"),
        when(col("n_docs") * col("n_docs") =!= col("_e"),
          expr("((agree * n_docs - _e + (n_docs * n_docs - _e)) * 1048576L)" +
            " div (n_docs * n_docs - _e)")).as("kappa1p_fp"),
        when(col("n_docs") * col("n_docs") =!= col("_e"),
          (col("agree") * col("n_docs") - col("_e")).cast("double")
            / (col("n_docs") * col("n_docs") - col("_e")).cast("double")).as("kappa"))
      .orderBy(col("lang"))

  /** Tokenizer fertility audit: subword-per-word ratio per language —
    * THE cross-lingual tokenizer-equity metric (a tokenizer trained on
    * English text fragments other scripts into 2–4× more subwords per
    * word, inflating their effective sequence length and cost; fertility
    * per language is what a vocabulary redesign is judged by). Proxy
    * tokenizers: whitespace words vs the BPE-ish alphanumeric-run
    * count ([[graft.operators.TextAnalysis.bpeishTokenCount]]). Ratio
    * exact on the 2⁻²⁰ grid. One map-side-combined aggregate — two
    * codegen'd per-row counts, no explode, no shuffle of text.
    */
  def vocabFertility(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("ws_tokens"),
        sum(TextAnalysis.bpeishTokenCount(col("text")).cast("long")).as("bpeish_tokens"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpeish_tokens"),
        expr("(bpeish_tokens * 1048576L) div ws_tokens").as("fertility_fp"),
        (col("bpeish_tokens").cast("double") / col("ws_tokens").cast("double")).as("fertility"))
      .orderBy(col("lang"))

  /** Dictionary tagging — the brand-safety / domain-lexicon pass every
    * curation pipeline runs (hit counts against a curated term list,
    * e.g. UT1 blocklists or a medical/legal domain lexicon). The
    * lexicon is a 13-term (term → category) table BROADCAST to every
    * executor — real lexicons are thousands of terms, still far inside
    * broadcast range — so the corpus side is one map-local explode +
    * equi-join + map-side-combined aggregate; the corpus never
    * shuffles text, only (lang, category) partial counts. Per
    * (lang, category): documents hit, total hits, distinct terms seen.
    * For multi-word phrases the same shape holds with the tokenizer
    * swapped for an n-gram window (or an Aho–Corasick scan per
    * partition); the single-token form is what the synthetic
    * whitespace corpus exercises.
    */
  def keywordTag(s: SparkSession, d: String): DataFrame = {
    val lex = s.createDataFrame(Seq(
      ("spark", "engine"), ("stream", "engine"), ("batch", "engine"),
      ("hash", "compute"), ("merge", "compute"), ("sort", "compute"),
      ("join", "compute"), ("filter", "compute"), ("scan", "compute"),
      ("table", "storage"), ("row", "storage"), ("column", "storage"),
      ("vector", "storage"))).toDF("term", "category")
    spread(Tables.documents(s, d), s)
      .select(col("doc_id"), col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .join(broadcast(lex), Seq("term"))
      .groupBy(col("lang"), col("category"))
      .agg(countDistinct(col("doc_id")).as("docs_hit"),
        count(lit(1)).as("total_hits"),
        countDistinct(col("term")).as("n_terms"))
      .orderBy(col("lang"), col("category"))
  }

  /** Pareto-front corpus selection
    * ([[graft.operators.CorpusSelection.skyline]]): the documents no
    * other document dominates on (length, lexical diversity) — "longest at every
    * quality level", the skyline view a curation run uses to see the
    * quality/size trade-off frontier before picking a budget threshold.
    * Diversity rides the 2⁻²⁰ grid (distinct-token count · 2^20 div
    * token count, exact integers both engines).
    *
    * Scale shape: the corpus first collapses to DISTINCT (length,
    * diversity) points with per-point doc counts — one
    * map-side-combined aggregate bounded by the value-domain
    * cardinality, not the corpus. The skyline itself is then one
    * running-max window over those points ordered (x desc, y desc): a
    * point is dominated iff some preceding point's diversity ≥ its own
    * (preceding ⇒ x is ≥; equal-(x,y) rows were merged, so ≥ implies a
    * strict edge somewhere). The single-partition window is over the
    * point table only — at 100 TB the corpus still pays just the one
    * aggregate. The oracle is the quadratic NOT-EXISTS dominance
    * definition, so the window trick itself is what gets verified.
    */
  def paretoFront(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val pts = spread(Tables.documents(s, d), s)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
      .where(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        expr("(n_distinct * 1048576L) div n_tokens").as("div_fp"))
      .groupBy(col("n_tokens"), col("div_fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
    graft.operators.CorpusSelection.skyline(pts, "n_tokens", "div_fp")
      .select(col("n_tokens"), col("div_fp"), col("n_docs"), col("min_doc"))
      .orderBy(col("n_tokens").desc)
  }
}
