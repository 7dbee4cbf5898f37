package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-based approximate nearest neighbor — the HNSW/Vamana-class
  * production vector index that the brute/LSH/IVF/PQ ladder stops
  * short of: a degree-capped k-NN neighbor GRAPH built by NN-descent
  * (Dong et al. 2011, "Efficient K-Nearest Neighbor Graph Construction
  * for Generic Similarity Measures"), then queries answered by
  * bounded-round BEAM SEARCH over the graph (the greedy search loop of
  * HNSW layer 0 / Vamana's GreedySearch, width = `beam`).
  *
  * Everything is DETERMINISTIC — no sampled candidates, no random
  * entry point — so build AND search replay bit-for-bit in oracle SQL:
  *
  *   - init: multi-probe LSH buckets (the [[Similarity.lshBucket]]
  *     minstd-LCG hyperplanes, seed-shared with `ann_lsh`) give the
  *     LOCAL candidates, and id-hash groups (md5, locality-free) give
  *     LONG-RANGE candidates — together the deterministic stand-in for
  *     NN-descent's random init (see the buildGraph body for why the
  *     long-range half is load-bearing); top-`degree` by exact cosine
  *     seeds each node's adjacency;
  *   - NN-descent round: candidates = neighbors-of-neighbors through
  *     the UNDIRECTED view of the current graph (out-edges plus
  *     REVERSE edges capped at `degree` per node — the reverse cap is
  *     Dong et al.'s ρ·K reverse sampling made deterministic, and the
  *     thing that bounds a popular hub's fan-out), each candidate
  *     scored by exact cosine, keep top-`degree` per node (ties:
  *     cosine desc, id asc);
  *   - search: seed each query's beam from its multi-probe LSH bucket
  *     (the same hyperplanes — the deterministic coarse-quantizer entry
  *     points), then `rounds` frontier expansions: score all
  *     graph-neighbors of the current beam, keep the best `beam`
  *     visited nodes per query, emit top-k at the end.
  *
  * Plan at 100 TB: nothing is all-pairs. Init pairs are LSH-bucket
  * joins (bucket width governs candidate volume exactly as in
  * [[Dedup]]'s banded paths); each NN-descent round exchanges at most
  * N·(2·degree)² candidate id-pairs plus two hash joins against the
  * (id, vector) table for scoring; the graph itself is N·degree rows.
  * Search is queries×beam×degree per round. Rounds use
  * [[Materialize.cutLoop]] (eager truncation, previous generation
  * released). Residual risk, stated: a node whose probed buckets are
  * all singletons starts edge-less and is only rescued if some other
  * node links TO it (reverse candidates); production repairs the
  * (rare) leftovers with one extra probe pass — at both test scales
  * every node ends with a full degree-`degree` adjacency.
  */
object AnnGraph {

  /** Top-`m` outgoing edges per source: (u, w, cosine, rank). */
  private def topM(scored: DataFrame, m: Int): DataFrame = {
    val w = Window.partitionBy(col("u")).orderBy(col("cosine").desc, col("w"))
    scored.withColumn("_rk", row_number().over(w)).where(col("_rk") <= m)
      .select(col("u"), col("w"), col("cosine"), col("_rk"))
  }

  /** Exact cosine for candidate id-pairs: two hash joins against the
    * vector table — ids shuffle, vectors join in once per side. The `w`
    * join runs FIRST so the second (u) join leaves the output
    * hash-partitioned on `u`, which is exactly what [[topM]]'s window
    * requires — EnsureRequirements then inserts no extra exchange
    * between scoring and ranking (guide §2.4: operations keyed the same
    * way share one exchange). Inner equi-joins commute, so results are
    * unchanged.
    *
    * The vector table must carry a `_n` norm column (see [[withNorm]]):
    * `Similarity.cosine` would recompute BOTH norms per candidate pair —
    * three dim-length dot kernels per pair where one suffices; at sf0.1
    * the init round scores ~500k pairs and the norm share profiled 2.42
    * vs 0.83 s. `dot / (_un * _wn)` is bit-identical to the composed
    * form: `_n` is the same `sqrt` of the same left-fold over the same
    * array, and the top-level ops match `dot / (norm * norm)` exactly
    * (asserted exceptAll-empty in the profiling run and by the oracle
    * hash).
    */
  private def scorePairs(pairs: DataFrame, vecs: DataFrame): DataFrame =
    pairs
      .join(vecs.select(col("_id").as("w"), col("_v").as("_wv"), col("_n").as("_wn")), Seq("w"))
      .join(vecs.select(col("_id").as("u"), col("_v").as("_uv"), col("_n").as("_un")), Seq("u"))
      .select(col("u"), col("w"),
        (Similarity.dot(col("_uv"), col("_wv")) / (col("_un") * col("_wn"))).as("cosine"))

  /** (_id, _v, _n): the slim vector table with its norm computed ONCE
    * per vector — every scoring site divides by the cached norms.
    */
  private def withNorm(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors.select(
      col(idCol).cast("long").as("_id"),
      col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_n", sqrt(Similarity.dot(col("_v"), col("_v"))))

  /** ceil(log2(n / targetWidth)) clamped to [1, 20] — the bit-count
    * that keeps the average bucket/group WIDTH constant as the corpus
    * grows. This sizing is load-bearing at scale: FIXED bit-counts make
    * widths grow linearly with N and the candidate equi-joins
    * quadratic (measured: 10× corpus ratio 14.3 with fixed 5-bit
    * groups vs near-linear once sized).
    */
  private def bitsFor(n: Long, targetWidth: Int): Int =
    math.min(20, math.max(1,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, (n - 1) / targetWidth))))

  /** Build the degree-capped neighbor graph. Emits one row per
    * directed edge: (vec_id, neighbor_id, rank, cosine). `planes` /
    * `groupBits` < 0 (the default) auto-size to keep ~`targetWidth`
    * vectors per LSH bucket / hash group via ONE bounded-class count —
    * pass them explicitly to pin an oracle-replayable configuration.
    */
  def buildGraph(vectors: DataFrame, idCol: String = "vec_id",
                 vecCol: String = "embedding", dim: Int = 64,
                 degree: Int = 6, planes: Int = -1, probes: Int = 2,
                 rounds: Int = 2, groupBits: Int = -1, targetWidth: Int = 16,
                 seed: Long = 42L): DataFrame = {
    require(degree >= 1 && rounds >= 0, s"degree/rounds invalid: $degree/$rounds")
    // LAZY cut (guide §1.2 — job waves, not bytes): the norm table is a
    // pure multi-consumer reuse point (bucketed/grouped projections plus
    // one scoring join per round) with no loop or self-invalidation
    // hazard, so an EAGER cut only added a count() job wave before any
    // real work; the init round's first action populates the blocks.
    val vecs = Materialize.cut(withNorm(vectors, idCol, vecCol))
    val autoBits = if (planes < 0 || groupBits < 0)
      bitsFor(vecs.count(), targetWidth) else 0
    val nPlanes = if (planes < 0) autoBits else planes
    val nGroupBits = if (groupBits < 0) autoBits else groupBits
    val bucketed = vecs.select(col("_id"),
      Similarity.lshBucket(col("_v"), dim, nPlanes, seed).as("bucket"))
    val probed = Similarity.multiProbe(
      bucketed.select(col("_id").as("u"), col("bucket")), "bucket", nPlanes, probes)
    val candNear = probed
      .join(bucketed.select(col("_id").as("w"), col("bucket")), Seq("bucket"))
      .where(col("u") =!= col("w"))
      .select(col("u"), col("w"))
    // LONG-RANGE init edges — the deterministic stand-in for
    // NN-descent's random init graph, and NOT an optional nicety: LSH
    // buckets alone make the init a union of locality CLIQUES, and
    // neighbors-of-neighbors can never leave a connected component, so
    // the descent stalls and the beam saturates at its seed component
    // (measured before this fix: recall frozen at the seed level for
    // every beam/round setting). A second, locality-FREE grouping —
    // md5 of the id, nothing to do with the vector — gives each node
    // ~N/2^groupBits uniformly-spread peers; those edges make the init
    // an expander, so both the descent and the beam can reach any
    // region of the corpus.
    val grouped = vecs.select(col("_id"),
      (QualityClassifier.md24(col("_id").cast("string")) % (1 << nGroupBits)).as("grp"))
    val candFar = grouped.as("x").join(grouped.as("y"), col("x.grp") === col("y.grp"))
      .where(col("x._id") =!= col("y._id"))
      .select(col("x._id").as("u"), col("y._id").as("w"))
    val candInit = candNear.unionByName(candFar).distinct()
    var g = Materialize.cutLoop(topM(scorePairs(candInit, vecs), degree), None)
    for (_ <- 1 to rounds) {
      // undirected view with the reverse side degree-capped
      val revCap = topM(
        g.select(col("w").as("u"), col("u").as("w"), col("cosine")), degree)
      val und = g.select(col("u"), col("w"))
        .unionByName(revCap.select(col("u"), col("w"))).distinct()
      val cand = und.as("a").join(und.as("b"), col("a.w") === col("b.u"))
        .where(col("a.u") =!= col("b.w"))
        .select(col("a.u").as("u"), col("b.w").as("w"))
        .unionByName(g.select(col("u"), col("w")))
        .distinct()
      g = Materialize.cutLoop(topM(scorePairs(cand, vecs), degree), Some(g))
    }
    val out = g.select(col("u").as("vec_id"), col("w").as("neighbor_id"),
      col("_rk").cast("int").as("rank"), col("cosine"))
    // No final pin (guide §1.2: drop cuts whose output is consumed
    // once): `out` is a pure projection over the last round's already-
    // checkpointed generation, so pinning it re-materialized N·degree
    // rows in one extra job wave purely to allow release(g). Returning
    // the projection over g directly skips that wave; g's checkpoint
    // blocks are freed by GC once the caller drops the result (the
    // localCheckpoint lifecycle — Bench/Verify additionally clearCache
    // between queries). vecs is released here because `out`'s lineage
    // no longer references it.
    Materialize.release(vecs)
    out
  }

  /** Beam search over a [[buildGraph]] adjacency: the beam is SEEDED
    * from the query's multi-probe LSH bucket (same hyperplanes as the
    * build — the coarse-quantizer entry points production graph indexes
    * pair with the graph, and the move that makes search robust on
    * low-structure corpora where a single fixed entry point strands the
    * walk in a local optimum), then `rounds` frontier expansions: score
    * every graph-neighbor of the current beam, keep the best `beam`
    * visited per query, emit the top-k. Emits (query_id, neighbor_id,
    * rank, cosine) — the [[Similarity.bruteForceTopK]] shape, so
    * [[Similarity.recallAtK]] composes directly.
    */
  def beamSearch(graph: DataFrame, vectors: DataFrame, queries: DataFrame,
                 k: Int, beam: Int = 12, rounds: Int = 3, dim: Int = 64,
                 planes: Int = -1, probes: Int = 2, targetWidth: Int = 16,
                 seed: Long = 42L,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && beam >= k && rounds >= 1,
      s"need beam >= k >= 1 and rounds >= 1, got k=$k beam=$beam rounds=$rounds")
    val vecs = Materialize.cut(withNorm(vectors, idCol, vecCol))
    val nPlanes = if (planes < 0) bitsFor(vectors.count(), targetWidth) else planes
    val q = broadcast(queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"))
      .withColumn("_qn", sqrt(Similarity.dot(col("_qv"), col("_qv")))))
    val g = graph.select(col("vec_id").as("_gu"), col("neighbor_id").as("_gw"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("node"))
    // seed beam: the query's multi-probe LSH candidates, exact-scored,
    // top-`beam` kept (the query set is small — broadcast; candidates
    // stream through the bucket equi-join)
    val cB = vecs.select(col("_id"),
      Similarity.lshBucket(col("_v"), dim, nPlanes, seed).as("bucket"))
    val qB = broadcast(Similarity.multiProbe(
      queries.select(col(idCol).cast("long").as("query_id"),
        Similarity.lshBucket(col(vecCol), dim, nPlanes, seed).as("bucket")),
      "bucket", nPlanes, probes))
    val seeds = qB.join(cB, Seq("bucket"))
      .select(col("query_id"), col("_id").as("node")).distinct()
    var visited = Materialize.cutLoop(
      seeds.join(vecs, col("node") === col("_id")).join(q, Seq("query_id"))
        .select(col("query_id"), col("node"),
          (Similarity.dot(col("_qv"), col("_v")) / (col("_qn") * col("_n"))).as("cosine"))
        .withColumn("_rk", row_number().over(w)).where(col("_rk") <= beam)
        .select(col("query_id"), col("node"), col("cosine")), None)
    for (_ <- 1 to rounds) {
      // no distinct on the frontier: duplicate (query, node) candidates
      // re-score to the IDENTICAL row (same fold), and the union's
      // distinct below removes them exactly — dropping the dedup here
      // removes one exchange per round for ≤ beam·degree duplicate
      // scorings (guide §2.4)
      val nbrs = visited.select(col("query_id"), col("node"))
        .join(g, col("node") === col("_gu"))
        .select(col("query_id"), col("_gw").as("node"))
      // re-scoring an already-visited node reproduces the identical
      // double (same fold), so the union's distinct dedups it exactly
      val scored = nbrs.join(vecs, col("node") === col("_id"))
        .join(q, Seq("query_id"))
        .select(col("query_id"), col("node"),
          (Similarity.dot(col("_qv"), col("_v")) / (col("_qn") * col("_n"))).as("cosine"))
      val next = visited.unionByName(scored).distinct()
        .withColumn("_rk", row_number().over(w)).where(col("_rk") <= beam)
        .select(col("query_id"), col("node"), col("cosine"))
      visited = Materialize.cutLoop(next, Some(visited))
    }
    val out = visited
      .withColumn("_rk", row_number().over(w)).where(col("_rk") <= k)
      .select(col("query_id"), col("node").as("neighbor_id"),
        col("_rk").cast("int").as("rank"), col("cosine"))
    // No final pin, mirroring [[buildGraph]] (guide §1.2: drop cuts
    // whose output is consumed once): `out` is the top-k window over
    // the last round's already-checkpointed beam, so pinning it spent
    // one extra job wave only to allow release(visited). `visited`
    // stays alive until the caller drops the result (localCheckpoint
    // lifecycle); vecs is released because `out`'s lineage no longer
    // references it.
    Materialize.release(vecs)
    out
  }
}
