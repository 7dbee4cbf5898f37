package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{DotProduct, HyperplaneBucket, NearestCentroid}

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k with the (small) query set broadcast
  * — at 100 TB the candidate side streams through a map-side join, no
  * shuffle of the big side. Scale path: random-hyperplane LSH bucketing so
  * each query only scores candidates in its bucket(s); recall is traded
  * for a bucket-sized candidate list. Dot products are native
  * `zip_with`/`aggregate` expressions, not UDFs.
  */
object Similarity {

  /** Σ aᵢ·bᵢ over two array<float|double> columns, computed in double —
    * a native codegen expression ([[graft.plans.DotProduct]]) with the
    * identical left-fold arithmetic as the interpreted higher-order-function
    * form it replaced (HOFs are CodegenFallback; the interpretation
    * overhead dominated every scoring operator).
    */
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(a.cast("array<double>")),
      ExpressionUtils.expression(b.cast("array<double>"))))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** [[cosine]] with the operand norms supplied from columns computed
    * ONCE per vector (in the projection BELOW the scoring join) instead
    * of re-derived per candidate pair — 3 dim-length kernels per pair
    * become 1. BIT-IDENTICAL to [[cosine]]: a precomputed norm is the
    * same `sqrt` of the same left-fold over the same array, and the
    * top-level ops match `dot / (norm * norm)` exactly (the AnnGraph
    * norm-precompute idiom, proven exceptAll-empty there and by every
    * oracle hash here).
    */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Brute-force top-k cosine neighbors of each query vector.
    * `queries` must be small (it is broadcast); candidates stream.
    * Deterministic tie-break on candidate id.
    */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("_qn", norm(col("qv"))))
    val c = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("_cn", norm(col("cv")))
    val scored = q.crossJoin(c)
      .withColumn("cosine", cosineWithNorms(col("qv"), col("cv"), col("_qn"), col("_cn")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Deterministic hyperplanes from a minstd LCG (Park–Miller,
    * s ← s·48271 mod 2³¹−1; seed scrambled by a Knuth multiplier + 8
    * burn-in steps), components uniform in (−1, 1).
    *
    * An LCG instead of `Random.nextGaussian` ON PURPOSE: the recurrence is
    * exact integer arithmetic reproducible in plain SQL, which makes LSH
    * bucketing — and therefore the whole ann_lsh query — DuckDB-oracle-
    * checkable end-to-end (the ann_lsh oracle regenerates these exact
    * planes in a recursive CTE). For sign-of-projection LSH the
    * cube-vs-sphere direction bias of uniform components is immaterial at
    * these plane counts; recall is asserted in SimilaritySpec/DedupSpec.
    */
  private[operators] def hyperplanes(dim: Int, planes: Int, seed: Long): Seq[Array[Double]] = {
    val m = 2147483647L
    var state = java.lang.Math.floorMod(seed * 2654435761L, m - 1) + 1
    def next(): Double = { state = state * 48271 % m; state.toDouble / m * 2.0 - 1.0 }
    for (_ <- 0 until 8) next() // burn-in decorrelates low-entropy seeds
    Seq.fill(planes)(Array.fill(dim)(next()))
  }

  /** Deterministic Lloyd's k-means on a driver-side sample — the coarse
    * quantizer for [[ivfTopK]]. Training a small codebook on a sample is a
    * model fit, not a data pass: the full corpus is only ever touched by
    * the (distributed) assign step.
    */
  def trainCentroids(vectors: DataFrame, dim: Int, cells: Int, sampleN: Int = 2000,
                     iters: Int = 10, seed: Long = 42L,
                     idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    val sample = vectors.orderBy(col(idCol)).limit(sampleN)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty training sample")
    val rnd = new scala.util.Random(seed)
    var centroids = Array.fill(cells)(sample(rnd.nextInt(sample.length)).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(cells)(new Array[Double](dim))
      val counts = new Array[Int](cells)
      for (v <- sample) {
        var best = 0; var bestD = Double.MaxValue
        for (j <- centroids.indices) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - centroids(j)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = j }
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.indices.map { j =>
        if (counts(j) == 0) centroids(j)
        else sums(j).map(_ / counts(j))
      }.toArray
    }
    centroids
  }

  /** Index of the nearest centroid (L2) — native codegen argmin
    * ([[graft.plans.NearestCentroid]]); ties break to the higher cell id,
    * matching the composed struct-max form it replaced (equivalence
    * asserted in SimilaritySpec).
    */
  private[operators] def nearestCell(vec: Column, centroids: Array[Array[Double]]): Column =
    ExpressionUtils.column(NearestCentroid(
      ExpressionUtils.expression(vec.cast("array<double>")),
      centroids.map(_.toSeq).toSeq))

  /** The `nprobe` nearest cells of a query vector (ascending L2). */
  private def probeCells(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column = {
    val scored = array(centroids.zipWithIndex.map { case (c, j) =>
      val lit_ = typedLit(c.toSeq)
      val d2 = aggregate(
        zip_with(vec.cast("array<double>"), lit_, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
      struct(d2.as("d"), lit(j).as("cell"))
    }: _*)
    transform(slice(array_sort(scored), 1, nprobe), s => s.getField("cell"))
  }

  /** IVF approximate top-k: a k-means coarse quantizer partitions the
    * corpus into `cells`; each query scores only the candidates in its
    * `nprobe` nearest cells (equi-join on cell id). The standard
    * alternative scale path to [[lshTopK]] — cells adapt to the data
    * distribution where hyperplanes are oblivious.
    */
  def ivfTopK(candidates: DataFrame, queries: DataFrame, k: Int, dim: Int,
              cells: Int = 16, nprobe: Int = 4, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding",
              fitCorpus: Option[DataFrame] = None): DataFrame = {
    // fitCorpus decouples coarse-quantizer training from the candidate
    // set — the add-after-train index lifecycle: a production IVF index
    // freezes its centroids at build time and ASSIGNS each appended
    // batch to the frozen cells (no refit, no re-shuffle of the
    // existing index; the assignment is per-row map work). Recall on
    // the appended vectors degrades only as far as the batch drifts
    // from the training distribution — the ann_ivf_append oracle row
    // measures exactly that.
    val centroids = trainCentroids(fitCorpus.getOrElse(candidates), dim, cells,
      seed = seed, idCol = idCol, vecCol = vecCol)
    val c = candidates.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      nearestCell(col(vecCol), centroids).as("cell"))
      .withColumn("_cn", norm(col("cv")))
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(probeCells(col(vecCol), centroids, nprobe)).as("cell"))
        .withColumn("_qn", norm(col("qv"))))
    val scored = q.join(c, "cell")
      .withColumn("cosine", cosineWithNorms(col("qv"), col("cv"), col("_qn"), col("_cn")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .select(col("query_id"), col("neighbor_id"), col("cosine")).distinct()
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** IVF nprobe→recall sweep — THE production IVF tuning curve: how
    * much recall each additional probed cell buys, measured from ONE
    * fit, ONE assignment pass, and ONE scoring join (the
    * threshold-sweep discipline applied to the index knob). Every
    * (query, candidate) pair carries the earliest probe order that
    * reaches it (`min` over its cells), so "recall at nprobe = p" is a
    * filter over the already-scored pair table, never a re-probe.
    * Ground truth is the exact brute-force top-k.
    *
    * Emits per nprobe: (nprobe, n_returned, n_hits, recall) — recall
    * is one float division of exact counts.
    *
    * Plan: the fit is the [[trainCentroids]] bounded-sample model fit;
    * queries broadcast with their probe lists; the corpus-sized work
    * is one assignment projection + the cell equi-join (candidates
    * only) + the brute ground-truth pass the recall harness pays
    * anyway. The sweep itself runs over the candidate-bounded table.
    */
  def ivfProbeSweep(candidates: DataFrame, queries: DataFrame, k: Int, dim: Int,
                    cells: Int = 16, nprobes: Seq[Int] = Seq(1, 2, 4, 8),
                    seed: Long = 42L,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(p => p >= 1 && p <= cells), "bad nprobes")
    val centroids = trainCentroids(candidates, dim, cells, seed = seed,
      idCol = idCol, vecCol = vecCol)
    val c = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      nearestCell(col(vecCol), centroids).as("cell"))
      .withColumn("_cn", norm(col("cv")))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      posexplode(probeCells(col(vecCol), centroids, nprobes.max)).as(Seq("_pi", "cell")))
      .withColumn("_qn", norm(col("qv"))))
    val scored = q.join(c, "cell")
      .withColumn("cosine", cosineWithNorms(col("qv"), col("cv"), col("_qn"), col("_cn")))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(min(col("_pi") + 1).as("_avail"), max(col("cosine")).as("cosine"))
    val exact = bruteForceTopK(candidates, queries, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id")).withColumn("_hit", lit(1L))
    val total = exact.agg(count(lit(1)).as("_n_exact"))
    val ranked = scored
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("_avail"),
        explode(array(nprobes.map(lit): _*)).as("nprobe"))
      .where(col("_avail") <= col("nprobe"))
      .withColumn("_rank", row_number().over(
        Window.partitionBy(col("query_id"), col("nprobe"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .where(col("_rank") <= k)
    ranked.join(exact, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_returned"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hits"))
      .crossJoin(broadcast(total))
      .select(col("nprobe"), col("n_returned"), col("n_hits"),
        (col("n_hits").cast("double") / col("_n_exact").cast("double")).as("recall"))
      .orderBy(col("nprobe"))
  }

  /** Top principal component of the embedding corpus by POWER ITERATION
    * on an exact integer scatter matrix — the dominant anisotropy axis
    * of Mu & Viswanath's "All-but-the-top" (the direction every
    * sentence embedding leans, whose removal measurably improves
    * similarity tasks) and the missing member of the engine's
    * distributed-training family (perceptron, k-means, BPE, now PCA).
    *
    * The corpus is touched ONCE: components ride the 2^gridBits grid
    * and a bounded dim²-key pair aggregate collects the second moments
    * (map-side combine holds ≤ dim·(dim+1)/2 cells — the exchange
    * carries dim² rows, never the corpus). The centered scatter matrix
    * C = n·Σgg' − (Σg)(Σg)' is exact BigInt; the `iters` power rounds
    * run on the DRIVER over that 64×64 table (the Markov-solve
    * bounded-collect class — a dim×dim matvec has no partitioning to
    * exploit), each round renormalizing to the 2²⁰ grid by
    * sign-preserving truncating division. Every step is integer, so
    * the oracle replays the identical walk in unrolled HUGEINT CTE
    * layers (the classifier_train discipline).
    *
    * Emits one row per dimension: (dim, component_fp, component,
    * eigenvalue) — eigenvalue is the final Rayleigh quotient, one
    * integer division + one float cast.
    */
  def topPrincipalComponent(embs: DataFrame, idCol: String, vecCol: String,
                            dim: Int, gridBits: Int = 10, iters: Int = 16): DataFrame = {
    val (w, eigFp) = fitTopComponent(embs, vecCol, dim, gridBits, iters)
    val eig = eigFp.toDouble / 1048576.0
    val s = embs.sparkSession
    import s.implicits._
    (0 until dim).map(i => (i, w(i).toLong, w(i).toLong.toDouble / 1048576.0, eig))
      .toDF("dim", "component_fp", "component", "eigenvalue")
      .orderBy(col("dim"))
  }

  /** The integer power-iteration fit behind [[topPrincipalComponent]]
    * and [[anisotropyAlignment]]: returns the 2²⁰-grid component and
    * the 2²⁰-grid Rayleigh eigenvalue.
    */
  private[operators] def fitTopComponent(embs: DataFrame, vecCol: String, dim: Int,
                                         gridBits: Int, iters: Int): (Array[BigInt], BigInt) = {
    require(dim >= 2 && iters >= 1, s"bad dim/iters $dim/$iters")
    val grid = 1L << gridBits
    val wGrid = BigInt(1L << 20)
    val g = embs.select(
      transform(col(vecCol), x => floor(x.cast("double") * grid).cast("long")).as("_g"))
    val moments = g
      .select(posexplode(col("_g")).as(Seq("_i", "_gi")), col("_g"))
      .select(col("_i"), col("_gi"), posexplode(col("_g")).as(Seq("_j", "_gj")))
      .where(col("_j") >= col("_i"))
      .groupBy(col("_i"), col("_j"))
      .agg(sum((col("_gi") * col("_gj")).cast("decimal(38,0)")).as("_s"),
        count(lit(1)).as("_n"),
        sum(when(col("_i") === col("_j"), col("_gi")).otherwise(0L)).as("_sumdiag"))
      .collect()
    val n = BigInt(moments.head.getLong(3))
    val sums = Array.fill(dim)(BigInt(0))
    val second = Array.ofDim[BigInt](dim, dim)
    moments.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val s = BigInt(r.getDecimal(2).toBigInteger)
      second(i)(j) = s; second(j)(i) = s
      if (i == j) sums(i) = BigInt(r.getLong(4))
    }
    val c = Array.tabulate(dim, dim)((i, j) => n * second(i)(j) - sums(i) * sums(j))
    // sign-preserving truncating renormalization to the 2^20 grid
    def renorm(v: Array[BigInt]): Array[BigInt] = {
      val m = v.map(_.abs).max
      require(m > 0, "power iteration collapsed to the zero vector")
      v.map(x => if (x < 0) -((-x * wGrid) / m) else (x * wGrid) / m)
    }
    var w = Array.fill(dim)(wGrid)
    (1 to iters).foreach { _ =>
      val raw = Array.tabulate(dim)(i => (0 until dim).map(j => c(i)(j) * w(j)).sum)
      w = renorm(raw)
    }
    // Rayleigh quotient against the FINAL normalized vector: one more
    // exact matvec, one integer division, one float cast
    val rawF = Array.tabulate(dim)(i => (0 until dim).map(j => c(i)(j) * w(j)).sum)
    val num = (0 until dim).map(i => rawF(i) * w(i)).sum
    val den = (0 until dim).map(i => w(i) * w(i)).sum
    (w, (num * wGrid) / den)
  }

  /** Per-vector alignment with the corpus's dominant anisotropy axis —
    * the OPERATIONAL half of "All-but-the-top": fit the top component
    * once ([[fitTopComponent]], driver model fit like
    * [[trainCentroids]]), broadcast it as a literal, and score every
    * vector's cos(v, u) plus the energy fraction that post-removal
    * debiasing would keep (1 − cos²). A debias pass multiplies each
    * vector by that projection — this audit is the measurement that
    * decides whether it's worth running.
    *
    * Exactness: the dot and both squared norms are int64 on the
    * component grids; cos is ONE fixed IEEE chain per row
    * (zero-norm rows score 0.0, never NaN). Shuffle-free scoring —
    * the corpus-sized work is one projection, like the clip gate.
    */
  def anisotropyAlignment(embs: DataFrame, idCol: String, vecCol: String,
                          dim: Int, gridBits: Int = 10, iters: Int = 16): DataFrame = {
    val grid = 1L << gridBits
    val (w, _) = fitTopComponent(embs, vecCol, dim, gridBits, iters)
    val u = w.map(_.toLong)
    val u2 = u.map(x => BigInt(x) * BigInt(x)).sum
    require(u2.isValidLong, "component norm exceeds int64")
    val gv = transform(col(vecCol), x => floor(x.cast("double") * grid).cast("long"))
    val d = aggregate(zip_with(col("_gv"), lit(u), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    val g2 = aggregate(transform(col("_gv"), a => a * a), lit(0L), (acc, x) => acc + x)
    val cos = col("_d").cast("double") /
      (sqrt(col("_g2").cast("double")) * sqrt(lit(u2.toLong).cast("double")))
    embs
      .withColumn("_gv", gv)
      .withColumn("_d", d)
      .withColumn("_g2", g2)
      .select(col(idCol),
        when(col("_g2") > 0, cos).otherwise(lit(0.0)).as("align_cos"))
      .withColumn("residual_ratio", lit(1.0) - col("align_cos") * col("align_cos"))
  }

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions:
    * out_j = √(3/outDim) · ⟨v, r_j⟩ with rows r_j drawn from the same
    * reproducible minstd LCG as [[lshBucket]] (uniform(−1,1) entries
    * have variance 1/3, so the √(3/outDim) factor preserves expected
    * squared norm — the standard dense-JL estimator). The projection is
    * `outDim` codegen'd [[dot]] kernels per row: shuffle-free map work,
    * the dimensionality-reduction front of an embedding pipeline (e.g.
    * 64→16 dims before LSH/IVF indexing cuts candidate scoring 4×).
    * Deterministic integer recurrence ⇒ the DuckDB oracle regenerates
    * the matrix and replays the fold bit-for-bit.
    */
  def randomProject(embs: DataFrame, idCol: String, vecCol: String,
                    dim: Int, outDim: Int, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, outDim, seed)
    val scale = math.sqrt(3.0 / outDim)
    embs.select(
      col(idCol),
      array(planes.map(p => dot(col(vecCol), typedLit(p.toSeq)) * scale): _*).as("projected"))
  }

  /** Symmetric per-vector int8 quantization — the memory/bandwidth scale
    * path for ANN indexes (a 64-dim float vector shrinks 4×; IVF/LSH
    * candidate scoring then reads int8 with one dequant multiply):
    * scale = max|vᵢ|/127, qᵢ = floor(vᵢ/scale + 0.5) ∈ [−127, 127].
    * Emits (`idCol`, `scale`, `q` array<int>); all-zero vectors take
    * scale = 0 with all-zero codes. `floor(x + 0.5)` instead of round():
    * floor is exact in both engines, while round() half-case semantics
    * differ across engines/types — determinism the oracle can replay.
    * Pure per-row map work (one array_max + one transform), shuffle-free.
    */
  def quantizeInt8(embs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    // Two projections on purpose: `scale` must be a materialized column
    // BEFORE the quantize lambda references it. Higher-order functions
    // defeat codegen subexpression elimination, so inlining the
    // array_max(transform(v, abs)) subtree into the per-element lambda
    // re-evaluates it per element — O(dim²) per row (measured 42× slower
    // than the identical-shape randomProject at sf0.1). CollapseProject
    // keeps the split: `scale` is non-cheap and referenced three times.
    embs
      .select(col(idCol), v.as("_v"),
        (array_max(transform(v, x => abs(x))) / 127.0).as("scale"))
      .select(
        col(idCol),
        col("scale"),
        when(col("scale") === 0.0, transform(col("_v"), _ => lit(0)))
          .otherwise(transform(col("_v"), x => floor(x / col("scale") + 0.5).cast("int")))
          .as("q"))
  }

  /** Hashing-trick text featurizer — text → dense-ish embedding with no
    * model (the HashingTF / feature-hashing construction, Weinberger et
    * al. 2009): each token hashes to one of `dim` buckets, the vector is
    * the L2-normalized bucket-count histogram. The cheap featurization
    * that backs dedup/ANN/clustering when no learned embedder is in the
    * loop — and the engine-side shape of one (tokenize → feature map →
    * normalize) with the hash standing in for model inference. Emits
    * SPARSE rows (`idCol`, dim, weight), zero buckets absent.
    *
    * One bounded explode + ONE (id, bucket) hash aggregate; the L2 norm
    * rides a same-partitioning window (sum of squared counts — exact
    * int64, so the single float division is engine-identical). No
    * vocabulary table exists at all — the hash IS the vocabulary, which
    * is the point at 100 TB (nothing to broadcast, nothing to fit).
    */
  def hashEmbed(docs: DataFrame, textCol: String, idCol: String,
                dim: Int = 64): DataFrame = {
    val bucket = (graft.plans.Md5Prefix.of(col("_term"), 6) % dim)
      .cast("int")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    docs
      .select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("_term"))
      .select(col(idCol), bucket.as("dim"))
      .groupBy(col(idCol), col("dim"))
      .agg(count(lit(1)).as("_cnt"))
      .withColumn("_n2", sum(col("_cnt") * col("_cnt")).over(w))
      .select(col(idCol), col("dim"),
        (col("_cnt").cast("double") / sqrt(col("_n2").cast("double"))).as("weight"))
  }

  /** Count-form hash features: (`idCol`, dim, cnt, n2) where cnt is the
    * bucket count and n2 the doc's squared norm — the integer-exact
    * backbone of [[hashEmbed]] (weight = cnt/√n2).
    */
  private def hashCounts(docs: DataFrame, textCol: String, idCol: String,
                         dim: Int): DataFrame = {
    val bucket = (graft.plans.Md5Prefix.of(col("_term"), 6) % dim)
      .cast("int")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    docs
      .select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("_term"))
      .select(col(idCol), bucket.as("dim"))
      .groupBy(col(idCol), col("dim"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n2", sum(col("cnt") * col("cnt")).over(w))
  }

  /** Text-to-text similarity top-k over the hash features — the sparse
    * INVERTED-INDEX strategy next to the dense ANN family: sparse rows
    * join on the feature dimension (a posting-list intersection), dot
    * products accumulate on exact int64 counts, and the single float
    * cosine emerges at the end (so ranking is reduction-order-proof,
    * unlike a float-weight sparse dot). Emits (query_id, neighbor_id,
    * rank, cosine), self-matches excluded.
    *
    * Scale shape: the query side is bounded (the ANN-brute contract) and
    * BROADCASTS, so the posting-list join is map-side against the
    * candidate stream — no shuffle touches the corpus until the per-pair
    * aggregate on (query, neighbor), which partial-aggregates map-side.
    * `dim` keys are few (64) and hot by construction; broadcasting the
    * small side is exactly what neutralizes that skew.
    */
  def hashEmbedTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                    textCol: String = "text", idCol: String = "doc_id",
                    dim: Int = 64): DataFrame = {
    val c = hashCounts(candidates, textCol, idCol, dim)
      .select(col(idCol).as("neighbor_id"), col("dim"),
        col("cnt").as("_ccnt"), col("n2").as("_cn2"))
    val q = hashCounts(queries, textCol, idCol, dim)
      .select(col(idCol).as("query_id"), col("dim"),
        col("cnt").as("_qcnt"), col("n2").as("_qn2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q).join(c, Seq("dim"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("_qcnt") * col("_ccnt")).as("_dot"),
        max(col("_qn2")).as("_qn2"), max(col("_cn2")).as("_cn2"))
      .withColumn("cosine",
        col("_dot").cast("double")
          / (sqrt(col("_qn2").cast("double")) * sqrt(col("_cn2").cast("double"))))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Per-vector cosine to its group's centroid — the cluster-quality /
    * outlier-detection pass over a labeled (or cluster-assigned)
    * embedding table: a vector far from its own label's centroid is a
    * candidate mislabel or semantic outlier (the SemDeDup §3 pruning
    * signal, inverted). Emits (`idCol`, `labelCol`, `n_members`,
    * `centroid_cos`).
    *
    * Determinism across engines/partitionings: float means over an
    * UNORDERED row set depend on reduction order, so components first
    * snap to a 2^20 integer grid; the centroid is then the componentwise
    * int64 SUM (associative — and cosine is scale-invariant, so the
    * un-divided sum IS the centroid direction) and the one float cosine
    * emerges from exact-int dot products. |x|≤1 embeddings keep every
    * product far inside int64 (2^20-grid component ≤2^20; 10⁹-member
    * centroid component ≤2^50 needs care — at that scale shrink the grid
    * to 2^12, the defense documented in SCALING.md).
    *
    * Plan at 100 TB: one posexplode (dim× fan-out) into a partially-
    * aggregated (label, dim) sum — collapses to #labels×dim rows
    * map-side; centroids regroup to #labels rows and BROADCAST back; the
    * scoring pass is shuffle-free map work.
    */
  def centroidCosine(embs: DataFrame, idCol: String, labelCol: String,
                     vecCol: String): DataFrame = {
    val grid = 1L << 20
    val vfp = embs.select(
      col(idCol), col(labelCol),
      transform(col(vecCol), x => floor(x.cast("double") * grid).cast("long")).as("_v"))
    val centroids = vfp
      .select(col(labelCol), posexplode(col("_v")).as(Seq("_dim", "_x")))
      .groupBy(col(labelCol), col("_dim"))
      .agg(sum(col("_x")).as("_s"), count(lit(1)).as("_n"))
      .groupBy(col(labelCol))
      .agg(
        first(col("_n")).cast("int").as("n_members"),
        transform(array_sort(collect_list(struct(col("_dim"), col("_s")))),
          e => e.getField("_s")).as("_c"))
    val dotLong = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    vfp
      .join(broadcast(centroids), Seq(labelCol))
      .select(col(idCol), col(labelCol), col("n_members"),
        (dotLong(col("_v"), col("_c")).cast("double")
          / (sqrt(dotLong(col("_v"), col("_v")).cast("double"))
            * sqrt(dotLong(col("_c"), col("_c")).cast("double"))))
          .as("centroid_cos"))
  }

  /** Chunk→document mean pooling on the [[centroidCosine]] integer
    * grid — the aggregation step of every long-document embedding
    * pipeline (documents are embedded as chunks; retrieval wants one
    * vector per document, and mean pooling is the standard reduction).
    * Components snap to the 2^20 grid so the per-dimension sum is an
    * associative long reduction (order- and partitioning-independent,
    * hence oracle-replayable bit-for-bit); the mean is ONE float
    * division from two exact integers per dimension.
    *
    * Emits scalar rows (`group_id`, `dim`, `n_chunks`, `sum_grid`,
    * `mean_grid`) — the [[projectJl]] posexplode discipline. The
    * (group, dim) partial aggregate combines map-side, so the exchange
    * carries at most #groups × dim rows.
    */
  def meanPoolGrid(embs: DataFrame, groupExpr: Column, vecCol: String): DataFrame = {
    val grid = 1L << 20
    embs
      .select(groupExpr.as("group_id"),
        posexplode(transform(col(vecCol), x => floor(x.cast("double") * grid).cast("long")))
          .as(Seq("dim", "_x")))
      .groupBy(col("group_id"), col("dim"))
      .agg(count(lit(1)).cast("int").as("n_chunks"), sum(col("_x")).as("sum_grid"))
      .withColumn("mean_grid",
        col("sum_grid").cast("double") / col("n_chunks").cast("double"))
  }

  /** Sign-of-projection LSH bucket id (one long from `planes` bits) — a
    * single codegen'd planes×dim loop ([[graft.plans.HyperplaneBucket]])
    * instead of `planes` interpreted per-plane dot-folds; bit-for-bit the
    * same bucket ids as the composed form (asserted in SimilaritySpec).
    */
  def lshBucket(vec: Column, dim: Int, planes: Int = 12, seed: Long = 42L): Column =
    ExpressionUtils.column(HyperplaneBucket(
      ExpressionUtils.expression(vec.cast("array<double>")),
      hyperplanes(dim, planes, seed).map(_.toSeq)))

  /** Multi-probe expansion: each row lands in its own bucket plus the
    * first `probes` buckets at Hamming distance 1 (shared by lshTopK and
    * Dedup.embeddingCosinePairs so probing behavior cannot drift).
    */
  def multiProbe(df: DataFrame, bucketCol: String, planes: Int, probes: Int): DataFrame = {
    val probeCols = array((lit(0L) +: (0 until math.min(probes, planes)).map(i => lit(1L << i))): _*)
    df.withColumn("_flip", explode(probeCols))
      .withColumn(bucketCol, col(bucketCol).bitwiseXOR(col("_flip")))
      .drop("_flip")
  }

  /** LSH-bucketed approximate top-k: queries and candidates are bucketed
    * by hyperplane signs; scoring happens only inside matching buckets
    * (equi-join on bucket id — no cartesian product). Multi-probe: each
    * query also probes the `probes` buckets at Hamming distance 1 to
    * recover near-boundary neighbors.
    */
  def lshTopK(candidates: DataFrame, queries: DataFrame, k: Int, dim: Int,
              planes: Int = 12, probes: Int = 6, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = candidates.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      lshBucket(col(vecCol), dim, planes, seed).as("bucket"))
      .withColumn("_cn", norm(col("cv")))
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      lshBucket(col(vecCol), dim, planes, seed).as("bucket"))
      .withColumn("_qn", norm(col("qv")))
    val q = broadcast(multiProbe(qBase, "bucket", planes, probes))
    val scored = q.join(c, "bucket")
      .withColumn("cosine", cosineWithNorms(col("qv"), col("cv"), col("_qn"), col("_cn")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .select(col("query_id"), col("neighbor_id"), col("cosine")).distinct()
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Recall@k of an approximate ANN result against the exact one — the
    * evaluation harness every index deployment needs before trusting an
    * approximate path at scale: per query, the fraction of the EXACT
    * top-k that the approximate top-k recovered. Both inputs are
    * (`query_id`, `neighbor_id`, …) frames as produced by
    * [[bruteForceTopK]] / [[lshTopK]] / [[ivfTopK]]. Integer-exact
    * output (`n_hits` of `k`, `recall_pct` = 100·n_hits/k floored) so
    * the row hash-matches any engine.
    *
    * One equi-join on (query, neighbor) + one count aggregate — both
    * sides are top-k lists (|queries|·k rows), tiny relative to the
    * corpus, so this evaluates in negligible time even when the inputs
    * were expensive.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")).withColumn("_hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("_hit"), lit(0))).cast("int").as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        expr("(n_hits * 100) div k").cast("int").as("recall_pct"))

  /** PRODUCT-QUANTIZATION encoding (Jégou et al. 2011 — the FAISS `PQm`
    * building block): the vector splits into `m` contiguous sub-vectors,
    * each sub-space gets its own `cells`-centroid k-means codebook
    * (the [[trainCentroids]] fit — deterministic seeded draws + Lloyd
    * iterations on a bounded driver-side sample, the IVF contract), and
    * each vector is encoded as `m` small codes. Emits one row per
    * (`idCol`, `sub_idx`, `code`) — dim·32 bits of float become
    * m·log₂(cells) bits, the memory step that makes billion-vector
    * indexes fit at all. Sub-space assignment ties break to the HIGHER
    * cell, matching [[nearestCell]]/IVF.
    *
    * Scale shape: the m fits collect one bounded sample each (driver
    * work, corpus-independent); encoding is a pure map projection — m
    * codegen'd argmin kernels over broadcast-literal codebooks, no
    * shuffle anywhere. Downstream ADC search joins codes against
    * per-query lookup tables of m·cells entries.
    */
  def pqEncode(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
               m: Int = 4, cells: Int = 16, sampleN: Int = 2000,
               iters: Int = 10, seed: Long = 42L): DataFrame = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val codes = (0 until m).map { s =>
      val sub = slice(col(vecCol), s * subDim + 1, subDim)
      val cents = trainCentroids(
        embs.select(col(idCol), sub.as("_sub")), subDim, cells, sampleN, iters, seed, idCol, "_sub")
      struct(lit(s).as("sub_idx"), nearestCell(sub, cents).as("code"))
    }
    embs
      .select(col(idCol), explode(array(codes: _*)).as("_pq"))
      .select(col(idCol), col("_pq.sub_idx").as("sub_idx"), col("_pq.code").as("code"))
  }

  private val PqScale = 1099511627776.0 // 2^40 — the engine's fixed-point quantum

  /** PQ ASYMMETRIC-DISTANCE top-k (the ADC search of Jégou et al. 2011):
    * candidates are [[pqEncode]]-compressed to m codes; each query
    * builds an m×`cells` LOOKUP TABLE of exact sub-space distances to
    * every codeword, and a candidate's distance estimate is the sum of
    * its m looked-up entries — m additions per candidate instead of a
    * `dim`-wide float dot, against codes 50× smaller than the vectors.
    * Emits (`query_id`, `neighbor_id`, `rank`, `adc_dist`), nearest
    * first, ties to the lower neighbor id.
    *
    * Scale shape: codebooks fit driver-side on a bounded sample (the
    * IVF contract) and ship as literals; encoding is a shuffle-free map;
    * the LUT side is #queries·m rows and BROADCASTS, so the scoring join
    * is map-side against the code stream and only (query, neighbor)
    * partial aggregates shuffle. Per-entry distances are floored to the
    * 2⁻⁴⁰ grid so the m-way sum is an associative long reduction —
    * rank-deterministic under any partitioning.
    */
  def pqTopK(candidates: DataFrame, queries: DataFrame, k: Int, dim: Int,
             m: Int = 4, cells: Int = 16, sampleN: Int = 2000, iters: Int = 10,
             seed: Long = 42L, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val cents = (0 until m).map { s =>
      trainCentroids(
        candidates.select(col(idCol), slice(col(vecCol), s * subDim + 1, subDim).as("_sub")),
        subDim, cells, sampleN, iters, seed, idCol, "_sub")
    }
    val codes = candidates
      .select(col(idCol).as("neighbor_id"),
        explode(array((0 until m).map { s =>
          struct(lit(s).as("sub_idx"),
            nearestCell(slice(col(vecCol), s * subDim + 1, subDim), cents(s)).as("code"))
        }: _*)).as("_pq"))
      .select(col("neighbor_id"), col("_pq.sub_idx").as("sub_idx"), col("_pq.code").as("code"))
    val lutCols = (0 until m).map { s =>
      val sub = slice(col(vecCol), s * subDim + 1, subDim).cast("array<double>")
      struct(lit(s).as("sub_idx"), array((0 until cells).map { j =>
        val cLit = typedLit(cents(s)(j).toSeq)
        aggregate(zip_with(sub, cLit, (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x)
      }: _*).as("dists"))
    }
    val luts = queries
      .select(col(idCol).as("query_id"), explode(array(lutCols: _*)).as("_l"))
      .select(col("query_id"), col("_l.sub_idx").as("sub_idx"), col("_l.dists").as("dists"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("_adc_fp").asc, col("neighbor_id"))
    codes
      .join(broadcast(luts), "sub_idx")
      .select(col("query_id"), col("neighbor_id"),
        floor(element_at(col("dists"), col("code") + 1) * lit(PqScale)).cast("long").as("_d_fp"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("_d_fp")).as("_adc_fp"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (col("_adc_fp").cast("double") / PqScale).as("adc_dist"))
  }

  /** The full modern ANN compose — IVF coarse pruning × PQ compressed
    * scoring (FAISS `IVFx,PQm` minus the residual step, documented
    * simplification: codebooks quantize RAW vectors, so they are shared
    * verbatim with [[pqEncode]]): queries probe their `nprobe` nearest
    * coarse cells, and candidates inside those cells are ranked by ADC
    * lookup sums instead of full-width float dots. Emits (`query_id`,
    * `neighbor_id`, `rank`, `adc_dist`).
    *
    * Plan: the candidate side is ONE map projection (coarse cell + m
    * codes — all argmin kernels over broadcast literals); the query side
    * (probed cells + the m×`pqCells` lookup table) is bounded and
    * BROADCASTS; the join on `cell` yields at most one row per
    * (query, candidate) because a candidate lives in exactly one cell,
    * so the per-row fixed-point ADC sum needs NO aggregate at all — the
    * only shuffle is the final per-query top-k window over probed-cell
    * candidates. This is the 100 TB search shape: prune with IVF, score
    * from codes 50× smaller than the vectors.
    */
  def ivfPqTopK(candidates: DataFrame, queries: DataFrame, k: Int, dim: Int,
                cells: Int = 16, nprobe: Int = 4, m: Int = 4, pqCells: Int = 16,
                sampleN: Int = 2000, iters: Int = 10, seed: Long = 42L,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val coarse = trainCentroids(candidates, dim, cells, sampleN, iters, seed, idCol, vecCol)
    val cents = (0 until m).map { s =>
      trainCentroids(
        candidates.select(col(idCol), slice(col(vecCol), s * subDim + 1, subDim).as("_sub")),
        subDim, pqCells, sampleN, iters, seed, idCol, "_sub")
    }
    val codesArr = array((0 until m).map { s =>
      nearestCell(slice(col(vecCol), s * subDim + 1, subDim), cents(s))
    }: _*)
    val cass = candidates.select(
      col(idCol).as("neighbor_id"),
      nearestCell(col(vecCol), coarse).as("cell"),
      codesArr.as("codes"))
    val lutArr = array((0 until m).map { s =>
      val sub = slice(col(vecCol), s * subDim + 1, subDim).cast("array<double>")
      array((0 until pqCells).map { j =>
        aggregate(zip_with(sub, typedLit(cents(s)(j).toSeq), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x)
      }: _*)
    }: _*)
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), lutArr.as("luts"),
        explode(probeCells(col(vecCol), coarse, nprobe)).as("cell")))
    val adcFp = (0 until m).map { s =>
      floor(element_at(element_at(col("luts"), s + 1), element_at(col("codes"), s + 1) + 1)
        * lit(PqScale)).cast("long")
    }.reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("_adc_fp").asc, col("neighbor_id"))
    q.join(cass, "cell")
      .select(col("query_id"), col("neighbor_id"), adcFp.as("_adc_fp"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (col("_adc_fp").cast("double") / PqScale).as("adc_dist"))
  }

  /** IVF-PQ with RESIDUAL encoding — the actual FAISS `IVFx,PQy`
    * production index (Jégou et al. 2011 §IV.B): PQ codes compress the
    * residual `vec − coarse_centroid(cell)` instead of the raw vector.
    * Residuals are centered near zero with far smaller spread than the
    * vectors themselves, so the same m·log₂(cells) bits quantize much
    * finer — the accuracy gap between "PQ on vectors" ([[ivfPqTopK]],
    * kept as the didactic variant) and every deployed billion-vector
    * index. The query side pays the true asymmetric cost: the LUT is
    * PER (query, probed cell) — the query's residual to THAT cell
    * against the shared codebooks — m·cells entries per probe.
    *
    * Same scale shape as [[ivfPqTopK]]: bounded driver-side fits
    * (coarse + m sub-codebooks, trained on residual slices), literal
    * broadcast codebooks, shuffle-free encoding, a broadcast
    * queries×probes×LUT frame joined map-side against the code stream
    * on (cell), and only (query, neighbor) partial aggregates shuffle.
    */
  def ivfPqResidualTopK(candidates: DataFrame, queries: DataFrame, k: Int, dim: Int,
                        cells: Int = 16, nprobe: Int = 4, m: Int = 4, pqCells: Int = 16,
                        sampleN: Int = 2000, iters: Int = 10, seed: Long = 42L,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val coarse = trainCentroids(candidates, dim, cells, sampleN, iters, seed, idCol, vecCol)
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    def residual(vec: Column, cell: Column): Column =
      zip_with(vec.cast("array<double>"), element_at(coarseLit, cell + 1), (x, y) => x - y)
    val withRes = candidates
      .select(col(idCol), nearestCell(col(vecCol), coarse).as("cell"),
        col(vecCol).as("_v"))
      .withColumn("_res", residual(col("_v"), col("cell")))
    val cents = (0 until m).map { s =>
      trainCentroids(
        withRes.select(col(idCol), slice(col("_res"), s * subDim + 1, subDim).as("_sub")),
        subDim, pqCells, sampleN, iters, seed, idCol, "_sub")
    }
    val codesArr = array((0 until m).map { s =>
      nearestCell(slice(col("_res"), s * subDim + 1, subDim), cents(s))
    }: _*)
    val cass = withRes.select(col(idCol).as("neighbor_id"), col("cell"), codesArr.as("codes"))
    val lutArr = array((0 until m).map { s =>
      val sub = slice(col("_rq"), s * subDim + 1, subDim)
      array((0 until pqCells).map { j =>
        aggregate(zip_with(sub, typedLit(cents(s)(j).toSeq), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x)
      }: _*)
    }: _*)
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
        explode(probeCells(col(vecCol), coarse, nprobe)).as("cell"))
        .withColumn("_rq", residual(col("_qv"), col("cell")))
        .select(col("query_id"), col("cell"), lutArr.as("luts")))
    val adcFp = (0 until m).map { s =>
      floor(element_at(element_at(col("luts"), s + 1), element_at(col("codes"), s + 1) + 1)
        * lit(PqScale)).cast("long")
    }.reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("_adc_fp").asc, col("neighbor_id"))
    q.join(cass, "cell")
      .select(col("query_id"), col("neighbor_id"), adcFp.as("_adc_fp"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (col("_adc_fp").cast("double") / PqScale).as("adc_dist"))
  }

  /** PQ search with EXACT RE-RANKING (the standard refine step — FAISS
    * `IndexRefineFlat`): ADC scans the code table for the top
    * `k·refine` candidates, then only those few rows fetch their full
    * vectors for an exact squared-L2 re-rank of the final top-k. This
    * is how compressed indexes reach high recall: the 16-bit codes
    * prune most of the corpus, the expensive float reads touch
    * `k·refine` rows per query instead of all of them. Recall is
    * governed by the shortlist's coverage of the true top-k — measured
    * on the sf0.01 table: 56% at refine=5, 74% at 10, 90% at 20
    * (production tunes refine and the codebook size m·log₂(cells)
    * together; 16-bit PQ4×16 is the demonstration point, PQ8×256's
    * 64 bits is the usual production point). Emits (`query_id`,
    * `neighbor_id`, `rank`, `dist2`).
    */
  def pqRefineTopK(candidates: DataFrame, queries: DataFrame, k: Int, dim: Int,
                   refine: Int = 5, m: Int = 4, cells: Int = 16,
                   sampleN: Int = 2000, iters: Int = 10, seed: Long = 42L,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(refine >= 1, s"refine factor must be >= 1, got $refine")
    val shortlist = pqTopK(candidates, queries, k * refine, dim, m, cells,
      sampleN, iters, seed, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val cv = candidates.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    val d2 = aggregate(zip_with(col("qv"), col("cv"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (a, x) => a + x)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dist2").asc, col("neighbor_id"))
    shortlist
      .join(cv, "neighbor_id")
      .join(qv, "query_id")
      .withColumn("dist2", d2)
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("dist2"))
  }

  /** Exact squared-L2 brute-force top-k — the ground truth the
    * PQ/ADC family approximates (ADC estimates THIS metric, not
    * cosine, so recall harnesses for [[pqTopK]]/[[ivfPqTopK]] must
    * compare against it). Same broadcast-queries/stream-candidates
    * shape as [[bruteForceTopK]]; ties to the lower neighbor id.
    */
  def l2TopK(candidates: DataFrame, queries: DataFrame, k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    val c = candidates.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val d2 = aggregate(zip_with(col("qv"), col("cv"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (a, x) => a + x)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dist2").asc, col("neighbor_id"))
    q.crossJoin(c)
      .withColumn("dist2", d2)
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("dist2"))
  }

  /** Embedding-table HEALTH profile — the sanity pass a pipeline runs
    * before building any index over a vendor's vectors: per vector, its
    * dimensionality, L2 norm, zero-component count, max |component|, and
    * a zero-vector flag (a zero vector has no cosine direction and
    * silently poisons normalized dot products with NaN downstream).
    * Pure map-side projection — no shuffle, no state; norms come from a
    * left-fold over the array (same element order in every engine, so
    * the double sum is reproducible bit-for-bit, the `dot` discipline
    * of [[bruteForceTopK]]).
    */
  def embeddingNorms(embs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val sumsq = aggregate(v, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    embs.select(
      col(idCol),
      size(v).as("dim"),
      sqrt(sumsq).as("l2_norm"),
      size(filter(v, x => x === lit(0.0f))).as("n_zero"),
      array_max(transform(v, x => abs(x))).as("max_abs"),
      (sumsq === lit(0.0)).as("is_zero"))
  }

  /** Embedding-space coverage per group: quantize every vector to the
    * orthant cell of its first `signDims` components (component i ≥ 0
    * contributes bit `signDims−1−i` — the deterministic degenerate of
    * the random-hyperplane bucket, axis-aligned so the oracle replays
    * it with no plane table), then measure how much of the 2^signDims-cell
    * space each group occupies: distinct cells, and the Shannon entropy
    * of its cell distribution in bits (the diversity number mixture
    * tuning reads — a source whose embeddings pile into few cells adds
    * redundant coverage no matter its token count). Emits per
    * `groupCol` (n_vecs, n_cells, cell_entropy FLOAT,
    * norm_cell_entropy FLOAT — entropy / log2(min(n_vecs, 2^signDims)),
    * the attainable-uniform ceiling).
    *
    * Entropy via `ln n − Σ c·ln c / n` over per-cell counts (the
    * [[TextAnalysis]] text_entropy identity: one pass, no p=0 guards);
    * FLOAT output absorbs the order-sensitive double sum.
    *
    * Plan: cell id is per-row map work; one (group, cell) count
    * aggregate — at most groups × 2^signDims rows — then a group-row
    * rollup. Corpus scanned once, nothing pairwise anywhere.
    */
  def signCellCoverage(embs: DataFrame, groupCol: String, vecCol: String,
                       signDims: Int = 12): DataFrame = {
    require(signDims >= 1 && signDims <= 20,
      s"signDims must be in [1, 20], got $signDims")
    // left-fold acc·2 + bit: component 0 is the high bit — a pure
    // integer fold, no float exponentiation, same associativity in the
    // oracle's list_reduce
    val cell = aggregate(
      slice(col(vecCol), 1, signDims),
      lit(0L),
      (acc, x) => acc * 2L + when(x >= lit(0.0f), 1L).otherwise(0L))
    val counts = embs
      .select(col(groupCol).as("_g"), cell.as("_cell"))
      .groupBy(col("_g"), col("_cell"))
      .agg(count(lit(1)).as("_c"))
    counts
      .groupBy(col("_g"))
      .agg(
        sum(col("_c")).as("n_vecs"),
        count(lit(1)).cast("int").as("n_cells"),
        sum(col("_c").cast("double") * log(col("_c").cast("double"))).as("_h"))
      .select(col("_g").as(groupCol), col("n_vecs"), col("n_cells"),
        ((log(col("n_vecs").cast("double")) - col("_h") / col("n_vecs").cast("double"))
          / lit(math.log(2.0))).cast("float").as("cell_entropy"),
        when(least(col("n_vecs"), lit(1L << signDims)) > 1,
          ((log(col("n_vecs").cast("double")) - col("_h") / col("n_vecs").cast("double"))
            / log(least(col("n_vecs"), lit(1L << signDims)).cast("double"))))
          .otherwise(lit(0.0)).cast("float").as("norm_cell_entropy"))
  }

  /** Distributed Lloyd k-means on the integer grid — the FULL-corpus
    * clustering step that [[semanticDedup]] and [[ivfTopK]] approximate
    * with a bounded driver-side sample fit: at 100 TB the sample fit
    * picks the centroids, but refining them against EVERY vector (the
    * SemDeDup paper's actual clustering, OPT-level IVF training) is this
    * loop. Vectors quantize once to a `scale` integer grid (exact floor
    * of a power-of-two scaling — float32·2²⁰ is exact in double on any
    * engine), so the assignment argmin runs on int64 squared distances
    * (associative, partitioning-proof, ties to the lowest cluster id)
    * and the centroid update is `floor(sum/count)` back on the grid —
    * the whole optimization is bit-replayable, which is how the DuckDB
    * oracle checks it layer by layer.
    *
    * Plan per epoch: the quantized vectors are cached slim ONCE; the
    * ≤k-row centroid table BROADCASTs into a map-side crossJoin + per-
    * vector `min(struct(d2, cluster))` argmin (one partial-aggregated
    * exchange of (id, cluster, d2)), and the update is a (cluster, dim)
    * partial-sum exchange of N·dims slim rows — no epoch touches the
    * raw embeddings again, and nothing larger than k·dims longs ever
    * converges to one place. Epochs follow the [[Materialize.cutLoop]]
    * discipline: one live centroid generation, depth-1 plans.
    *
    * Init is the k lowest-id vectors (deterministic, engine-portable);
    * a production caller seeds with [[semanticDedup]]'s sample fit
    * instead. Emits the final assignment profile per cluster:
    * (cluster, n_members, inertia_fp) — inertia on the int64 grid.
    */
  def lloydKMeans(embs: DataFrame, vecCol: String, idCol: String,
                  k: Int = 8, iters: Int = 4,
                  scale: Long = 1L << 20): DataFrame = {
    require(k >= 1 && iters >= 1, "need k >= 1 and iters >= 1")
    val q = Materialize.cutEager(embs.select(col(idCol).as("_vid"),
      transform(col(vecCol), x => floor(x.cast("double") * scale).cast("long")).as("qv")))

    // (cluster, cv): the k lowest ids, cluster = id rank — k rows, so the
    // unpartitioned window runs on a k-row frame, not the corpus
    var cents: DataFrame = Materialize.cutLoop(
      q.orderBy(col("_vid")).limit(k)
        .select((row_number().over(Window.orderBy(col("_vid"))) - 1).cast("int").as("cluster"),
          col("qv").as("cv")),
      previous = None)

    def assign(c: DataFrame): DataFrame = q
      .crossJoin(broadcast(c))
      .select(col("_vid"), col("cluster"), col("qv"),
        aggregate(zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2"))
      .groupBy(col("_vid"))
      .agg(min(struct(col("d2"), col("cluster"), col("qv"))).as("m"))
      .select(col("_vid"), col("m.cluster").as("cluster"),
        col("m.d2").as("d2"), col("m.qv").as("qv"))

    var assigned: DataFrame = null
    for (t <- 1 to iters) {
      assigned = assign(cents)
      if (t < iters) {
        val next = assigned
          .select(col("cluster"), posexplode(col("qv")).as(Seq("dim", "v")))
          .groupBy(col("cluster"), col("dim"))
          .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
          .select(col("cluster"), col("dim"),
            floor(col("s").cast("double") / col("n").cast("double")).cast("long").as("cvd"))
          .groupBy(col("cluster"))
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("cvd")))),
            s => s.getField("cvd")).as("cv"))
        cents = Materialize.cutLoop(next, previous = Some(cents))
      }
    }
    val out = assigned
      .groupBy(col("cluster"))
      .agg(count(lit(1)).cast("int").as("n_members"), sum(col("d2")).as("inertia_fp"))
    // truncating pin, not a persist cut: the centroid generation released
    // below is a localCheckpoint — a lineage-retaining cut could try to
    // recompute through its freed blocks.
    val pinned = Materialize.cutPinned(out)
    Materialize.release(q)
    Materialize.release(cents)
    pinned
  }

  /** Multi-vector late-interaction scoring (the ColBERT MaxSim operator,
    * Khattab & Zaharia 2020): a query and a document are each a BAG of
    * token vectors, and the relevance score is
    * `sum over query tokens of (max over doc tokens of dot)` — token-level
    * matching that single-vector cosine flattens away. This is the
    * second-stage scorer of a modern retrieval stack: the caller bounds
    * `docTokens` to first-stage candidates (the [[Retrieval]] rerank
    * discipline), so the cross join below is candidates×query-tokens,
    * never corpus-quadratic.
    *
    * Dots on the 2^20 integer grid ([[centroidCosine]]'s quantization:
    * 64-dim grid dot ≤ 2^46, far inside int64), so scores are exact
    * longs and the oracle replays them bit-for-bit. Plan: the (small)
    * query token bag broadcasts; per (query, qtoken, doc) dot rows
    * reduce by max then sum in one partial-aggregated pair of hash
    * aggregates; top-k per query is a rank window over the (bounded)
    * score table.
    *
    * `queryTokens(qidCol, tidCol, vecCol)`, `docTokens(didCol, vecCol)`;
    * float vectors. Returns (qid, rank, did, score_fp).
    */
  def maxSimTopK(docTokens: DataFrame, queryTokens: DataFrame, k: Int,
                 qidCol: String, tidCol: String, didCol: String,
                 vecCol: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val grid = 1L << 20
    def q(c: Column): Column =
      transform(c, x => floor(x.cast("double") * grid).cast("long"))
    val qt = queryTokens.select(col(qidCol).as("qid"), col(tidCol).as("qti"),
      q(col(vecCol)).as("qv"))
    val dt = docTokens.select(col(didCol).as("did"), q(col(vecCol)).as("dv"))
    val dots = dt.crossJoin(broadcast(qt))
      .select(col("qid"), col("qti"), col("did"),
        aggregate(zip_with(col("qv"), col("dv"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("dot"))
    val scores = dots
      .groupBy(col("qid"), col("qti"), col("did")).agg(max(col("dot")).as("m"))
      .groupBy(col("qid"), col("did")).agg(sum(col("m")).as("score_fp"))
    import org.apache.spark.sql.expressions.Window
    scores
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score_fp").desc, col("did"))))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("did"), col("score_fp"))
  }

  /** Per-dimension (diagonal) whitening — the embedding
    * post-processing step (Su et al. 2021 "Whitening Sentence
    * Representations"; the mean-centering half is also ANN
    * preprocessing in FAISS pipelines): z_d = (x_d − μ_d)/σ_d, which
    * fixes anisotropic dimensions that would otherwise dominate every
    * cosine. Exact-replay arithmetic: vectors quantize to the 2²⁰
    * grid; per-dim μ = ⌊Σv/n⌋ and the variance numerator n·Σv² − (Σv)²
    * stay in exact int64; σ = ⌊√(num/n²)⌋ (IEEE sqrt is
    * correctly-rounded, so both engines floor the same double); and
    * z(q10) = ⌊(v−μ)·1024/σ⌋ — every division is a float with exact
    * integer operands in one fixed order, so the oracle replays
    * bit-for-bit.
    *
    * Plan: one posexplode (vector volume, map work), ONE dims-sized
    * aggregate (64 rows out regardless of corpus), a broadcast join of
    * the stats back, and a per-vector profile aggregate. Returns
    * (`vec_id`, `n_dims`, `z_sum_q10`, `z_min_q10`, `z_max_q10`) — the
    * per-vector standardization audit; a pipeline wanting the vectors
    * themselves keeps the `_z` column before the final rollup.
    */
  def whitenProfile(embs: DataFrame, vecCol: String, idCol: String,
                    scale: Long = 1L << 20): DataFrame = {
    val q = Materialize.cut(embs.select(col(idCol).as("vec_id"),
      posexplode(transform(col(vecCol), x => floor(x.cast("double") * scale).cast("long")))
        .as(Seq("dim", "v")))) // feeds the stats aggregate and the transform join
    val stats = q.groupBy(col("dim"))
      .agg(sum(col("v")).as("s"), sum(col("v") * col("v")).as("s2"), count(lit(1)).as("n"))
      .select(col("dim"),
        floor(col("s").cast("double") / col("n").cast("double")).cast("long").as("mu"),
        greatest(lit(1L),
          floor(sqrt((col("n") * col("s2") - col("s") * col("s")).cast("double")
            / (col("n") * col("n")).cast("double"))).cast("long")).as("sigma"))
    q.join(broadcast(stats), Seq("dim"))
      .select(col("vec_id"),
        floor(((col("v") - col("mu")) * 1024L).cast("double") / col("sigma").cast("double"))
          .cast("long").as("_z"))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).cast("int").as("n_dims"),
        sum(col("_z")).as("z_sum_q10"),
        min(col("_z")).as("z_min_q10"),
        max(col("_z")).as("z_max_q10"))
  }
}
