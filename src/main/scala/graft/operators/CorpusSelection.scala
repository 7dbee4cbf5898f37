package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Materialize.MatOps

/** Training-corpus selection operators: the step AFTER scoring and dedup
  * in an LLM data pipeline — decide WHICH documents actually enter the
  * training mix.
  *
  * Both operators are per-stratum window computations: one hash exchange
  * on the stratum key plus a per-partition sort, no joins, no driver
  * state. Stratum skew (one language dominating a web corpus) is the
  * scale risk: the sort is per-stratum, so a 10-billion-doc stratum
  * lands on one task. At that scale, pre-filter with an approximate
  * score threshold first — `approx_percentile(score, 1 - budgetFrac)`
  * per stratum is one cheap aggregate, cuts the sorted volume to just
  * the boundary region, and AQE's skew-join/partition splitting handles
  * the residual — then run the exact window on the survivors. The exact
  * operator below is the correctness contract; the threshold pre-pass
  * composes in front of it without changing results.
  */
object CorpusSelection {

  /** Highest-score-first selection under a per-stratum token budget:
    * rank each stratum's documents by (`score` desc, `idCol` asc — the
    * deterministic tiebreak), keep documents while the running token sum
    * stays within `budget`. A single document larger than the whole
    * budget is excluded (its own cumulative sum already exceeds it).
    * Appends `cum_tokens` (the running sum, budget accounting made
    * auditable) to the input columns.
    */
  def selectByTokenBudget(docs: DataFrame, strataCol: String, score: Column,
                          tokens: Column, budget: Long, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(strataCol)).orderBy(score.desc, col(idCol))
    docs
      .withColumn("cum_tokens", sum(tokens).over(w).cast("long"))
      .where(col("cum_tokens") <= budget)
  }

  /** The skewed-stratum scale path for [[selectByTokenBudget]], result-
    * identical (asserted in CorpusSelectionSpec): a cheap aggregate pass
    * estimates each stratum's admission-score threshold, a pushed-down
    * filter discards the long tail BELOW it, and the exact window runs
    * on the survivors only.
    *
    * Threshold estimation is exact-conservative, not approximate-risky.
    * Two cheap aggregate passes: `approx_percentile(score, fracs)` picks
    * a few probe scores per stratum, then the EXACT token mass at or
    * above each probe (`sum(score >= p ? tokens : 0)`) is measured, and
    * the HIGHEST probe whose above-mass still covers `budget` becomes
    * the stratum's admission floor. Every document the exact window can
    * admit scores at or above that floor — an admitted doc below it
    * would have the floor's full ≥-budget mass ahead of it in the
    * ordering, contradicting its own ≤-budget cumulative sum — so no
    * survivor is lost, regardless of how approximate the percentile
    * sketch was (safety rests only on the exact mass). A stratum no
    * probe can cover keeps all its docs (null floor). The sort volume
    * drops from the stratum size to ~the budget's neighborhood — the
    * difference between sorting a 10-billion-doc language and sorting
    * its best few million.
    */
  def selectByTokenBudgetApprox(docs: DataFrame, strataCol: String, score: Column,
                                tokens: Column, budget: Long, idCol: String,
                                probeFracs: Seq[Double] = Seq(0.5, 0.9, 0.99, 0.999)): DataFrame = {
    require(probeFracs.nonEmpty, "at least one probe fraction")
    val fracs = probeFracs.sorted // ascending fracs → ascending probe scores
    val probed = docs.withColumn("_score", score).withColumn("_tok", tokens)
    val pcts = probed.groupBy(col(strataCol))
      .agg(expr(s"approx_percentile(_score, array(${fracs.mkString(",")}))").as("_ps"))
    // token mass at or above each probe score, per stratum
    val masses = probed.join(broadcast(pcts), strataCol)
      .groupBy(col(strataCol))
      .agg(
        first(col("_ps")).as("_ps"),
        array(fracs.indices.map(i =>
          sum(when(col("_score") >= element_at(col("_ps"), i + 1), col("_tok")).otherwise(lit(0L)))): _*)
          .as("_mass"))
      // lowest probe score whose above-mass still covers the budget; null
      // (keep everything) when no probe's reach is certain
      .select(col(strataCol),
        try_element_at(filter(zip_with(col("_ps"), col("_mass"), (p, m) => struct(p.as("p"), m.as("m"))),
          pm => pm.getField("m") >= budget), lit(-1)).getField("p").as("_thresh"))
    selectByTokenBudget(
      probed.join(broadcast(masses), strataCol)
        .where(col("_thresh").isNull || col("_score") >= col("_thresh")),
      strataCol, col("_score"), col("_tok"), budget, idCol)
      .drop("_score", "_tok", "_thresh")
  }

  /** Data-MIXTURE selection — the "sample to target proportions" step of
    * assembling a training mix (e.g. 50% English / 20% code / …): each
    * stratum gets `totalBudget · weight/Σweights` tokens of its
    * highest-scoring documents. Same one-exchange window shape as
    * [[selectByTokenBudget]]; the per-stratum budget arrives through a
    * broadcast of the tiny literal weights table. Strata ABSENT from
    * `weights` are excluded entirely (an inner join — a mixture is a
    * whitelist); a stratum with fewer tokens than its budget simply
    * contributes everything it has (no reallocation — deliberate, so a
    * run's mixture shortfall is visible in `cum_tokens`, not silently
    * papered over by other strata). Compose the
    * [[selectByTokenBudgetApprox]] threshold pre-pass in front for
    * skewed strata.
    */
  def selectByMixture(docs: DataFrame, strataCol: String, score: Column,
                      tokens: Column, totalBudget: Long,
                      weights: Map[String, Double], idCol: String): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(_ >= 0) && weights.values.sum > 0,
      "weights must be non-negative with a positive sum")
    val norm = weights.values.sum
    val budgets = weights.toSeq.map { case (s, wt) =>
      (s, math.round(wt / norm * totalBudget))
    }
    val bdf = docs.sparkSession.createDataFrame(budgets)
      .toDF(strataCol, "_stratum_budget")
    val w = Window.partitionBy(col(strataCol)).orderBy(score.desc, col(idCol))
    docs
      .join(broadcast(bdf), strataCol)
      .withColumn("cum_tokens", sum(tokens).over(w).cast("long"))
      .where(col("cum_tokens") <= col("_stratum_budget"))
      .drop("_stratum_budget")
  }

  /** Concat-and-chunk sequence packing — the layout step between a
    * curated corpus and a pre-training run: documents are laid out in a
    * deterministic order (`idCol` asc) as one contiguous token stream and
    * cut every `seqLen` tokens. Emits per document: `start_offset` (its
    * position in the stream), `seq_id` (the training sequence its first
    * token lands in), `end_seq_id` (the sequence of its last token —
    * `> seq_id` means the document straddles a cut, exactly what
    * concat-and-chunk packing accepts in exchange for zero padding), and
    * `n_seq_tokens` (its token count).
    *
    * One running-sum window over the whole stream. At corpus scale the
    * single global ordering is the scale risk, same as any global sort:
    * shard the stream first (pack per source/date bucket — each shard is
    * an independent stream and the window parallelizes per shard), which
    * is what production packers do anyway to keep shuffle-read locality.
    * Pass a `shardCol` to get exactly that: offsets restart per shard and
    * `seq_id` is per-shard.
    */
  def packSequences(docs: DataFrame, tokens: Column, seqLen: Long, idCol: String,
                    shardCol: Option[String] = None): DataFrame = {
    val w = shardCol.fold(Window.orderBy(col(idCol)))(s => Window.partitionBy(col(s)).orderBy(col(idCol)))
    docs
      .withColumn("n_seq_tokens", tokens)
      .withColumn("start_offset", (sum(col("n_seq_tokens")).over(w) - col("n_seq_tokens")).cast("long"))
      // `div` (integer division), not `/` (double division): exact at any
      // stream length. An empty doc (0 tokens) gets end == start.
      .withColumn("seq_id", expr(s"start_offset div ${seqLen}L"))
      .withColumn("end_seq_id",
        expr(s"greatest(start_offset, start_offset + n_seq_tokens - 1) div ${seqLen}L"))
  }

  /** Deterministic weighted (importance) sampling: keep each row with
    * probability `weight` (a column in [0, 1] — e.g. a quality score, so
    * better documents survive downsampling more often, the standard
    * quality-weighted mix move). The coin is seedless and engine-
    * portable: the first 6 hex digits of `md5(id)` parsed as an integer,
    * divided by 16⁶ — uniform on [0, 1) with 2⁻²⁴ granularity, exact in
    * double arithmetic, so any engine replays the exact same keep set
    * (the property that makes training mixes reproducible). Keep iff
    * coin < weight; appends `sample_coin` for auditability. Pure per-row
    * map work, shuffle-free at any scale.
    */
  def weightedSample(docs: DataFrame, idCol: String, weight: Column): DataFrame = {
    val coin = graft.plans.Md5Prefix.of(col(idCol).cast("string"), 6)
      .cast("double") / math.pow(16, 6)
    docs
      .withColumn("sample_coin", coin)
      .where(col("sample_coin") < weight)
  }

  /** Deterministic train/val/test (or any named) split assignment — the
    * reproducibility primitive of every dataset release: each row lands
    * in the first split whose cumulative fraction exceeds its
    * [[weightedSample]]-style md5 coin, so the assignment is a pure
    * function of the id — stable across runs, engines, partitionings,
    * and corpus growth (adding documents never moves existing ones
    * between splits, the property row-number modulo splitting lacks).
    * `fractions` must sum to 1 (±1e-9); appends `split`. Shuffle-free
    * map work.
    */
  def assignSplit(docs: DataFrame, idCol: String,
                  fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 >= 0), "non-negative fractions")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9, "fractions must sum to 1")
    val coin = graft.plans.Md5Prefix.of(col(idCol).cast("string"), 6)
      .cast("double") / math.pow(16, 6)
    val cum = fractions.scanLeft(0.0)(_ + _._2).tail
    // last arm unconditional: float summation must never leave a row
    // unassigned at the 1.0 boundary
    val expr = fractions.zip(cum).dropRight(1)
      .foldRight(lit(fractions.last._1): Column) { case (((name, _), bound), rest) =>
        when(coin < bound, lit(name)).otherwise(rest)
      }
    docs.withColumn("split", expr)
  }

  /** Deterministic fixed-size sample per stratum: order documents inside
    * each stratum by `md5(id)` (a seedless, engine-portable uniform
    * scrambling — any doc set yields the same sample on every run and
    * every engine, which is what makes training mixes reproducible and
    * oracle-checkable) and keep the first `n`. Appends `sample_rank`
    * (1-based position in the scrambled order).
    */
  def stratifiedSample(docs: DataFrame, strataCol: String, n: Int, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    docs
      .withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= n)
  }

  /** Per-stratum RESAMPLING weights toward a target mixture — the
    * DoReMi-style reweighting report that precedes any weighted-sampling
    * run ([[weightedSample]] consumes the `weight` column): for each
    * stratum, its observed token share, its target share, and
    * `weight = min(cap, target/observed)` — the factor a sampler
    * multiplies into per-document probabilities to move the mix toward
    * the target. Strata absent from `targets` get `target_frac = 0`,
    * `weight = 0` (a mixture is a whitelist — the [[selectByMixture]]
    * contract); `cap` bounds the up-sampling of tiny strata so one
    * rare-language sliver cannot be told to repeat 1000×.
    *
    * One corpus aggregate to (stratum, n_docs, n_tokens) — map-side
    * combining, #strata output rows — then broadcast joins against the
    * 1-row total and the literal target table. Nothing after the first
    * aggregate scales with the corpus.
    */
  def mixtureWeights(docs: DataFrame, strataCol: String, tokens: Column,
                     targets: Map[String, Double], cap: Double = 10.0): DataFrame = {
    require(targets.nonEmpty, "targets must be non-empty")
    require(targets.values.forall(_ >= 0) && targets.values.sum > 0,
      "targets must be non-negative with a positive sum")
    val norm = targets.values.sum
    val tdf = docs.sparkSession
      .createDataFrame(targets.toSeq.map { case (k, v) => (k, v / norm) })
      .toDF(strataCol, "target_frac")
    val agg = docs.groupBy(col(strataCol))
      .agg(count(lit(1)).cast("int").as("n_docs"), sum(tokens).cast("long").as("n_tokens"))
    val tot = agg.agg(sum(col("n_tokens")).cast("long").as("_tot"))
    val currentFrac = col("n_tokens").cast("double") / col("_tot").cast("double")
    agg
      .crossJoin(broadcast(tot))
      .join(broadcast(tdf), Seq(strataCol), "left")
      .select(col(strataCol), col("n_docs"), col("n_tokens"),
        currentFrac.as("current_frac"),
        coalesce(col("target_frac"), lit(0.0)).as("target_frac"),
        when(col("target_frac").isNull, lit(0.0))
          .otherwise(least(lit(cap), col("target_frac") / currentFrac)).as("weight"))
  }

  /** TEMPERATURE-scaled sampling probabilities — the multilingual
    * α-sampling of mBERT/XLM-R/mT5 (p_l ∝ n_l^α, α < 1 flattens the
    * language distribution so low-resource languages are not drowned by
    * the head): per stratum, the raw token share, the α-scaled share,
    * and `boost = p_alpha / p_raw` (the factor a sampler applies —
    * > 1 up-samples the tail, < 1 down-samples the head). Unlike
    * [[mixtureWeights]] there is no explicit target: the corpus's own
    * distribution, reshaped by one exponent, IS the target.
    *
    * Same scale shape as [[mixtureWeights]]: one map-side-combining
    * corpus aggregate to #strata rows, one 1-row total, broadcast
    * arithmetic after. The Σ n^α denominator is a #strata-sized double
    * sum (reduction-order ulps) and `pow` is not correctly rounded
    * across libms — consumers compare at float.
    */
  def temperatureWeights(docs: DataFrame, strataCol: String, tokens: Column,
                         alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val agg = docs.groupBy(col(strataCol)).agg(sum(tokens).cast("long").as("n_tokens"))
    val powT = pow(col("n_tokens").cast("double"), alpha)
    val tot = agg.agg(sum(col("n_tokens")).cast("long").as("_tot"), sum(powT).as("_powsum"))
    val pRaw = col("n_tokens").cast("double") / col("_tot").cast("double")
    val pAlpha = powT / col("_powsum")
    agg.crossJoin(broadcast(tot))
      .select(col(strataCol), col("n_tokens"),
        pRaw.as("p_raw"), pAlpha.as("p_alpha"), (pAlpha / pRaw).as("boost"))
  }

  /** Cross-split LEAKAGE audit — the check every dataset release runs
    * after [[assignSplit]]: near-duplicate pairs whose members landed in
    * DIFFERENT splits (a test document with a train near-twin is
    * evaluation contamination; Lee et al. 2022 measure exactly this
    * between C4's train and validation). `pairs` is any pair table
    * carrying (`a`, `b`) ids — [[Dedup.simHashPairs]],
    * [[Dedup.minHashPairs]], exact-fingerprint pairs — and `assignment`
    * maps `idCol` to `splitCol`. Keeps only pairs whose two splits
    * differ, appending `split_a` / `split_b`; all other pair columns
    * (hamming, jaccard, …) ride through.
    *
    * Scale: the pair table is candidate-generation-bounded (never
    * all-pairs — the upstream dedup discipline), and the two joins key
    * on the id; with a corpus-sized assignment both are plain hash
    * joins, and AQE broadcasts the pair side when a run's pair count is
    * small. No stage scales worse than the dedup that produced the
    * pairs.
    */
  def splitLeakage(pairs: DataFrame, assignment: DataFrame,
                   idCol: String = "doc_id", splitCol: String = "split"): DataFrame =
    pairs
      .join(assignment.select(col(idCol).as("a"), col(splitCol).as("split_a")), "a")
      .join(assignment.select(col(idCol).as("b"), col(splitCol).as("split_b")), "b")
      .where(col("split_a") =!= col("split_b"))

  /** ADAPTIVE per-stratum quality admission — keep documents whose
    * `score` is at or above their OWN stratum's p-th percentile, instead
    * of one global cutoff that over-admits the easy language and
    * guts the hard one (per-language threshold calibration, the CCNet
    * practice). The percentile is the exact DISCRETE quantile of
    * [[TextAnalysis.corpusProfile]] — the value at sorted row
    * ceil(p·n), `p` given in basis points so the rank arithmetic is
    * integer-exact in every engine. Appends `threshold_score`.
    *
    * Plan: score projection cut once; one per-stratum rank window
    * (the operator's only corpus shuffle, parallel per stratum) reduces
    * to #strata threshold rows, which BROADCAST back into a map-side
    * admission filter. Same shape as `selectByTokenBudgetApprox`'s
    * probe — nothing after the window scales with the corpus.
    */
  def percentileGate(docs: DataFrame, strataCol: String, score: Column,
                     pBasisPoints: Int): DataFrame = {
    require(pBasisPoints > 0 && pBasisPoints <= 10000,
      s"percentile must be in (0, 10000] basis points, got $pBasisPoints")
    val scored = docs.withColumn("_score", score).materialized
    val w = Window.partitionBy(col(strataCol))
    val thresh = scored
      .withColumn("_rn", row_number().over(w.orderBy(col("_score"))))
      .withColumn("_cnt", count(lit(1)).over(w))
      .groupBy(col(strataCol))
      .agg(max(when(col("_rn") === expr(s"(_cnt * ${pBasisPoints}L + 9999L) DIV 10000L"),
        col("_score"))).as("threshold_score"))
    scored
      .join(broadcast(thresh), strataCol)
      .where(col("_score") >= col("threshold_score"))
      .drop("_score")
  }

  /** Deterministic output sharding — the LAST stage of a corpus build:
    * route each document to one of `numShards` output shards by the
    * [[weightedSample]]-style md5 coin (a pure function of the id, so a
    * re-run or a different engine reproduces the same file layout —
    * the property `row_number() % n` sharding lacks, since it moves
    * every document when any upstream row changes). Appends `shard`.
    * Shuffle-free map work; the physical write is
    * `repartition(numShards, col("shard")).write` so each task owns
    * one shard, and the coin's uniformity is what bounds task skew —
    * audit it with [[shardBalance]] before committing the layout.
    */
  def assignShards(docs: DataFrame, idCol: String, numShards: Int): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val coin = graft.plans.Md5Prefix.of(col(idCol).cast("string"), 6)
    docs.withColumn("shard", pmod(coin, lit(numShards.toLong)).cast("int"))
  }

  /** Per-shard balance audit for [[assignShards]]: doc count, token
    * sum, each shard's share of the total token stream, and its ratio
    * over the ideal equal share (`skew` = 1.0 is perfect balance; the
    * writer gates on `max(skew)` before committing a layout). One
    * partial aggregate to `numShards` rows; the share arithmetic runs
    * on the aggregated integers (sums exact, single divisions), never
    * per row.
    */
  def shardBalance(docs: DataFrame, idCol: String, tokens: Column, numShards: Int): DataFrame = {
    val perShard = assignShards(docs, idCol, numShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(tokens.cast("long")).as("n_tokens"))
    val w = Window.partitionBy()
    perShard
      .withColumn("token_share",
        col("n_tokens").cast("double") / sum(col("n_tokens")).over(w).cast("double"))
      .withColumn("skew",
        col("token_share") * lit(numShards.toDouble))
  }

  /** Per-stratum quantile normalization + blending of quality signals —
    * the FineWeb-style multi-signal mix: raw quality signals live on
    * incomparable scales (a diversity ratio, a fingerprint density, a
    * classifier score), so each is mapped to its per-stratum
    * `percent_rank` and the blended score is the MEAN of the quantiles.
    * Returns the input id/stratum/signal columns plus `pr_<signal>` per
    * signal and `blend`.
    *
    * Determinism contract: callers must pass signals that are exact
    * (integer ratios, fixed-point-derived doubles) — `percent_rank`
    * ORDERS by the signal, so an order-dependent float (e.g. a
    * doc-entropy double summed in shuffle order) would make ranks
    * engine-dependent. `percent_rank` itself is `(rank−1)/(n−1)` with
    * standard tie handling — exact given exact inputs.
    *
    * Plan: one exchange on the stratum key; all signal windows sort
    * within the same partitioning (Spark reuses the exchange, one sort
    * per signal). Same stratum-skew story as the budget selectors: a
    * mega-stratum serializes its sort — compose the approximate
    * threshold pre-pass in front at that scale.
    */
  def quantileBlend(docs: DataFrame, strataCol: String, idCol: String,
                    signals: Seq[(String, Column)]): DataFrame = {
    require(signals.nonEmpty, "at least one signal required")
    val named = docs.select(
      (col(idCol) +: col(strataCol) +: signals.map { case (n, c) => c.as(n) }): _*)
    val prs = signals.map { case (n, _) =>
      percent_rank()
        .over(Window.partitionBy(col(strataCol)).orderBy(col(n)))
        .as(s"pr_$n")
    }
    named
      .select((named.columns.map(col).toSeq ++ prs): _*)
      .withColumn("blend",
        signals.map(s => col(s"pr_${s._1}")).reduce(_ + _) / lit(signals.size.toDouble))
  }

  /** Cross-group quantile NORMALIZATION — the batch-effect correction
    * for per-source quality scores (microarray heritage, now the fix
    * for "source A's classifier scores run hot"): map every group's
    * score distribution onto one shared target distribution, so a
    * threshold or budget gate treats sources fairly. Rank each row
    * into `buckets` ntiles within its group (deterministic `idCol`
    * tie-break), then define bucket b's target as the mean over groups
    * of the per-(group, bucket) mean. Emits the (group, bucket)
    * remapping table — (group, bucket, n_docs, mean_raw, target) — and
    * a doc-level rewrite is one broadcast join of it back onto the
    * corpus.
    *
    * Determinism contract: `score` must be integer-valued AND
    * NON-NEGATIVE (put floats on a grid first) — bucket means are then
    * exact integer divisions on the 2²⁰ grid (Spark's `div` truncates
    * toward zero, which equals floor only for non-negative sums; a
    * negative-score variant would need an explicit floor-division to
    * match the oracle's `//`), the cross-group target mean is integer
    * again, and the only float steps are the two display divisions.
    * Envelope: Σscore·2²⁰ within a bucket must fit int64 — at
    * ~10⁹-row buckets move the sum through DECIMAL(38,0).
    *
    * Plan: one exchange on the group key for the ntile window, one
    * (group, bucket)-domain aggregate, one buckets-sized rollup.
    * Same group-skew story as the budget selectors.
    */
  def quantileNormalize(docs: DataFrame, groupCol: String, idCol: String,
                        score: Column, buckets: Int = 20): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val grid = 1L << 20
    val ranked = docs
      .select(col(groupCol), col(idCol), score.cast("long").as("_s"))
      .withColumn("_b", ntile(buckets).over(
        Window.partitionBy(col(groupCol)).orderBy(col("_s"), col(idCol))))
    val grp = ranked.groupBy(col(groupCol), col("_b"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_s")).as("_sum"))
      .withColumn("_mean_fp", expr(s"(_sum * ${grid}L) div n_docs"))
    val target = grp.groupBy(col("_b"))
      .agg(count(lit(1)).as("_ng"), sum(col("_mean_fp")).as("_tsum"))
      .withColumn("_target_fp", expr("_tsum div _ng"))
      .select(col("_b"), col("_target_fp"))
    grp.join(broadcast(target), Seq("_b"))
      .select(col(groupCol), col("_b").as("bucket"), col("n_docs"),
        (col("_sum").cast("double") / col("n_docs").cast("double")).as("mean_raw"),
        (col("_target_fp").cast("double") / grid).as("target"))
      .orderBy(col(groupCol), col("bucket"))
  }

  /** Curriculum ordering: emit a deterministic global training position
    * for every document such that (a) within each stratum documents
    * appear easiest-first by `difficulty` asc (`idCol` tie-break) and
    * (b) strata interleave round-robin — the standard
    * curriculum + anti-clumping layout for a training stream.
    *
    * The position is CLOSED-FORM, not a global sort:
    * `pos = within_rank · n_strata + stratum_index`, where
    * `stratum_index` comes from a tiny sorted stratum dimension
    * (broadcast). One exchange on the stratum key for the within-rank
    * window; the global order materializes only when a writer sorts by
    * `pos` — and a writer that shards by `pos div shard_size` needs no
    * sort at all. Positions are strictly increasing within every
    * stratum and collision-free across strata (distinct residues mod
    * `n_strata`); a finished (smaller) stratum simply leaves gaps,
    * which a training loader skips for free.
    */
  def curriculumOrder(docs: DataFrame, strataCol: String, difficulty: Column,
                      idCol: String): DataFrame = {
    val strata = docs.select(col(strataCol)).distinct()
      .withColumn("_sidx",
        (row_number().over(Window.orderBy(col(strataCol))) - 1).cast("long"))
    val nStrata = strata.count()
    val w = Window.partitionBy(col(strataCol))
      .orderBy(difficulty.asc, col(idCol))
    docs
      .withColumn("difficulty", difficulty)
      .withColumn("within_rank", (row_number().over(w) - 1).cast("long"))
      .join(broadcast(strata), Seq(strataCol))
      .withColumn("pos", col("within_rank") * lit(nStrata) + col("_sidx"))
      .drop("_sidx")
  }

  /** Synthetic preference-pair assembly — the reward-model /
    * DPO-training data layout built from a scalar quality signal when
    * no human labels exist (the "weak supervision" recipe): within each
    * stratum, rank documents by `score` desc and pair rank i (chosen)
    * with rank n+1−i (rejected) — top-vs-bottom, each document in at
    * most one pair, the widest-margin pairing that needs no O(n²)
    * enumeration. Pairs below `minMargin` are dropped (near-equal
    * quality teaches nothing). Returns (`strataCol`, chosen_id,
    * rejected_id, chosen_score, rejected_score, margin).
    *
    * Plan: one exchange on the stratum key for the rank window, then a
    * self-join on the computed (stratum, rank) key — co-partitioned by
    * construction, no skew beyond the stratum's own size. Scores must
    * be exact (the [[quantileBlend]] contract) so ranks are
    * engine-independent.
    */
  def preferencePairs(docs: DataFrame, strataCol: String, score: Column,
                      idCol: String, minMargin: Double = 0.0): DataFrame = {
    val w = Window.partitionBy(col(strataCol)).orderBy(col("_score").desc, col(idCol))
    val ranked = docs
      .select(col(strataCol), col(idCol), score.as("_score"))
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col(strataCol))).cast("long"))
    val top = ranked.select(col(strataCol), col("_rn"), col("_n"),
      col(idCol).as("chosen_id"), col("_score").as("chosen_score"))
    val bottom = ranked.select(col(strataCol),
      (col("_n") - col("_rn") + 1L).as("_rn"),
      col(idCol).as("rejected_id"), col("_score").as("rejected_score"))
    top
      .join(bottom, Seq(strataCol, "_rn"))
      .where(col("_rn") * 2 < col("_n") + 1) // strict top half; middle element unpaired
      .select(col(strataCol), col("chosen_id"), col("rejected_id"),
        col("chosen_score"), col("rejected_score"),
        (col("chosen_score") - col("rejected_score")).as("margin"))
      .where(col("margin") >= minMargin)
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much its hashed-n-gram profile looks like a small
    * TARGET corpus (Wikipedia/books in the paper) rather than the raw
    * pool itself. Per bucket b of the
    * [[QualityClassifier]] unigram+bigram feature hash, the model is a
    * add-one-smoothed bag-of-buckets likelihood ratio
    * `ln(p_target(b)) − ln(p_raw(b))`; a document's weight is the MEAN
    * log ratio over its features (length-normalized, as the paper's
    * per-example importance weight is before resampling). Emits
    * (`idCol`, n_feats, weight FLOAT).
    *
    * Determinism on the 2⁻⁴⁰ grid: the per-bucket log ratio is floored
    * to fixed point once in the `buckets`-row model table (the
    * [[TextAnalysis.unigramNll]] discipline), so per-doc sums are
    * integer-associative and identical under any partitioning or
    * engine; the only floats are the final two exact divisions.
    *
    * Plan at 100 TB: the raw corpus is featurized ONCE (the projection
    * is materialized and shared by the raw-distribution fit and the
    * scoring pass); both distribution fits are partial-aggregated
    * counts to at most `buckets` rows; the model join BROADCASTs the
    * `buckets`-row ratio table. Two exchanges total over the big side —
    * the bucket-count aggregate and the per-doc score aggregate — both
    * map-side combined. The target corpus is small by construction
    * (the paper uses ~1% of the pool) and never shuffles the raw side.
    */
  def dsirScores(raw: DataFrame, target: DataFrame, textCol: String, idCol: String,
                 buckets: Int = 4096): DataFrame = {
    val scale = 1099511627776.0 // 2^40
    // one codegen'd featurize+hash pass ([[QualityClassifier.featureBuckets]])
    def bucketed(df: DataFrame): DataFrame = df
      .select(col(idCol),
        explode(QualityClassifier.featureBuckets(col(textCol), buckets)).as("bucket"))
    // Materialize the ≤`buckets`-row COUNT aggregates, not the exploded
    // feature relation: each count table is consumed twice (grid join +
    // totals), and caching 4096 rows is free — whereas caching the
    // 2n−1-features-per-doc relation writes a >2×-corpus intermediate
    // (measured 2× slower than simply featurizing the corpus twice:
    // once for the distribution fit, once for scoring — both pure
    // map+partial-agg passes). The same trade holds on a cluster: two
    // scans of the source beat write+read of a corpus-sized cache.
    val rawFeats = bucketed(raw)
    val tgtCounts = bucketed(target).groupBy(col("bucket")).agg(count(lit(1)).as("tc"))
      .materializedEager
    val rawCounts = rawFeats.groupBy(col("bucket")).agg(count(lit(1)).as("rc"))
      .materializedEager
    val totals = tgtCounts.agg(sum(col("tc")).as("tt"))
      .crossJoin(rawCounts.agg(sum(col("rc")).as("rt")))
    val grid = raw.sparkSession.range(buckets)
      .select(col("id").cast("int").as("bucket"))
      .join(tgtCounts, Seq("bucket"), "left")
      .join(rawCounts, Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        floor((
          log((coalesce(col("tc"), lit(0L)) + 1L).cast("double") / (col("tt").cast("double") + buckets.toDouble))
            - log((coalesce(col("rc"), lit(0L)) + 1L).cast("double") / (col("rt").cast("double") + buckets.toDouble))
          ) * scale).cast("long").as("fp"))
    rawFeats
      .join(broadcast(grid), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_feats"), sum(col("fp")).as("_sfp"))
      .select(col(idCol), col("n_feats"),
        (col("_sfp").cast("double") / lit(scale) / col("n_feats").cast("double"))
          .cast("float").as("weight"))
  }

  /** DSIR Gumbel-top-k resampling — the paper's ACTUAL sampling rule
    * (sample ∝ importance weight, without replacement) where
    * [[selectByDsir]] is the deterministic hard-threshold variant: each
    * document draws Gumbel noise `g = −ln(−ln(u))` from an md5 coin of
    * its id (so the "randomness" is a pure function of the id —
    * reproducible across runs, engines, and partitionings) and the
    * top-k by `weight + g` is the exact Gumbel-max sample. The noise is
    * floored to the 2⁻⁴⁰ grid before the add, so the sort key is a sum
    * of two exact doubles — no ulp-order hazards. Same plan as
    * [[selectByDsir]]: scoring + TakeOrderedAndProject.
    */
  def sampleByDsir(raw: DataFrame, target: DataFrame, textCol: String, idCol: String,
                   k: Int, buckets: Int = 4096): DataFrame = {
    val scale = 1099511627776.0 // 2^40
    val u = (QualityClassifier.md24(concat(lit("g:"), col(idCol).cast("string"))) + lit(1L))
      .cast("double") / lit(16777217.0) // (0,1) exclusive
    val noisy = dsirScores(raw, target, textCol, idCol, buckets)
      .withColumn("gumbel", floor(-log(-log(u)) * scale) / lit(scale))
      .withColumn("sample_key", col("weight").cast("double") + col("gumbel"))
    val top = noisy.orderBy(col("sample_key").desc, col(idCol)).limit(k)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("sample_key").desc, col(idCol))).cast("int"))
  }

  /** Top-`k` DSIR selection: the highest-importance-weight documents
    * from the raw pool (the deterministic hard-threshold variant of the
    * paper's Gumbel resampling — same ranking statistic, reproducible
    * output). Ranking compares the float32 weight (itself derived from
    * the integer fixed-point sum by two exact IEEE divisions, so
    * engine-independent) with `idCol` ascending as the tiebreak. The global top-k
    * compiles to TakeOrderedAndProject (per-partition heaps, k rows to
    * the driver-side merge — no global sort); the rank column is a
    * window over the k survivors only.
    */
  def selectByDsir(raw: DataFrame, target: DataFrame, textCol: String, idCol: String,
                   k: Int, buckets: Int = 4096): DataFrame = {
    val top = dsirScores(raw, target, textCol, idCol, buckets)
      .orderBy(col("weight").desc, col(idCol))
      .limit(k)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("weight").desc, col(idCol))).cast("int"))
  }

  /** Padding-waste audit for batch assembly: when fixed-size batches pad
    * every sequence to the batch max, how many pad cells does each
    * assembly strategy burn? Compares `arrival` (docs batched in id
    * order — the naive loader) against `sorted` (docs batched in
    * length-desc order — length-grouped batching), the standard
    * before/after that justifies a bucketed sampler. Emits one row per
    * strategy: (strategy, n_batches, total_tokens, padded_cells,
    * waste_frac) where `padded_cells = Σ_b (max_len_b · |b| − Σ len)`
    * and `waste_frac = padded / (padded + total)`.
    *
    * Plan: two global row_number windows (one per strategy) over slim
    * (id, len) rows, then a per-batch aggregate and a 2-row rollup —
    * all integer arithmetic, single final divisions. The global sort
    * serializes on one task: this is the audit's honest cost at corpus
    * scale, and the production form runs it per SHARD (prepend the
    * shard key to both window partitions) where each shard's sort is
    * local — the [[assignShards]] composition.
    */
  def paddingAudit(docs: DataFrame, idCol: String, lenExpr: Column,
                   batchSize: Int): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val slim = docs.select(col(idCol).as("_id"), lenExpr.cast("long").as("_len"))
    def audit(strategy: String, order: Seq[Column]): DataFrame = slim
      .withColumn("_rn", row_number().over(Window.orderBy(order: _*)))
      .withColumn("_batch", expr(s"(_rn - 1) div $batchSize"))
      .groupBy(col("_batch"))
      .agg(count(lit(1)).as("_n"), max(col("_len")).as("_mx"), sum(col("_len")).as("_sum"))
      .agg(
        count(lit(1)).as("n_batches"),
        sum(col("_sum")).as("total_tokens"),
        sum(col("_mx") * col("_n") - col("_sum")).as("padded_cells"))
      .select(lit(strategy).as("strategy"), col("n_batches"), col("total_tokens"),
        col("padded_cells"),
        (col("padded_cells").cast("double")
          / (col("padded_cells") + col("total_tokens")).cast("double")).as("waste_frac"))
    audit("arrival", Seq(col("_id")))
      .unionByName(audit("sorted", Seq(col("_len").desc, col("_id"))))
  }

  /** One best-fit pass over a shard's doc array (already in placement
    * order): each doc goes to the FULLEST bin that still fits it
    * (best-fit; ties → the lowest bin index), else opens a new bin; a
    * doc longer than `capacity` gets its own overfull singleton bin
    * (truncation is a downstream concern). Runs as the native
    * [[graft.plans.BestFitPack]] kernel — one codegen'd primitive loop
    * per shard; the composed HOF fold it replaced (the equivalence
    * oracle in CorpusSelectionSpec) interpreted O(bins) boxed lambda
    * evals per doc plus an O(docs²) state concat and owned the whole
    * query at sf0.1 (r14 measurement: pack_bestfit 14.8 s → sub-second).
    * Integer arithmetic, bit-identical placement either way.
    */
  private[operators] def bestFitState(docsArr: Column, capacity: Long): Column = {
    import org.apache.spark.sql.graft.{ColumnBridge => B}
    B.column(graft.plans.BestFitPack(
      B.expression(transform(docsArr, d => d.getField("len"))), capacity))
  }

  /** Per-shard doc arrays in placement order: length-desc (best-fit-
    * DECREASING) or arrival (`idCol` asc) — the fold consumes either.
    */
  private def packArrays(docs: DataFrame, idCol: String, lenExpr: Column,
                         shardCol: String, decreasing: Boolean): DataFrame = {
    val key = if (decreasing) (-col("_len")).as("k1") else col("_id").as("k1")
    docs.select(col(shardCol).as("_shard"), col(idCol).cast("long").as("_id"),
        lenExpr.cast("long").as("_len"))
      .groupBy(col("_shard"))
      .agg(sort_array(collect_list(
        struct(key, col("_id").as("id"), col("_len").as("len")))).as("_docs"))
  }

  /** BEST-FIT-DECREASING sequence packing — the production padding-free
    * batcher that [[packSequences]] (concat-and-chunk) and
    * [[paddingAudit]] (padding waste) motivate: documents sorted
    * length-desc inside each shard, each placed in the fullest
    * fixed-`capacity` bin that still fits it (new bin otherwise), so
    * bins close near-full and no document straddles a boundary. Emits
    * one row per document: (`shardCol`, doc_id, n_tokens, bin) with
    * 1-based per-shard bin ids.
    *
    * Plan: one (shard) exchange to build per-shard doc arrays, then the
    * whole placement is a codegen'd per-shard array fold — the
    * placement problem is inherently sequential, and the shard IS the
    * production parallelism unit (the [[packSequences]] shard story: a
    * packer shards first, packs shards independently). Shard size
    * bounds the fold's state (≤ docs/shard bins); a mega-shard's
    * placement cost is the operator's honest serial core, not a shuffle
    * artifact.
    */
  def packBestFit(docs: DataFrame, idCol: String, lenExpr: Column,
                  capacity: Long, shardCol: String): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    packArrays(docs, idCol, lenExpr, shardCol, decreasing = true)
      .select(col("_shard").as(shardCol), explode(zip_with(
        col("_docs"), bestFitState(col("_docs"), capacity).getField("bins"),
        (d, b) => struct(d.getField("id").as("doc_id"),
          d.getField("len").as("n_tokens"), b.as("bin")))).as("p"))
      .select(col(shardCol), col("p.doc_id").as("doc_id"),
        col("p.n_tokens").as("n_tokens"), col("p.bin").as("bin"))
  }

  /** The waste ledger that justifies [[packBestFit]]: the same best-fit
    * fold run under both placement orders — `arrival` (id order, the
    * naive streaming packer) and `bestfit` (length-desc, BFD) — rolled
    * up corpus-wide: bins opened, tokens packed, empty cells left
    * (Σ max(capacity − load, 0) per bin), and the fill fraction. BFD's
    * waste ≤ arrival's on every tested corpus (asserted in the spec;
    * classic bin-packing behavior, FFD/BFD ≈ 11/9·OPT vs FF ≈ 1.7·OPT).
    * Integer sums; fill_frac is one division of exact integers.
    */
  def packWaste(docs: DataFrame, idCol: String, lenExpr: Column,
                capacity: Long, shardCol: String): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    def side(strategy: String, decreasing: Boolean): DataFrame =
      packArrays(docs, idCol, lenExpr, shardCol, decreasing)
        .select(bestFitState(col("_docs"), capacity).getField("loads").as("_loads"))
        .select(size(col("_loads")).cast("long").as("_nb"),
          aggregate(col("_loads"), lit(0L), (a, l) => a + l).as("_tot"),
          aggregate(col("_loads"), lit(0L),
            (a, l) => a + greatest(lit(capacity) - l, lit(0L))).as("_waste"))
        .agg(sum(col("_nb")).as("n_bins"), sum(col("_tot")).as("total_tokens"),
          sum(col("_waste")).as("waste_cells"))
        .select(lit(strategy).as("strategy"), col("n_bins"), col("total_tokens"),
          col("waste_cells"),
          (col("total_tokens").cast("double")
            / (col("n_bins") * capacity).cast("double")).as("fill_frac"))
    side("arrival", decreasing = false)
      .unionByName(side("bestfit", decreasing = true))
  }

  /** Per-group winsorization: clamp a numeric signal into its group's
    * [pLo, pHi] discrete-percentile band — the outlier-conditioning pass
    * run before any mean/variance-based quality blending (a single
    * 10M-char doc otherwise owns its language's mean). Percentiles are
    * EXACT discrete order statistics: the value at rank `ceil(p·n)`
    * under value order, computed with the basis-points integer
    * arithmetic of [[graft.operators.TextAnalysis.corpusProfile]] (the
    * double form of ceil drifts a rank on unrepresentable products).
    * Adds (`p_lo`, `p_hi`, `winsorized`, `is_clamped`) to the input.
    *
    * Plan: one exchange on the group key for the rank window; the
    * two-value-per-group band table broadcasts back. A mega-group
    * serializes its sort — at that scale swap the window for the
    * quantile-sketch bound ([[graft.operators.TextAnalysis]]'s histogram
    * sketch) and accept approximate edges.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    def bp(p: Double): Long = {
      val num = math.round(p * 10000)
      require(math.abs(num / 10000.0 - p) < 1e-12, s"percentile $p not expressible in basis points")
      num
    }
    val (lo, hi) = (bp(pLo), bp(pHi))
    val w = Window.partitionBy(col("_g"))
    val band = df
      .select(col(groupCol).as("_g"), col(valueCol).cast("long").as("_v"))
      .withColumn("_rn", row_number().over(w.orderBy(col("_v"))))
      .withColumn("_cnt", count(lit(1)).over(w))
      .groupBy(col("_g"))
      .agg(
        max(when(col("_rn") === expr(s"greatest(1L, (_cnt * ${lo}L + 9999L) div 10000L)"), col("_v"))).as("p_lo"),
        max(when(col("_rn") === expr(s"greatest(1L, (_cnt * ${hi}L + 9999L) div 10000L)"), col("_v"))).as("p_hi"))
    df.join(broadcast(band), df(groupCol) === band("_g"))
      .drop("_g")
      .withColumn("winsorized",
        least(greatest(col(valueCol).cast("long"), col("p_lo")), col("p_hi")))
      .withColumn("is_clamped", col("winsorized") =!= col(valueCol).cast("long"))
  }

  /** Data-echo epoch planning: given a token budget (as a percentage of
    * the corpus) and target mixture weights, compute each stratum's
    * REPEAT factor — how many passes over its data the training run
    * schedules. The data-constrained-scaling recipe (Muennighoff et al.
    * 2023: repeating up to ~4 epochs is nearly as good as fresh data;
    * beyond that returns collapse) as a query: small high-weight
    * sources repeat, oversized sources subsample (factor < 1), and the
    * cap records where the 4-epoch cliff truncates the plan.
    *
    * All arithmetic on the 2^-10 integer grid with fixed division
    * order — replayable bit-for-bit. Plan: one partial aggregate per
    * stratum, one 1-row total cross-joined back; the corpus is scanned
    * once and nothing larger than the stratum table moves.
    *
    * `repeat_q10 = min(capQ10, target·1024 div tokens)`;
    * `epochs = ceil(repeat_q10 / 1024)` is the pass count the loader
    * schedules; `planned_tokens` the resulting contribution.
    */
  def epochMixture(docs: DataFrame, stratumCol: String, tokensCol: Column,
                   weightsPct: Map[String, Int], budgetPct: Int = 150,
                   capQ10: Long = 4096L): DataFrame = {
    require(budgetPct >= 1, s"budgetPct must be >= 1, got $budgetPct")
    require(capQ10 >= 1L, s"capQ10 must be >= 1, got $capQ10")
    require(weightsPct.values.sum == 100,
      s"mixture weights must sum to 100, got ${weightsPct.values.sum}")
    val wExpr = weightsPct.foldLeft(lit(0L)) { case (acc, (k, v)) =>
      when(col("stratum") === k, lit(v.toLong)).otherwise(acc)
    }
    val per = docs.groupBy(col(stratumCol).as("stratum"))
      .agg(sum(tokensCol.cast("long")).as("n_tokens"))
    val total = per.agg(sum(col("n_tokens")).as("total_tokens"))
    per.crossJoin(total)
      .withColumn("weight_pct", wExpr)
      .withColumn("budget", expr(s"(total_tokens * $budgetPct) div 100"))
      .withColumn("target_tokens", expr("(budget * weight_pct) div 100"))
      .withColumn("repeat_q10",
        least(lit(capQ10), expr("(target_tokens * 1024) div n_tokens")))
      .select(
        col("stratum"), col("n_tokens"), col("weight_pct"), col("target_tokens"),
        col("repeat_q10"),
        expr("(repeat_q10 + 1023) div 1024").cast("int").as("epochs"),
        expr("(n_tokens * repeat_q10) div 1024").as("planned_tokens"),
        (col("repeat_q10") === capQ10).as("capped"))
  }

  /** 2-D maximization skyline (Pareto front): the rows of `points` no
    * other row dominates, where `b` dominates `a` iff b.x ≥ a.x and
    * b.y ≥ a.y with at least one strict — the quality/size frontier
    * view of a corpus before a budget threshold is chosen.
    *
    * `points` must be DISTINCT on (xCol, yCol) (the callers aggregate
    * the corpus down to distinct points first — that aggregate, bounded
    * by the value-domain cardinality and not the corpus, is the only
    * full-data pass). The skyline itself is one running-max window over
    * the points ordered (x desc, y desc): every preceding row has x ≥
    * current, so `preceding-max(y) ≥ current y` exhibits a dominator
    * (distinctness turns the ≥ into a strict edge somewhere), and
    * conversely the x-descending sweep meets any dominator before its
    * victim. Single-partition over the POINT table only — fine up to
    * millions of distinct points; shard by x-range with per-shard
    * carry-in maxima beyond that.
    */
  def skyline(points: DataFrame, xCol: String, yCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(xCol).desc, col(yCol).desc)
      .rowsBetween(Long.MinValue, -1)
    points.withColumn("_pm", max(col(yCol)).over(w))
      .where(col("_pm").isNull || col("_pm") < col(yCol))
      .drop("_pm")
  }

  /** Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    * traversal — the diversity-maximizing data-selection step: pick the
    * k most mutually-distant examples as a coverage coreset; the same
    * traversal seeds k-means++-style inits and curriculum anchor sets).
    * Start from the lowest-id vector, then k−1 times add the point
    * farthest from every chosen center (max of running min-distance,
    * ties to the lowest id). The selected radius sequence is the
    * 2-approximation certificate: round r's radius bounds the optimal
    * r-center covering radius from below by half.
    *
    * Scale shape: the corpus-sized state is ONE slim table — (id,
    * quantized vector, running min-d2) — updated per round with a
    * map-local `least(d2, d2_to_new_center)` against the single
    * broadcast-as-literal new center (64 longs), then one
    * partial-aggregated argmax. Nothing joins the corpus to the corpus;
    * per-round driver traffic is one (id, d2) row + one 64-long vector,
    * the bounded-collect class (1-row watermark, BPE argmax). Rounds
    * follow [[Materialize.cutLoop]]. Distances live on the same exact
    * integer grid as [[Similarity.lloydKMeans]] (floor(x·2²⁰), int64
    * squared distance), so every round replays bit-for-bit in SQL.
    *
    * Returns (`sel_round`, `center_id`, `radius_fp`): the selection
    * order and the covering radius at which each center was chosen
    * (round 0 seeds with radius 0).
    */
  /** Greedy facility-location (submodular coverage) selection — the
    * OTHER canonical data-selection objective next to [[kCenterSelect]]:
    * where k-center maximizes mutual DISTANCE (diversity),
    * facility-location maximizes Σ_points max_{c∈S} sim⁺(p, c) —
    * COVERAGE: every corpus point should have some selected example
    * near it (the objective behind coreset papers like CRAIG and the
    * classic exemplar-selection literature; the 1−1/e greedy guarantee
    * is what makes the greedy loop principled). Similarity is the
    * ReLU'd exact grid dot, so all gains are exact int64 sums.
    *
    * The candidate POOL is the caller's bounded pre-selection (here's
    * the scale contract: pool ≤ dozens, collected once to the driver
    * and broadcast as literals — the k-means-centroid discipline),
    * while the CORPUS side stays fully distributed: each round is ONE
    * map-local pass computing every remaining candidate's marginal
    * gain Σ max(0, sim⁺ − coverage) as parallel aggregate columns,
    * a one-row collect, and a map-local coverage update against the
    * chosen literal. Rounds follow [[Materialize.cutLoop]].
    *
    * Returns (`sel_round`, `center_id`, `gain_fp`) — the greedy order
    * with each pick's marginal coverage gain (the submodularity
    * certificate: gains must be non-increasing).
    */
  def facilitySelect(points: DataFrame, pool: DataFrame, vecCol: String, idCol: String,
                     k: Int, scale: Long = 1L << 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = points.sparkSession
    def quant(df: DataFrame) = df.select(col(idCol).cast("long").as("_pid"),
      transform(col(vecCol), x => floor(x.cast("double") * scale).cast("long")).as("qv"))
    val qpool: Array[(Long, Seq[Long])] = quant(pool).orderBy(col("_pid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    require(qpool.nonEmpty, "pool must be non-empty")
    // duplicate candidate ids would mint duplicate _d$cid column names
    // and every col(s"_d$cid") below would throw an ambiguous-reference
    // AnalysisException mid-greedy — fail loudly at the contract edge
    require(qpool.map(_._1).distinct.length == qpool.length,
      s"pool ids must be distinct: ${qpool.length} rows, " +
        s"${qpool.map(_._1).distinct.length} distinct ids")
    def dotTo(vec: Seq[Long]): Column =
      aggregate(zip_with(col("qv"), typedLit(vec), (a, b) => a * b), lit(0L), (acc, x) => acc + x)
    // ONE corpus pass computes every candidate's ReLU'd dot as a scalar
    // column (pool is bounded by contract, so the width is bounded);
    // after that the greedy loop never touches a vector again — round
    // r's marginal gains are Σ max(dot_c − cov, 0) with the running
    // coverage cov = greatest(0, chosen dots) expanded as an EXPRESSION
    // over the chosen columns. The r13 form re-dotted the corpus
    // against every remaining candidate each round AND checkpointed a
    // corpus-sized (qv, cov) table per round (2k job waves, k vector
    // re-scans: 5.1 s at sf0.1 → ~1.3 s). Gains are identical int64
    // arithmetic: cov after choosing c₁..cᵣ IS max(0, max dots) — the
    // unrolled update recurrence.
    val dotCols = qpool.map { case (cid, vec) =>
      greatest(dotTo(vec), lit(0L)).as(s"_d$cid")
    }
    val cur = Materialize.cutEager(quant(points).select(dotCols.toIndexedSeq: _*))
    val remaining = scala.collection.mutable.LinkedHashMap(qpool.toSeq: _*)
    val chosen = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    for (r <- 1 to math.min(k, qpool.length)) {
      val cov =
        if (chosen.isEmpty) lit(0L)
        else greatest(lit(0L) +: chosen.toSeq.map { case (_, cid, _) => col(s"_d$cid") }: _*)
      val gainCols = remaining.keys.toSeq.map { cid =>
        sum(greatest(col(s"_d$cid") - cov, lit(0L))).as(s"_g$cid")
      }
      val row = cur.agg(gainCols.head, gainCols.tail: _*).collect().head
      val gains = remaining.keys.toSeq.zipWithIndex
        .map { case (cid, i) => (cid, row.getLong(i)) }
      val (bestId, bestGain) = gains.minBy { case (cid, g) => (-g, cid) }
      chosen += ((r, bestId, bestGain))
      remaining.remove(bestId)
    }
    Materialize.release(cur)
    spark.createDataFrame(chosen.toSeq)
      .toDF("sel_round", "center_id", "gain_fp")
  }

  def kCenterSelect(embs: DataFrame, vecCol: String, idCol: String,
                    k: Int = 8, scale: Long = 1L << 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = embs.sparkSession
    val q = Materialize.cutEager(embs.select(col(idCol).as("_vid"),
      transform(col(vecCol), x => floor(x.cast("double") * scale).cast("long")).as("qv")))
    def d2To(center: Seq[Long]): Column =
      aggregate(zip_with(col("qv"), typedLit(center), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    val first = q.orderBy(col("_vid")).limit(1).collect().head
    val firstId = first.getLong(0)
    var centerQv: Seq[Long] = first.getSeq[Long](1)
    val chosen = scala.collection.mutable.ArrayBuffer((0, firstId, 0L))
    var md = Materialize.cutLoop(
      q.select(col("_vid"), col("qv"), d2To(centerQv).as("_d2")), None)
    for (r <- 1 until k) {
      // bounded 1-row argmax: farthest point from the chosen set
      val next = md.orderBy(col("_d2").desc, col("_vid")).limit(1).collect().head
      chosen += ((r, next.getLong(0), next.getLong(2)))
      centerQv = next.getSeq[Long](1)
      if (r < k - 1) {
        md = Materialize.cutLoop(
          md.select(col("_vid"), col("qv"),
            least(col("_d2"), d2To(centerQv)).as("_d2")),
          Some(md))
      }
    }
    Materialize.release(md)
    Materialize.release(q)
    spark.createDataFrame(chosen.toSeq)
      .toDF("sel_round", "center_id", "radius_fp")
  }

  /** Pairwise agreement matrix between selection gates — the curation
    * self-audit: two gates with Jaccard ≈ 1 are redundant (drop one),
    * ≈ 0 means they prune DIFFERENT corpora and their composition is
    * much stricter than either alone. One corpus aggregate computes
    * every per-gate and per-pair counter; the pair rows are selects
    * over that cached 1-row result. Emits
    * (gate_a, gate_b, n_both, n_a_only, n_b_only, jaccard).
    */
  def gateOverlap(flags: DataFrame, gates: Seq[String]): DataFrame = {
    require(gates.size >= 2, "need at least two gates")
    val pairs = for { i <- gates.indices; j <- (i + 1) until gates.size }
      yield (gates(i), gates(j))
    val aggs = gates.map(g => sum(when(col(g), 1L).otherwise(0L)).as(s"_n_$g")) ++
      pairs.map { case (a, b) =>
        sum(when(col(a) && col(b), 1L).otherwise(0L)).as(s"_nb_${a}_$b")
      }
    val one = Materialize.cutEager(flags.agg(aggs.head, aggs.tail: _*))
    val out = pairs.map { case (a, b) =>
      one.select(lit(a).as("gate_a"), lit(b).as("gate_b"),
        col(s"_nb_${a}_$b").as("n_both"),
        (col(s"_n_$a") - col(s"_nb_${a}_$b")).as("n_a_only"),
        (col(s"_n_$b") - col(s"_nb_${a}_$b")).as("n_b_only"))
    }.reduce(_.unionByName(_))
      .withColumn("jaccard",
        when(col("n_both") + col("n_a_only") + col("n_b_only") === 0L, lit(0.0))
          .otherwise(col("n_both").cast("double")
            / (col("n_both") + col("n_a_only") + col("n_b_only")).cast("double")))
      .orderBy(col("gate_a"), col("gate_b"))
    val pinned = Materialize.cutPinned(out)
    Materialize.release(one)
    pinned
  }

  /** Selection-pressure audit: per gate, how the kept set's mean score
    * shifts against the full corpus — the winners-curse check before
    * trusting any post-selection metric (`scoreCol` must be
    * integer-typed so the sums are exact; the means are single IEEE
    * divisions and the shift one subtraction). Emits
    * (gate, n_total, n_kept, mean_all, mean_kept, shift).
    */
  def gateShift(flags: DataFrame, gates: Seq[String], scoreCol: String): DataFrame = {
    require(gates.nonEmpty, "need at least one gate")
    val aggs = Seq(count(lit(1)).as("_n"), sum(col(scoreCol)).as("_s")) ++
      gates.flatMap(g => Seq(
        sum(when(col(g), 1L).otherwise(0L)).as(s"_n_$g"),
        sum(when(col(g), col(scoreCol)).otherwise(0L)).as(s"_s_$g")))
    val one = Materialize.cutEager(flags.agg(aggs.head, aggs.tail: _*))
    val out = gates.map { g =>
      one.select(lit(g).as("gate"), col("_n").as("n_total"),
        col(s"_n_$g").as("n_kept"),
        (col("_s").cast("double") / col("_n").cast("double")).as("mean_all"),
        when(col(s"_n_$g") === 0L, lit(null).cast("double"))
          .otherwise(col(s"_s_$g").cast("double") / col(s"_n_$g").cast("double"))
          .as("mean_kept"))
    }.reduce(_.unionByName(_))
      .withColumn("shift", col("mean_kept") - col("mean_all"))
      .orderBy(col("gate"))
    val pinned = Materialize.cutPinned(out)
    Materialize.release(one)
    pinned
  }

  /** Leave-one-source-out ablation of a corpus-mean metric — the
    * cheapest source-attribution signal (the full Shapley needs 2^k
    * retrains; LOO on a DECOMPOSABLE metric needs one aggregate):
    * mean-without-source = (S − s_i)/(N − n_i) from exact integer
    * sums, delta against the global mean. Emits (`sourceCol`, n_docs,
    * mean_all, mean_without, delta); single-source corpora yield null.
    *
    * Plan: one map-side-combined source aggregate + a 1-row broadcast
    * total — source count rows, never the corpus, after the one scan.
    */
  def looSourceAblation(docs: DataFrame, sourceCol: String,
                        scoreCol: String): DataFrame = {
    val per = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"), sum(col(scoreCol).cast("long")).as("_s"))
      .materialized // totals reuse the source aggregate: one scan
    val tot = per.agg(sum(col("n_docs")).as("_n"), sum(col("_s")).as("_st"))
    per.crossJoin(broadcast(tot))
      .select(col(sourceCol), col("n_docs"),
        (col("_st").cast("double") / col("_n").cast("double")).as("mean_all"),
        when(col("_n") === col("n_docs"), lit(null).cast("double"))
          .otherwise((col("_st") - col("_s")).cast("double")
            / (col("_n") - col("n_docs")).cast("double")).as("mean_without"))
      .withColumn("delta", col("mean_without") - col("mean_all"))
      .orderBy(col(sourceCol))
  }
}
