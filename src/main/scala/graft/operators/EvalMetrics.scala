package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Materialize.MatOps

/** Model-evaluation analytics — the measurement side of a training-data
  * engine (every corpus intervention is judged by eval deltas, so the
  * eval aggregations live next to the curation operators): pass@k over
  * sampled generations (Chen et al. 2021, the HumanEval estimator),
  * expected calibration error (Guo et al. 2017), inter-rater agreement
  * (Cohen 1960 — the LLM-judge sanity check), and Bradley–Terry skill
  * fitting from pairwise preferences (the arena-ranking model).
  *
  * Exactness discipline: every statistic is a ratio of INTEGER
  * aggregates (binomials as factored integer products, calibration gaps
  * as one |·| integer numerator, kappa as an integer cross-moment
  * ratio), so the single IEEE division per emitted float is the only
  * float step anywhere — partition- and engine-independent.
  */
object EvalMetrics {

  /** Unbiased pass@k (Chen et al. 2021, eq. 1): per problem with n
    * samples and c correct, pass@k = 1 − C(n−c,k)/C(n,k), estimated
    * exactly via the factored form
    * Π_{i=0..k−1} (n−c−i)/(n−i) — both falling products run in
    * DECIMAL(38,0), exact for values < 10³⁸, so the envelope is
    * n ≤ 10^(38/k) (k=10 → 6 309, k=16 → 237 — comfortably past the
    * HumanEval n=200 regime that would overflow a plain int64 chain at
    * k≥7). n is DATA-dependent, so the envelope is enforced per ROW:
    * a problem whose n exceeds it raises a loud error (pointing at a
    * log-space fold) instead of ANSI-crashing mid-product or silently
    * wrapping. The n−c < k case falls out as a zero factor (pass = 1)
    * and n < k yields null. Emits one row per problem:
    * (`problemCol`, n, c, pass@k per k).
    *
    * Plan: ONE map-side-combined (problem) count aggregate — the only
    * exchange; the binomial products are codegen'd per-row arithmetic.
    */
  def passAtK(samples: DataFrame, problemCol: String, correctCol: String,
              ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= 16), s"ks in [1,16]: $ks")
    val counts = samples.groupBy(col(problemCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(correctCol), 1L).otherwise(0L)).as("c"))
    def fallingProduct(x: Column, k: Int): Column =
      (0 until k).map(i =>
        greatest(x - i, lit(0L)).cast("decimal(38,0)")).reduce(_ * _)
    // largest n with n^k < 10^38 (floor, then verified by re-powering)
    def maxN(k: Int): Long = {
      var m = math.pow(10.0, 38.0 / k).toLong
      while (BigInt(m).pow(k) >= BigInt(10).pow(38)) m -= 1
      m
    }
    ks.foldLeft(counts) { (df, k) =>
      val cap = maxN(k)
      df.withColumn(s"pass_at_$k",
        when(col("n") > cap, raise_error(concat(
          lit(s"pass@$k: n="), col("n").cast("string"),
          lit(s" exceeds the DECIMAL(38,0) falling-product envelope " +
            s"(n <= $cap for k=$k); fold the ratio in log space or per-" +
            s"problem BigInt for larger sample counts"))).cast("double"))
          .when(col("n") < k, lit(null).cast("double"))
          .otherwise(lit(1.0) -
            fallingProduct(col("n") - col("c"), k).cast("double") /
              fallingProduct(col("n"), k).cast("double")))
    }
  }

  /** Exact area under the precision–recall curve (average precision) —
    * the imbalanced-data companion of the ROC-AUC row: with rare
    * positives, ROC-AUC stays flattering while AP collapses, so
    * classifier-gated curation thresholds are picked on AP.
    * AP = Σ_{hit positions k} precision@k / P over the score-DESC
    * ranking (ties → id asc). Every precision@k lands on the 2⁴⁰ grid
    * as floor(cum_pos·2⁴⁰ / k), so the sum is exact int64 and
    * partition/engine-independent; `auprc` is one division. Emits ONE
    * row: (n, n_pos, prevalence, ap_fp, auprc).
    *
    * Plan: one rank window over the EVAL table (eval sets are bounded —
    * the roc_auc sort budget) + one aggregate.
    */
  def averagePrecision(preds: DataFrame, scoreCol: String, labelCol: String,
                       idCol: String): DataFrame = {
    val grid = 1L << 40
    val w = Window.orderBy(col(scoreCol).desc, col(idCol))
    preds
      .select(col(idCol), col(scoreCol),
        when(col(labelCol), 1L).otherwise(0L).as("_y"))
      .withColumn("_k", row_number().over(w).cast("long"))
      .withColumn("_cum", sum(col("_y")).over(w))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("n_pos"),
        sum(when(col("_y") === 1L,
          expr(s"(_cum * ${grid}L) div _k")).otherwise(0L)).as("ap_fp"))
      .select(col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("prevalence"),
        col("ap_fp"),
        (col("ap_fp").cast("double")
          / (col("n_pos") * grid).cast("double")).as("auprc"))
  }

  /** Expected calibration error over `bins` equal-width confidence bins
    * (Guo et al. 2017). `confFpCol` is the confidence on the 2²⁴ grid
    * (the md24 hash range — a production run floors real floats onto
    * it). Per bin: n, accuracy, mean confidence, |gap|; every row also
    * carries the corpus ECE, whose numerator Σ_b |c_b·2²⁴ − Σconf_b|
    * is one exact int64 sum (acc−conf on the common n·2²⁴ denominator),
    * so ECE is a single division of exact integers.
    *
    * Plan: one bins-domain aggregate + a one-row broadcast total.
    */
  def eceBins(preds: DataFrame, confFpCol: String, correctCol: String,
              bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val grid = 1L << 24
    val b = preds.select(
        expr(s"(($confFpCol * $bins) div ${grid}L)").cast("int").as("bin"),
        col(confFpCol).cast("long").as("_conf"),
        when(col(correctCol), 1L).otherwise(0L).as("_ok"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("_ok")).as("_c"),
        sum(col("_conf")).as("_sc"))
      .withColumn("_gap_num", abs(col("_c") * grid - col("_sc")))
      // the totals branch reuses the bins-domain aggregate — cut it or
      // the corpus is scanned twice (the condensed plan showed it)
      .materialized
    val tot = b.agg(sum(col("n")).as("_tn"), sum(col("_gap_num")).as("_tg"))
    b.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"),
        (col("_c").cast("double") / col("n").cast("double")).as("accuracy"),
        (col("_sc").cast("double") / (col("n") * grid).cast("double")).as("confidence"),
        (col("_gap_num").cast("double") / (col("n") * grid).cast("double")).as("gap"),
        (col("_tg").cast("double") / (col("_tn") * grid).cast("double")).as("ece"))
      .orderBy(col("bin"))
  }

  /** Murphy decomposition of the Brier score (Murphy 1973): per
    * confidence bin, the RELIABILITY term n_b(conf̄_b − ȳ_b)²/N (how
    * miscalibrated) and the RESOLUTION term n_b(ȳ_b − ȳ)²/N (how
    * discriminating), plus the global UNCERTAINTY ȳ(1−ȳ) —
    * Brier = Σrel − Σres + unc. Every term is a FIXED IEEE chain over
    * exact integer aggregates (d₁ = sc_b − G·c_b and
    * d₂ = c_b·N − C·n_b are int64-exact; each squares once in double,
    * correctly rounded identically on every engine), the
    * [[RateAnomaly.cuped]] float discipline. Emits one row per bin.
    */
  def brierDecomposition(preds: DataFrame, confFpCol: String,
                         correctCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val grid = 1L << 24
    val b = preds.select(
        expr(s"(($confFpCol * $bins) div ${grid}L)").cast("int").as("bin"),
        col(confFpCol).cast("long").as("_conf"),
        when(col(correctCol), 1L).otherwise(0L).as("_ok"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("_ok")).as("_c"),
        sum(col("_conf")).as("_sc"))
      .materialized // totals reuse: one corpus scan, not two
    val tot = b.agg(sum(col("n")).as("_nt"), sum(col("_c")).as("_ct"))
    def d(c: Column): Column = c.cast("double")
    b.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"),
        (d(col("_c")) / d(col("n"))).as("accuracy"),
        (d(col("_sc")) / (d(col("n")) * grid.toDouble)).as("confidence"),
        locally {
          val d1 = d(col("_sc") - col("_c") * grid)
          ((d1 * d1) / (d(col("n")) * d(col("_nt")) * (grid.toDouble * grid.toDouble)))
        }.as("rel_term"),
        locally {
          val d2 = d(col("_c") * col("_nt") - col("_ct") * col("n"))
          ((d2 * d2) / (d(col("n")) * d(col("_nt")) * d(col("_nt")) * d(col("_nt"))))
        }.as("res_term"),
        (d(col("_ct") * (col("_nt") - col("_ct"))) / (d(col("_nt")) * d(col("_nt"))))
          .as("uncertainty"))
      .orderBy(col("bin"))
  }

  /** Split-conformal coverage audit (Vovk; Angelopoulos & Bates 2021):
    * the calibration side's ⌈(n_cal+1)(1−α)⌉-th smallest
    * nonconformity score is the EXACT-rank threshold (row_number with
    * an id tiebreak — a pure integer order statistic), and the test
    * side's empirical coverage of {score ≤ threshold} is the audited
    * guarantee (≥ 1−α in expectation under exchangeability). Emits one
    * row: (n_cal, n_test, rank, threshold, coverage, target).
    *
    * Plan: one calibration-side window (rank), a 1-row broadcast of
    * the threshold, one test-side count aggregate.
    */
  def conformalCoverage(scored: DataFrame, scoreCol: String, idCol: String,
                        calCol: String, alphaNum: Int = 1,
                        alphaDen: Int = 10): DataFrame = {
    require(alphaNum >= 1 && alphaNum < alphaDen, "need 0 < alpha < 1")
    import org.apache.spark.sql.expressions.Window
    val cal = scored.where(col(calCol))
      .withColumn("_rk", row_number().over(
        Window.orderBy(col(scoreCol), col(idCol))))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    // rank = ceil((n_cal+1) * (1-alpha)) on integers:
    // ceil(a/b) = (a + b - 1) div b with a = (n+1)(den-num)
    val thr = cal.crossJoin(broadcast(nCal))
      .withColumn("_target_rk",
        expr(s"((n_cal + 1) * ${alphaDen - alphaNum} + $alphaDen - 1) div $alphaDen"))
      .where(col("_rk") === least(col("_target_rk"), col("n_cal")))
      .select(col("n_cal"), col("_rk").cast("long").as("rank"),
        col(scoreCol).as("threshold"))
    scored.where(!col(calCol))
      .crossJoin(broadcast(thr))
      .groupBy(col("n_cal"), col("rank"), col("threshold"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col(scoreCol) <= col("threshold"), 1L).otherwise(0L)).as("_cov"))
      .select(col("n_cal"), col("n_test"), col("rank"), col("threshold"),
        (col("_cov").cast("double") / col("n_test").cast("double")).as("coverage"),
        (lit((alphaDen - alphaNum).toDouble) / alphaDen).as("target"))
  }

  /** Isotonic (PAV) calibration over the binned reliability table via
    * the minimax closed form: ŷ_i = max_{j≤i} min_{k≥i} pooled-acc(j..k)
    * (Robertson et al. — equivalent to pool-adjacent-violators, but
    * expressible as bounded joins instead of a serial merge loop).
    * Pooled accuracies quantize to the 2⁴⁰ integer grid
    * ((Σc·2⁴⁰) div Σn), so every min/max comparison is exact and the
    * result is engine-independent; the fitted curve is nondecreasing
    * by construction. Emits (bin, n, accuracy, iso_fp, iso_accuracy).
    *
    * Plan: the bins table is domain-sized (O(bins³) segment rows —
    * 1000 at the default 10), so everything after the one corpus
    * binning aggregate is a broadcast-scale computation.
    */
  def isotonicCalibration(preds: DataFrame, confFpCol: String,
                          correctCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 64, s"bins in [2,64], got $bins")
    val grid = 1L << 24
    val b = Materialize.cutEager(preds.select(
        expr(s"(($confFpCol * $bins) div ${grid}L)").cast("int").as("bin"),
        when(col(correctCol), 1L).otherwise(0L).as("_ok"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("_ok")).as("_c")))
    // segments (j, k, q) over the OBSERVED bins in bin order
    val bj = b.select(col("bin").as("j"), col("n").as("_nj"), col("_c").as("_cj"))
    val seg = bj.join(b.select(col("bin").as("k")), col("j") <= col("k"))
      .join(b.select(col("bin").as("m"), col("n").as("_nm"), col("_c").as("_cm")),
        col("m") >= col("j") && col("m") <= col("k"))
      .groupBy(col("j"), col("k"))
      .agg(sum(col("_cm")).as("_sc"), sum(col("_nm")).as("_sn"))
      .withColumn("q", expr("(_sc * 1099511627776L) div _sn"))
    // iso_i = max_{j<=i} min_{k>=i} q(j,k)
    val iso = seg
      .join(b.select(col("bin").as("i")),
        col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("i"), col("j")).agg(min(col("q")).as("_mn"))
      .groupBy(col("i")).agg(max(col("_mn")).as("iso_fp"))
    val out = b.join(iso, col("bin") === col("i"))
      .select(col("bin"), col("n"),
        (col("_c").cast("double") / col("n").cast("double")).as("accuracy"),
        col("iso_fp"),
        (col("iso_fp").cast("double") / 1099511627776.0).as("iso_accuracy"))
      .orderBy(col("bin"))
    val pinned = Materialize.cutPinned(out)
    Materialize.release(b)
    pinned
  }

  /** Cohen's kappa between two raters (the LLM-judge agreement check):
    * κ = (N·Σdiag − Σ_k row_k·col_k) / (N² − Σ_k row_k·col_k) — the
    * po/pe form cleared to one integer numerator and denominator
    * (cross moments through DECIMAL(38,0): N²-scale products). Emits
    * one row (n, n_agree, po, pe, kappa).
    *
    * Plan: one (rating) domain aggregate per marginal + the diagonal
    * count — three map-side-combined passes over the pair table, then
    * a classes-domain join.
    */
  def cohenKappa(ratings: DataFrame, r1Col: String, r2Col: String): DataFrame = {
    val n = ratings.agg(count(lit(1)).as("n"),
      sum(when(col(r1Col) === col(r2Col), 1L).otherwise(0L)).as("n_agree"))
    val rows = ratings.groupBy(col(r1Col).as("_k")).agg(count(lit(1)).as("_r"))
    val cols = ratings.groupBy(col(r2Col).as("_k")).agg(count(lit(1)).as("_c"))
    val cross = rows.join(cols, Seq("_k"), "full_outer")
      .agg(coalesce(sum(coalesce(col("_r"), lit(0L)).cast("decimal(38,0)") *
        coalesce(col("_c"), lit(0L)).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
        .as("_rc"))
    n.crossJoin(cross).select(
      col("n"), col("n_agree"),
      (col("n_agree").cast("double") / col("n").cast("double")).as("po"),
      (col("_rc").cast("double") /
        (col("n").cast("decimal(38,0)") * col("n").cast("decimal(38,0)")).cast("double")).as("pe"),
      ((col("n").cast("decimal(38,0)") * col("n_agree").cast("decimal(38,0)") - col("_rc")).cast("double") /
        (col("n").cast("decimal(38,0)") * col("n").cast("decimal(38,0)") - col("_rc")).cast("double")).as("kappa"))
  }

  /** McNemar's test for PAIRED model comparison (the significance
    * input for "did model B actually beat model A on the same eval
    * set"): over the discordant pairs b = #(A right, B wrong) and
    * c = #(A wrong, B right), the continuity-corrected statistic
    * (max(|b−c|−1, 0))² / (b+c) — one ratio of exact integers (0 when
    * b+c = 0: no discordant evidence). Marginal accuracies ride along.
    * Emits one row (n, acc_a, acc_b, b, c, statistic).
    */
  def mcnemar(preds: DataFrame, okACol: String, okBCol: String): DataFrame = {
    val agg = preds.agg(
      count(lit(1)).as("n"),
      sum(when(col(okACol), 1L).otherwise(0L)).as("_na"),
      sum(when(col(okBCol), 1L).otherwise(0L)).as("_nb"),
      sum(when(col(okACol) && !col(okBCol), 1L).otherwise(0L)).as("b"),
      sum(when(!col(okACol) && col(okBCol), 1L).otherwise(0L)).as("c"))
    agg.select(col("n"),
      (col("_na").cast("double") / col("n").cast("double")).as("acc_a"),
      (col("_nb").cast("double") / col("n").cast("double")).as("acc_b"),
      col("b"), col("c"),
      when(col("b") + col("c") === 0L, lit(0.0))
        .otherwise({
          val d = greatest(abs(col("b") - col("c")) - 1L, lit(0L))
          (d * d).cast("double") / (col("b") + col("c")).cast("double")
        }).as("statistic"))
  }

  /** Bradley–Terry skill ratings from pairwise outcomes via the
    * minorization-maximization fixpoint (Hunter 2004), all-integer on
    * the 2²⁰ grid: per round, s_i = Σ_j (n_ij·2⁴⁰) div (P_i+P_j) and
    * P'_i = (W_i·2⁴⁰) div s_i, renormalized to Σ = K·2²⁰ by one
    * integer division (the HITS discipline) — every step replayable by
    * the oracle as unrolled CTE layers. Items with zero wins get the
    * floor rating 1 (the MM update sends them to 0, where the next
    * round's div would blow up). Emits (item, rating_fp, rating)
    * ordered best-first.
    *
    * Plan: ONE corpus pass aggregates matches into the (i, j, n_ij)
    * pair table and the per-item win vector — both bounded by the
    * ITEM DOMAIN (an arena ranks dozens of models; even the
    * item-transition fixture has ~100 items / ~5k pairs), never by
    * the match count — so they collect to the driver and the MM
    * rounds run as a pure integer fold there: ZERO cluster jobs per
    * iteration (the [[QualityClassifier.trainPerceptron]]
    * bounded-state discipline — when the loop state fits the driver,
    * fold it there and spend the cluster on the corpus-sized scan
    * only). A million-item catalog would flip back to the distributed
    * pair-table rounds; the crossover is pair-table size, documented
    * here rather than auto-detected.
    */
  def bradleyTerry(matches: DataFrame, winnerCol: String, loserCol: String,
                   iters: Int = 4): DataFrame = {
    require(iters >= 1, "need iters >= 1")
    val grid = 1L << 20
    val spark = matches.sparkSession
    import spark.implicits._
    // the ONE corpus-sized exchange: matches -> (i, j, n_ij, w_ij)
    // where w_ij counts wins of the SMALLER endpoint i (so the win
    // vector is recoverable pairwise: wins_j of the pair = n_ij - w_ij)
    val pairRows: Array[(Long, Long, Long, Long)] = matches.select(
        least(col(winnerCol), col(loserCol)).cast("long").as("i"),
        greatest(col(winnerCol), col(loserCol)).cast("long").as("j"),
        when(col(winnerCol) <= col(loserCol), 1L).otherwise(0L).as("iw"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("nij"), sum(col("iw")).as("wi_of_i"))
      .as[(Long, Long, Long, Long)].collect()
    require(pairRows.nonEmpty, "bradleyTerry: no matches")
    // Grid headroom, stated and ENFORCED (the hits() discipline): the
    // fold computes nij·2⁴⁰ and wins·2⁴⁰ in plain Long arithmetic,
    // which wraps silently off-cluster once any such count reaches
    // 2²³ (≈8.4M). Total match count bounds both (wins ≤ Σnij), so one
    // check covers every product in the loop.
    val totalMatches = pairRows.map(_._3).sum
    require(totalMatches < (1L << 23),
      s"bradleyTerry: $totalMatches total matches exceeds the 2^40-grid " +
        "headroom (counts must stay < 2^23 so count*2^40 < 2^63); widen " +
        "the fold's accumulator (Math.multiplyHigh / BigInt) first")

    val items = pairRows.flatMap { case (i, j, _, _) => Seq(i, j) }.distinct.sorted
    val k = items.length.toLong
    val idx = items.zipWithIndex.toMap
    val wins = new Array[Long](items.length)
    pairRows.foreach { case (i, j, nij, wi) =>
      wins(idx(i)) += wi
      wins(idx(j)) += nij - wi
    }
    val p = Array.fill(items.length)(grid)
    val s = new Array[Long](items.length)
    for (_ <- 1 to iters) {
      java.util.Arrays.fill(s, 0L)
      pairRows.foreach { case (i, j, nij, _) =>
        val t = (nij * 1099511627776L) / (p(idx(i)) + p(idx(j)))
        s(idx(i)) += t
        s(idx(j)) += t
      }
      var tot = 0L
      var x = 0
      val raw = new Array[Long](items.length)
      while (x < items.length) {
        raw(x) = if (wins(x) == 0L || s(x) == 0L) 1L
          else (wins(x) * 1099511627776L) / s(x)
        tot += raw(x)
        x += 1
      }
      // renorm denominator pre-shifted to the 2^20 grid so the
      // numerator praw·K stays far from int64 overflow; the ≤2^-20
      // relative truncation is part of the defined semantics and the
      // oracle replays it with the same //
      val den = math.max(tot / 1048576L, 1L)
      x = 0
      while (x < items.length) {
        p(x) = math.max(raw(x) * k / den, 1L)
        x += 1
      }
    }
    spark.createDataset(items.indices.map(x =>
        (items(x), p(x), p(x).toDouble / grid)))
      .toDF("item", "rating_fp", "rating")
      .orderBy(col("rating_fp").desc, col("item"))
  }
}
