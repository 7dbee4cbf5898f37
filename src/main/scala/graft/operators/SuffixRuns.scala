package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact shared-substring (duplicate-run) discovery — the exact path of
  * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
  * Better"), whose reference implementation builds a monolithic suffix
  * array over the concatenated corpus. A global suffix array is the
  * wrong primitive on a cluster (one giant sort coupling every
  * document); the same answer falls out of BINARY-LIFTED window
  * fingerprints, which shard perfectly:
  *
  *   1. per document, hash every `minRun`-token window, then double:
  *      h_{2w}(p) = md5(h_w(p) || h_w(p+w)) — every level is a per-row
  *      array transform, NO join, NO shuffle (the suffix-array
  *      prefix-doubling recurrence, kept document-local);
  *   2. explode (level, hash, pos) and self-join on (level, hash) with
  *      doc_a < doc_b — matches at level w are shared runs ≥ w tokens,
  *      so the per-pair MAX matching level w* brackets the longest
  *      shared run L* ∈ [w*, 2w*) (any run ≥ 2w* would have matched
  *      the next level);
  *   3. anchors at w* collapse per maximal CONSECUTIVE position group
  *      on each (pair, pos_a − pos_b) diagonal (one island per run —
  *      distinct runs on one diagonal are separated by a position
  *      gap), then each surviving anchor extends EXACTLY over the two
  *      token arrays (common-prefix folds left and right of the
  *      window) — the longest run contains a w*-window, so max over
  *      extended anchors IS L*, exactly.
  *
  * Exactness: extension compares raw tokens; the only hash use is
  * anchor equality (full 128-bit md5 hex — a collision is 2⁻¹²⁸ and
  * the oracle computes truth with no hashes at all, so a collision
  * would surface as a mismatch).
  *
  * Plan at 100 TB: level hashes are map-side per-document work; the
  * only corpus-sized exchanges are the per-level hash equi-joins, and
  * those shuffle (hash, pos) pairs, never text. Candidate volume is
  * governed by `minRun` exactly as in Lee et al. (50-token threshold
  * in the paper): random text shares no `minRun`-token window, so the
  * join output is the true duplicate-run set plus nothing. Degenerate
  * periodic text (the same window repeating INSIDE one document)
  * inflates anchors quadratically in the repeat count; the diagonal
  * collapse bounds the extension stage to one row per (pair, run), and
  * a production run would additionally cap per-(level,hash) bucket
  * width like the LSH bands do.
  */
object SuffixRuns {

  private def md5h(c: Column): Column = md5(c.cast("string"))

  /** For every unordered document pair sharing an exact run of at least
    * `minRun` tokens, the exact length (in tokens) of their LONGEST
    * shared run. Emits (doc_a, doc_b, run_len).
    *
    * `levels` window sizes are minRun·2^j for j = 0..levels−1; the top
    * level only brackets (the math above never needs the top level to
    * exceed the document length).
    */
  def sharedRuns(docs: DataFrame, textCol: String, idCol: String,
                 minRun: Int = 8, levels: Int = 4): DataFrame = {
    require(minRun >= 2, s"minRun must be >= 2, got $minRun")
    require(levels >= 1 && levels <= 8, s"levels must be in [1,8], got $levels")
    sharedRunsTok(
      docs.select(col(idCol).as("_id"),
        split(lower(trim(col(textCol))), "\\s+").as("toks")),
      minRun, levels)
  }

  /** The SCRUB half of Lee et al. 2022: per document, how many token
    * positions sit inside a cross-document shared run of ≥ `minRun`
    * tokens — the mass the dedup pass would delete. A position is in
    * such a run iff SOME shared `minRun`-window contains it (any run
    * of length L ≥ minRun is a union of its minRun-subwindows, each
    * itself shared), so no run extension is needed at all: flag the
    * windows whose fingerprint occurs in ≥ 2 distinct documents,
    * explode each flagged window to its positions, and count distinct
    * covered positions per document. Emits (doc_id, n_tokens,
    * n_covered, keep_frac).
    *
    * Plan: per-row window hashing (one level), ONE (hash)-keyed
    * aggregate to find multi-document fingerprints, a semi-join back,
    * and a per-doc distinct-position count — fingerprints and (doc,
    * pos) pairs shuffle, text never does.
    */
  def coveredPositions(tokDocs: DataFrame, minRun: Int): DataFrame = {
    require(minRun >= 2, s"minRun must be >= 2, got $minRun")
    val toks = Materialize.cutEager(
      tokDocs.select(col("_id"), col("toks"), size(col("toks")).as("n")))
    val wins = toks.select(col("_id"), col("n"),
        posexplode(when(col("n") >= minRun,
          transform(sequence(lit(1), col("n") - (minRun - 1)),
            p => md5h(array_join(slice(col("toks"), p, lit(minRun)), " "))))
          .otherwise(array().cast("array<string>"))).as(Seq("_p0", "h")))
      .select(col("_id"), (col("_p0") + 1).as("pos"), col("h"))
    val shared = wins.groupBy(col("h"))
      .agg(countDistinct(col("_id")).as("_nd"))
      .where(col("_nd") >= 2)
      .select(col("h"))
    val covered = wins.join(shared, Seq("h"), "left_semi")
      .select(col("_id"), explode(sequence(col("pos"), col("pos") + (minRun - 1))).as("_cp"))
      .groupBy(col("_id"))
      .agg(countDistinct(col("_cp")).as("n_covered"))
    val out = toks.select(col("_id").as("doc_id"), col("n").cast("long").as("n_tokens"))
      .join(covered.withColumnRenamed("_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .withColumn("keep_frac",
        (col("n_tokens") - col("n_covered")).cast("double") / col("n_tokens").cast("double"))
      .orderBy(col("doc_id"))
    val pinned = Materialize.cutPinned(out)
    Materialize.release(toks)
    pinned
  }

  /** [[sharedRuns]] over a pre-tokenized (_id, toks) table. */
  def sharedRunsTok(tokDocs: DataFrame, minRun: Int, levels: Int): DataFrame = {
    val toks = Materialize.cutEager(
      tokDocs.select(col("_id"), col("toks"), size(col("toks")).as("n")))

    // ALL level hash arrays in ONE aggregate fold — h0 over
    // minRun-token windows, h{j} by doubling h{j-1}. The fold matters:
    // separate withColumn levels would be inlined by CollapseProject,
    // and every element_at(h_prev, p) would then re-build the entire
    // previous level's transform — exponential re-evaluation (observed:
    // a 150-doc corpus ground for 12+ minutes). Inside aggregate() the
    // previous level is the STATE VALUE, evaluated exactly once per
    // step. The previous window size is recovered from the state
    // itself: w_prev = n − size(prev) + 1. Spark's sequence(1, stop)
    // DESCENDS for stop < 1, so short documents take the explicit
    // empty branch.
    def doubled(prev: Column): Column = {
      val half = col("n") - size(prev) + 1
      when(size(prev) > half,
        transform(sequence(lit(1), size(prev) - half),
          p => md5h(concat(element_at(prev, p), element_at(prev, p + half)))))
        .otherwise(array().cast("array<string>"))
    }
    val h0 = when(col("n") >= minRun,
      transform(sequence(lit(1), col("n") - (minRun - 1)),
        p => md5h(array_join(slice(col("toks"), p, lit(minRun)), " "))))
      .otherwise(array().cast("array<string>"))
    // (sequence(2, 1) would DESCEND — special-case a single level)
    val hAll =
      if (levels == 1) array(h0)
      else aggregate(sequence(lit(2), lit(levels)), array(h0),
        (acc, _) => concat(acc, array(doubled(element_at(acc, size(acc))))))

    // (w, _id, pos, h) across all levels — the only corpus-sized rows.
    // One two-step explode so hAll is evaluated once per document.
    val windows = toks.withColumn("_hall", hAll)
      .select(col("_id"), posexplode(col("_hall")).as(Seq("_j0", "_harr")))
      .select(col("_id"),
        (lit(minRun) * pow(lit(2), col("_j0")).cast("int")).as("w"),
        posexplode(col("_harr")).as(Seq("_p0", "h")))
      .select(col("w"), col("_id"), (col("_p0") + 1).as("pos"), col("h"))

    val anchors = windows.as("x").join(windows.as("y"),
        col("x.w") === col("y.w") && col("x.h") === col("y.h") &&
          col("x._id") < col("y._id"))
      .select(col("x.w").as("w"), col("x._id").as("doc_a"),
        col("y._id").as("doc_b"), col("x.pos").as("pa"), col("y.pos").as("pb"))

    // keep each pair's MAX level, then one anchor per RUN. A run's
    // anchors lie CONSECUTIVELY on one diagonal (positions
    // p .. p+L−w*), but two DISTINCT runs can share a diagonal at the
    // same max level (A='a b x d e f', B='a b y d e f', minRun=2: runs
    // 'a b' and 'd e f' both sit on diagonal 0 at w*=2) — collapsing a
    // whole diagonal to min(pa) would extend only the earlier run and
    // report 2 where the truth is 3. A gap in the anchor positions
    // means the intervening window mismatched, so the runs can never
    // merge under extension: collapse per maximal CONSECUTIVE position
    // group (gaps-and-islands — an anchor starts an island iff pa−1 is
    // absent from the diagonal's anchor set), one extension per island.
    // Extension from any anchor inside a run spans the whole run, so
    // the island's first anchor suffices.
    val maxw = anchors.groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("w")).as("w"))
    val slim = anchors.join(maxw, Seq("doc_a", "doc_b", "w"))
      .groupBy(col("doc_a"), col("doc_b"), col("w"),
        (col("pa") - col("pb")).as("_diag"))
      .agg(array_sort(collect_set(col("pa"))).as("_pas"))
      .select(col("doc_a"), col("doc_b"), col("w"), col("_diag"),
        explode(filter(col("_pas"),
          p => !array_contains(col("_pas"), p - 1))).as("pa"))
      .select(col("doc_a"), col("doc_b"), col("w"), col("pa"),
        (col("pa") - col("_diag")).as("pb"))

    // exact extension over the two token arrays
    def commonPrefix(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (u, v) => u <=> v),
        struct(lit(0).as("c"), lit(false).as("stop")),
        (st, eq) => when(st.getField("stop") || !coalesce(eq, lit(false)),
          struct(st.getField("c").as("c"), lit(true).as("stop")))
          .otherwise(struct((st.getField("c") + 1).as("c"),
            lit(false).as("stop"))))
        .getField("c")

    val ta = toks.select(col("_id").as("doc_a"), col("toks").as("_ta"),
      col("n").as("_na"))
    val tb = toks.select(col("_id").as("doc_b"), col("toks").as("_tb"),
      col("n").as("_nb"))
    val extended = slim
      .join(ta, Seq("doc_a")).join(tb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("w"),
        commonPrefix(
          reverse(slice(col("_ta"), lit(1), col("pa") - 1)),
          reverse(slice(col("_tb"), lit(1), col("pb") - 1))).as("_left"),
        commonPrefix(
          slice(col("_ta"), col("pa") + col("w"),
            greatest(col("_na") - (col("pa") + col("w")) + 1, lit(0))),
          slice(col("_tb"), col("pb") + col("w"),
            greatest(col("_nb") - (col("pb") + col("w")) + 1, lit(0)))).as("_right"))

    val out = extended
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("w") + col("_left") + col("_right")).cast("int").as("run_len"))
    val pinned = Materialize.cutPinned(out)
    Materialize.release(toks)
    pinned
  }
}
