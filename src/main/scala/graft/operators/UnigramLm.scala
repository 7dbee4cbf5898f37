package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer training (Kudo 2018, "Subword
  * Regularization" — the SentencePiece unigram model): the production
  * alternative to [[Bpe]] and the other half of the tokenizer-training
  * family. Where BPE grows a vocabulary bottom-up by merging, the
  * unigram model starts from an OVER-complete seed vocabulary of
  * frequent substrings and alternates (a) Viterbi-segmenting the corpus
  * under the current piece costs with (b) re-estimating costs from the
  * observed piece usage, pruning the least-used pieces between rounds —
  * hard-EM (Viterbi-EM), the deterministic variant of Kudo's
  * forward-backward E-step (soft expectations have no exact integer
  * replay; the hard assignment is itself a documented EM family member
  * and keeps every count an int64).
  *
  * Exactness: piece costs ride the established NLL grid —
  * `floor(-ln(cnt/total) · 2⁴⁰)` as int64 (the vocab-NLL /
  * Kneser–Ney precedent; the ln is the one accepted libm evaluation,
  * every comparison after it is integer) — so the Viterbi lattice DP is
  * an all-integer shortest path: cost[j] = min over pieces
  * word[i..j] of cost[i−1] + cfp(piece). Ties break by LONGEST piece,
  * then smallest start — a total order the oracle replays. Single
  * characters are always retained, so every word is segmentable; the
  * round-2 re-estimate adds +1 smoothing so pruned-round survivors
  * with zero Viterbi usage keep a finite cost.
  *
  * Plan at 100 TB: the corpus is touched ONCE — the whitespace
  * word-frequency aggregate (the same map-side-combined exchange a
  * tokenizer trainer always pays). Everything after runs on the
  * DISTINCT-WORD table: seed-substring explode (≤ maxPieceLen·|word|
  * pieces per word), broadcast joins of the ≤vocab-sized cost table,
  * and the lattice DP as codegen'd array folds (`aggregate` over the
  * per-word edge list — no UDF, no per-row JVM dispatch). k EM rounds
  * = k word-table passes, never k corpus passes; encoding a corpus
  * joins each document's words against the tiny (word → segmentation)
  * table exactly like [[Bpe.encodeCounts]].
  */
object UnigramLm {

  /** The NLL fixed-point grid (2⁴⁰), shared with the LM rows. */
  val Grid: Double = 1099511627776.0

  /** Whitespace word counts — the ONE corpus-sized pass. */
  private def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))

  /** All (start, len, piece) substrings of `word` up to `pieceLen`. */
  private[operators] def piecesOf(word: Column, n: Column, pieceLen: Int): Column =
    flatten(transform(sequence(lit(1), n), i =>
      transform(sequence(lit(1), least(lit(pieceLen), n - i + 1)), l =>
        struct(i.as("i"), l.as("l"), word.substr(i, l).as("piece")))))

  /** Seed vocabulary: every single character plus the `seedMulti` most
    * frequent multi-character substrings (substring occurrences
    * weighted by word frequency; ties break piece-ascending). Emits
    * (piece, cnt).
    */
  private def seedVocab(words: DataFrame, pieceLen: Int, seedMulti: Int): DataFrame = {
    val sub = words
      .select(col("wcnt"), explode(
        piecesOf(col("word"), length(col("word")), pieceLen)).as("p"))
      .groupBy(col("p.piece").as("piece"))
      .agg(sum(col("wcnt")).as("cnt"))
    val chars = sub.where(length(col("piece")) === 1)
    val multi = sub.where(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece")).limit(seedMulti)
    chars.unionByName(multi)
  }

  /** (piece, cnt) → (piece, cfp) on the 2⁴⁰ NLL grid. */
  private def pieceCosts(vocab: DataFrame): DataFrame = {
    val total = vocab.agg(sum(col("cnt")).as("_t"))
    vocab.crossJoin(broadcast(total))
      .select(col("piece"),
        floor(-log(col("cnt").cast("double") / col("_t").cast("double")) * Grid)
          .cast("long").as("cfp"))
  }

  /** Viterbi-segment every word against `costs` (piece, cfp): exact
    * integer shortest path over the per-word piece lattice, then a
    * backward walk re-picking each step's argmin (ties: longest piece)
    * to emit the segmentation. The DP runs as the native
    * [[graft.plans.ViterbiSegVocab]] kernel — the cost table collects
    * to a driver map (bounded: chars + the multi budget; the k-means
    * centroid discipline) and lattice edges are substring LOOKUPS, so
    * each EM round is ONE projection over the word table. The composed
    * HOF form it replaced (the equivalence oracle in UnigramLmSpec)
    * interpreted O(n²·pieceLen) boxed lambda evals per word
    * (aggregate/filter/array_sort are CodegenFallback) AND materialized
    * the lattice as data — substring explode, broadcast cost join,
    * collect_list re-group: two extra exchanges of the ≈len·pieceLen-
    * per-word piece table per round. Together they dominated every
    * spm_* row (r14: the five-query family totalled 22.7 s at sf0.1 →
    * 8.6 s with the kernel). The corpus never appears here. Emits
    * (word, wcnt, seg).
    */
  private[operators] def viterbiSeg(words: DataFrame, costs: DataFrame,
                                    pieceLen: Int): DataFrame = {
    import org.apache.spark.sql.graft.{ColumnBridge => B}
    // bounded-class collect: the pruned vocab (all single chars + the
    // seed/keep multi budget) — the model-as-literal discipline of
    // lloydKMeans centroids and the perceptron weight array
    val costSeq = costs.select(col("piece").cast("string"), col("cfp").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val seg = B.column(graft.plans.ViterbiSegVocab(
      B.expression(col("word")), graft.plans.VocabHandle(costSeq), pieceLen))
    words.select(col("word"), col("wcnt"), seg.as("seg"))
      .where(col("seg").isNotNull)
  }

  /** Piece usage counts of a segmentation table: Σ wcnt per piece. */
  private def usageOf(seg: DataFrame): DataFrame =
    seg.select(col("wcnt"), explode(split(col("seg"), " ")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wcnt")).as("n_uses"))

  /** The 2-round hard-EM fit. Returns (final vocab with usage:
    * (piece, n_uses) — only when `withUsage`, else None, and the
    * round-2 usage pass over the word table is SKIPPED entirely
    * (guide §1.2: don't compute what the caller throws away —
    * [[tokenizeCounts]] and [[fertility]] only consume the
    * segmentation), final per-word segmentation: (word, wcnt, seg)).
    */
  private def fit(docs: DataFrame, textCol: String, pieceLen: Int,
                  seedMulti: Int, keepMulti: Int,
                  withUsage: Boolean = true): (Option[DataFrame], DataFrame) = {
    // LAZY cuts: these are pure multi-consumer reuse points with no
    // loop or self-invalidation hazard — an eager cut would add one
    // count job each (5 extra job waves per fit, pure scheduling).
    // They populate inside round 1's first action and are released
    // only after seg2/u2 are EAGERLY materialized below.
    val words = Materialize.cut(wordCounts(docs, textCol))
    val v0 = Materialize.cut(seedVocab(words, pieceLen, seedMulti))
    // round 1: segment under seed-frequency costs, count usage
    val u1 = Materialize.cut(usageOf(viterbiSeg(words, pieceCosts(v0), pieceLen)))
    // prune: keep every single char (coverage) + top keepMulti used
    // multi-char pieces (ties piece-ascending); +1-smooth the retained
    // counts so unused survivors keep a finite cost
    val chars = v0.where(length(col("piece")) === 1).select(col("piece"))
    val keep = u1.where(length(col("piece")) > 1)
      .orderBy(col("n_uses").desc, col("piece")).limit(keepMulti)
      .select(col("piece"))
    val v1 = chars.unionByName(keep)
      .join(u1, Seq("piece"), "left")
      .select(col("piece"), (coalesce(col("n_uses"), lit(0L)) + 1L).as("cnt"))
    // round 2: re-segment under the re-estimated costs. Both returned
    // tables are EAGER cuts before the intermediates are released, so
    // nothing still needs them lazily.
    val seg2 = Materialize.cutEager(viterbiSeg(words, pieceCosts(v1), pieceLen))
    val u2 = if (!withUsage) None
    else Some(Materialize.cutEager(v1.select(col("piece"))
      .join(usageOf(seg2), Seq("piece"), "left")
      .select(col("piece"), coalesce(col("n_uses"), lit(0L)).as("n_uses"))))
    Materialize.release(words)
    Materialize.release(v0)
    Materialize.release(u1)
    (u2, seg2)
  }

  /** Train the unigram tokenizer; emit the final vocabulary with its
    * round-2 Viterbi usage: (piece, piece_len, n_uses).
    */
  def train(docs: DataFrame, textCol: String, pieceLen: Int = 4,
            seedMulti: Int = 16, keepMulti: Int = 12): DataFrame = {
    val (u2opt, seg2) = fit(docs, textCol, pieceLen, seedMulti, keepMulti)
    val u2 = u2opt.get
    val out = u2.select(col("piece"),
      length(col("piece")).as("piece_len"), col("n_uses"))
    // No final pin (guide §1.2: the caller consumes `out` exactly once,
    // and u2 is already an eager cut — pinning re-materialized the
    // vocab-sized result in one extra job wave purely to allow
    // release(u2)). seg2 is released: u2's checkpoint/persist no longer
    // needs it; u2 stays alive until the caller drops the result.
    Materialize.release(seg2)
    out
  }

  /** Encode the corpus with the trained tokenizer: per document, the
    * whitespace token count and the subword count under the final
    * segmentation — the [[Bpe.encodeCounts]] shape (each distinct word
    * segmented once; documents join the tiny word→n_pieces table).
    * Emits (`idCol`, n_ws_tokens, n_spm_tokens).
    */
  def tokenizeCounts(docs: DataFrame, textCol: String, idCol: String,
                     pieceLen: Int = 4, seedMulti: Int = 16,
                     keepMulti: Int = 12): DataFrame = {
    // withUsage = false: the round-2 usage table was computed eagerly
    // (one usage-explode + join wave over the word table) and then only
    // released — the encode path consumes the SEGMENTATION alone.
    val (_, seg2) = fit(docs, textCol, pieceLen, seedMulti, keepMulti,
      withUsage = false)
    val out = docs
      .select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .join(broadcast(seg2.select(col("word"),
        size(split(col("seg"), " ")).as("n_pieces"))), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_ws_tokens"),
        sum(col("n_pieces")).cast("int").as("n_spm_tokens"))
    // No final pin: the pin re-ran the whole corpus-sized encode wave
    // just to allow release(seg2); the caller's single action now IS
    // the encode pass. seg2 (an eager cut) stays alive until the
    // caller drops the result.
    out
  }

  /** The persistable tokenizer ARTIFACT — the pruned, +1-smoothed
    * round-2 vocabulary (piece, cnt) whose NLL costs drive the final
    * segmentation: save this table to parquet once, then encode ANY
    * corpus later with [[tokenizeCountsWith]] without retraining (the
    * `Bpe.encodeCountsWith` lifecycle). Re-encoding the training corpus
    * through the round-trip reproduces [[tokenizeCounts]] bit-for-bit
    * (UnigramLmSpec pins it through parquet).
    */
  def trainVocab(docs: DataFrame, textCol: String, pieceLen: Int = 4,
                 seedMulti: Int = 16, keepMulti: Int = 12): DataFrame = {
    val words = Materialize.cut(wordCounts(docs, textCol))
    val v0 = Materialize.cut(seedVocab(words, pieceLen, seedMulti))
    val u1 = Materialize.cut(usageOf(viterbiSeg(words, pieceCosts(v0), pieceLen)))
    val chars = v0.where(length(col("piece")) === 1).select(col("piece"))
    val keep = u1.where(length(col("piece")) > 1)
      .orderBy(col("n_uses").desc, col("piece")).limit(keepMulti)
      .select(col("piece"))
    val v1 = Materialize.cutPinned(chars.unionByName(keep)
      .join(u1, Seq("piece"), "left")
      .select(col("piece"), (coalesce(col("n_uses"), lit(0L)) + 1L).as("cnt")))
    Materialize.release(words)
    Materialize.release(v0)
    Materialize.release(u1)
    v1
  }

  /** Encode against a persisted [[trainVocab]] artifact: costs rebuilt
    * from the (piece, cnt) table, the corpus' distinct words
    * Viterbi-segmented once, documents joined to the tiny
    * word→n_pieces table. Out-of-vocabulary characters (a corpus the
    * training corpus never saw) leave their words unsegmentable — such
    * words drop from the join, exactly the place a production encoder
    * adds byte fallback.
    */
  def tokenizeCountsWith(docs: DataFrame, textCol: String, idCol: String,
                         vocab: DataFrame, pieceLen: Int = 4): DataFrame = {
    val words = Materialize.cut(wordCounts(docs, textCol))
    val seg = Materialize.cutEager(viterbiSeg(words, pieceCosts(vocab), pieceLen))
    val out = docs
      .select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .join(broadcast(seg.select(col("word"),
        size(split(col("seg"), " ")).as("n_pieces"))), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_ws_tokens"),
        sum(col("n_pieces")).cast("int").as("n_spm_tokens"))
    // No final pin: the caller's single action is the encode pass.
    // `seg` is an eager cut, so `words` can be released now; seg stays
    // alive until the caller drops the result.
    Materialize.release(words)
    out
  }

  /** Vocabulary-size TUNING CURVE: the tokenizer's fertility at each
    * `keepMultis` prune budget — the measurement a vocab-size decision
    * is actually made on (bigger vocabulary → fewer pieces per word →
    * shorter sequences, at the cost of embedding-table mass).
    *
    * The fit PREFIX is shared (the `ann_ivf_sweep` sweep discipline:
    * ONE fit, each sweep point a cheap suffix): `keepMulti` enters the
    * 2-round hard-EM only at the prune step, so the corpus-sized word
    * count, the seed vocabulary, and the round-1 Viterbi/usage table
    * are IDENTICAL across sweep points and are computed ONCE — a
    * k-point sweep pays ONE corpus pass plus k (prune + round-2
    * re-segmentation) passes over the distinct-WORD table. Per point,
    * the two driver reads (vocab size, corpus totals) are
    * bounded-class collects. Each point's output is bit-identical to a
    * standalone [[fit]] at that budget (the shared tables are exactly
    * what fit would recompute). Emits (keep_multi, vocab_size,
    * n_words, n_pieces, fertility).
    */
  def vocabSweep(docs: DataFrame, textCol: String, keepMultis: Seq[Int],
                 pieceLen: Int = 4, seedMulti: Int = 16): DataFrame = {
    require(keepMultis.nonEmpty, "need at least one sweep point")
    val spark = docs.sparkSession
    import spark.implicits._
    // the shared prefix: corpus pass + seed + round-1 usage, ONCE
    val words = Materialize.cutEager(wordCounts(docs, textCol))
    val v0 = Materialize.cut(seedVocab(words, pieceLen, seedMulti))
    val u1 = Materialize.cutEager(usageOf(viterbiSeg(words, pieceCosts(v0), pieceLen)))
    val chars = v0.where(length(col("piece")) === 1).select(col("piece"))
    val rows = keepMultis.map { km =>
      // per-point suffix: prune to km + round-2 re-segment (word table)
      val keep = u1.where(length(col("piece")) > 1)
        .orderBy(col("n_uses").desc, col("piece")).limit(km)
        .select(col("piece"))
      val v1 = Materialize.cutEager(chars.unionByName(keep)
        .join(u1, Seq("piece"), "left")
        .select(col("piece"), (coalesce(col("n_uses"), lit(0L)) + 1L).as("cnt")))
      val seg2 = viterbiSeg(words, pieceCosts(v1), pieceLen)
      val vocabSize = v1.count()
      val Array((nWords, nPieces)) = seg2.agg(
        sum(col("wcnt")),
        sum(col("wcnt") * size(split(col("seg"), " ")).cast("long")))
        .as[(Long, Long)].collect()
      Materialize.release(v1)
      (km, vocabSize, nWords, nPieces, nPieces.toDouble / nWords.toDouble)
    }
    Materialize.release(words)
    Materialize.release(v0)
    Materialize.release(u1)
    spark.createDataset(rows)
      .toDF("keep_multi", "vocab_size", "n_words", "n_pieces", "fertility")
      .orderBy(col("keep_multi"))
  }

  /** Tokenizer fertility audit per corpus group (language/source): the
    * number every tokenizer-vocab decision is judged by — subword
    * pieces per whitespace word (fertility) and characters per piece
    * (compression). Integer sums; the two displayed ratios are single
    * IEEE divisions. Emits (`groupCol`, n_words, n_pieces, n_chars,
    * fertility, chars_per_piece).
    */
  def fertility(docs: DataFrame, textCol: String, groupCol: String,
                pieceLen: Int = 4, seedMulti: Int = 16,
                keepMulti: Int = 12): DataFrame = {
    // withUsage = false + no final pin: same rationale as
    // [[tokenizeCounts]] — only the segmentation is consumed, and the
    // caller's single action is the audit pass itself.
    val (_, seg2) = fit(docs, textCol, pieceLen, seedMulti, keepMulti,
      withUsage = false)
    val np = seg2.select(col("word"),
      size(split(col("seg"), " ")).as("_np"), length(col("word")).as("_nc"))
    val out = docs
      .select(col(groupCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .join(broadcast(np), Seq("word"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_words"), sum(col("_np")).as("n_pieces"),
        sum(col("_nc")).as("n_chars"))
      .select(col(groupCol), col("n_words"), col("n_pieces"), col("n_chars"),
        (col("n_pieces").cast("double") / col("n_words").cast("double")).as("fertility"),
        (col("n_chars").cast("double") / col("n_pieces").cast("double")).as("chars_per_piece"))
    out
  }
}
