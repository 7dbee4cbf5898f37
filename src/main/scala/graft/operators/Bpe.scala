package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge induction — learning a tokenizer's merge
  * table FROM the corpus (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units"): start from
  * characters, repeatedly count adjacent symbol pairs across the
  * (frequency-weighted) vocabulary and merge the most frequent pair.
  * The training-data side of tokenization — everything else in this
  * engine CONSUMES a tokenizer; this builds one.
  *
  * Merge application is leftmost non-overlapping STRING REWRITING of
  * the space-joined symbol sequence (`replace(s, ' a b ', ' ab ')`) —
  * deterministic and byte-identical across engines, which is what the
  * oracle replays. For a run of immediately repeating pairs the rewrite
  * consumes the shared separator (" a b a b " rewrites one pair, the
  * second pair's leading space was consumed), a documented divergence
  * from the per-symbol greedy fold on that degenerate case only. Ties
  * on pair count break (left, right) ascending — a total order.
  *
  * Scale shape: the corpus is touched ONCE (the token-frequency
  * aggregate); every merge round then runs over the VOCABULARY table
  * (pair explode → pair-count aggregate → 1-row argmax → rewrite), so
  * k merges cost k vocabulary-sized jobs, not k corpus passes. The
  * 1-row-per-round `collect` is the watermark-commit class of driver
  * action (sanctioned); each round's vocabulary goes through
  * [[Materialize.cutLoop]] — an eager TRUNCATING checkpoint that
  * releases the previous generation's blocks — so round k's plan is
  * always one rewrite deep and exactly one generation of vocab storage
  * is live (a lineage-retaining persist cut would nest k plans and pin
  * k generations: a driver OOM at real merge counts, not a slowdown).
  * BPE's sequential-merge dependency is inherent — parallelism lives
  * INSIDE each round's aggregate.
  */
object Bpe {

  /** The training loop: returns the merge list and the final vocabulary
    * (token, freq, s) with all merges applied to `s`.
    */
  private def train(docs: DataFrame, textCol: String,
                    k: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    require(k >= 1, "need k >= 1")
    var vocab = Materialize.cutLoop(docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .select(col("token"), col("freq"),
        concat(lit(" "), array_join(split(col("token"), ""), " "), lit(" ")).as("s")),
      previous = None)

    val found = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var dry = false
    while (step <= k && !dry) {
      val pairs = vocab
        .select(col("freq"), split(trim(col("s")), " ").as("l"))
        .where(size(col("l")) >= 2)
        .select(col("freq"), explode(transform(sequence(lit(0), size(col("l")) - 2),
          i => struct(element_at(col("l"), i + 1).as("a"),
            element_at(col("l"), i + 2).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("c"))
      val best: Array[Row] = pairs.orderBy(col("c").desc, col("a"), col("b")).limit(1).collect()
      if (best.isEmpty) dry = true
      else {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        found += ((step, a, b, c))
        vocab = Materialize.cutLoop(vocab
          .withColumn("s", call_function("replace",
            col("s"), lit(s" $a $b "), lit(s" $a$b "))),
          previous = Some(vocab))
        step += 1
      }
    }
    (found.result(), vocab)
  }

  /** Learn up to `k` merges. Returns (step, merge_left, merge_right,
    * pair_count) — fewer than `k` rows when the vocabulary runs dry.
    */
  def merges(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, textCol, k)._1.toDF("step", "merge_left", "merge_right", "pair_count")
  }

  /** Apply the learned tokenizer back to the corpus — the ENCODE half of
    * BPE: per document, the whitespace token count and the subword count
    * after `k` merges (the sequence-length statistic that drives context
    * budgeting and packing). The encoding runs on the VOCABULARY (each
    * distinct token encoded once); documents join their tokens to the
    * tiny encoded-vocab table — the corpus is never re-tokenized per
    * merge. Emits (`idCol`, n_ws_tokens, n_bpe_tokens).
    */
  def encodeCounts(docs: DataFrame, textCol: String, idCol: String,
                   k: Int): DataFrame = {
    val (_, vocab) = train(docs, textCol, k)
    val enc = vocab.select(col("token"),
      size(split(trim(col("s")), " ")).as("_nsym"))
    encodeWithVocab(docs, textCol, idCol, enc)
  }

  /** Encode against a PERSISTED merges artifact — the tokenizer
    * lifecycle [[encodeCounts]] lacks: train once, save the
    * [[merges]] table, encode ANY corpus later (including tokens the
    * training corpus never saw) without retraining. The merge rules
    * are applied per distinct token in `step` order with the EXACT
    * string-rewrite semantics of the training loop (literal
    * non-overlapping left-to-right `" a b " → " ab "` replace on the
    * space-separated symbol string), so re-encoding the training
    * corpus reproduces [[encodeCounts]] bit-for-bit (BpeSpec pins the
    * round-trip through parquet).
    *
    * Plan shape matches [[encodeCounts]]: the imperative merge replay
    * runs over the DISTINCT-token vocabulary only (mapPartitions — the
    * sanctioned per-partition imperative case: k sequential rewrites
    * per token have no declarative form), with the merge list as one
    * small broadcast; the corpus itself only explodes and joins the
    * tiny encoded vocab.
    */
  def encodeCountsWith(docs: DataFrame, textCol: String, idCol: String,
                       merges: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val mergeList: Array[(String, String)] = merges.orderBy(col("step"))
      .select(col("merge_left"), col("merge_right")).as[(String, String)].collect()
    val bc = spark.sparkContext.broadcast(mergeList)
    val enc = docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .distinct().as[String]
      .mapPartitions { it =>
        val ms = bc.value
        it.map { tok =>
          var s = " " + tok.split("").mkString(" ") + " "
          var i = 0
          while (i < ms.length) {
            val (l, r) = ms(i)
            s = s.replace(" " + l + " " + r + " ", " " + l + r + " ")
            i += 1
          }
          (tok, s.trim.split(" ").length)
        }
      }
      .toDF("token", "_nsym")
    encodeWithVocab(docs, textCol, idCol, enc)
  }

  private def encodeWithVocab(docs: DataFrame, textCol: String, idCol: String,
                              enc: DataFrame): DataFrame =
    docs
      .select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .join(enc, Seq("token"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_ws_tokens"),
        sum(col("_nsym")).cast("int").as("n_bpe_tokens"))
}
