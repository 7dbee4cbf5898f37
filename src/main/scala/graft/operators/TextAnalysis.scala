package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.NgramStats
import Materialize.MatOps

/** Text-analysis operators for LLM training-data pipelines: token
  * counting, quality scoring, language-ID heuristics, fingerprinting.
  * All pure built-in column expressions (split/regexp/aggregate) — no
  * per-row UDFs, fully codegen'd, scale-independent (per-row map work,
  * zero shuffles until the caller aggregates).
  */
object TextAnalysis {

  /** Whitespace tokens of lowered text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** BPE-ish subword count: maximal alphanumeric runs plus each single
    * non-alphanumeric char (incl. whitespace), approximating a byte-pair
    * tokenizer's token count without a vocab. One `regexp_count` — no
    * split-array allocation.
    */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-zA-Z0-9]+|[^a-zA-Z0-9]"))

  /** Per-document quality metrics as a projection. */
  def qualityMetrics(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTok = size(toks)
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    docs
      .withColumn("n_tokens", nTok)
      .withColumn("n_distinct_tokens", size(array_distinct(toks)))
      .withColumn("n_chars_text", length(t))
      .withColumn("avg_token_len",
        length(regexp_replace(t, "\\s+", "")).cast("double") / nTok.cast("double"))
      .withColumn("stopword_hits", size(filter(toks, x => x.isInCollection(stop))))
      .withColumn("stopword_ratio", col("stopword_hits").cast("double") / nTok.cast("double"))
      .withColumn("distinct_ratio", col("n_distinct_tokens").cast("double") / nTok.cast("double"))
      .withColumn("punct_count", regexp_count(t, lit("[.,!?;:]")))
      .withColumn("is_quality",
        col("n_tokens") >= 10 && col("distinct_ratio") > 0.2 && col("avg_token_len") < 15.0)
  }

  /** Gopher-style rule battery (Rae et al. 2021, §A1.1 — the named
    * filter set most production corpora start from), adapted to the
    * word-level rules that apply to whitespace text (the line-level
    * bullet/ellipsis rules need line structure this corpus lacks):
    * word count in [`minWords`, `maxWords`], mean word length in
    * [3, 10], symbol-to-word ratio (`#`/`…`) ≤ 0.1, ≥ 80% of words
    * containing an alphabetic character, ≥ 2 stopword hits. Emits one
    * boolean per rule plus the conjunction `gopher_pass` — per-rule
    * visibility is the point (a corpus failing 95% on ONE rule is a
    * tokenizer bug, not a quality cliff; the aggregate alone cannot
    * tell). Pure codegen'd per-row map work, shuffle-free.
    */
  def gopherRules(docs: DataFrame, textCol: String,
                  minWords: Int = 5, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTok = size(toks)
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    docs
      .withColumn("n_words", nTok)
      .withColumn("mean_word_len",
        length(regexp_replace(t, "\\s+", "")).cast("double") / nTok.cast("double"))
      .withColumn("symbol_ratio",
        regexp_count(t, lit("[#…]")).cast("double") / nTok.cast("double"))
      .withColumn("alpha_word_frac",
        // Latin a-z + Cyrillic U+0430-044F/U+0451 (the corpus is
        // already lowercased by tokens())
        size(filter(toks, x => x.rlike("[a-zа-яё]")))
          .cast("double") / nTok.cast("double"))
      .withColumn("stop_hits", size(filter(toks, x => x.isInCollection(stop))))
      .withColumn("r_word_count", col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_word_len", col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("r_symbols", col("symbol_ratio") <= 0.1)
      .withColumn("r_alpha", col("alpha_word_frac") >= 0.8)
      .withColumn("r_stopwords", col("stop_hits") >= 2)
      .withColumn("gopher_pass",
        col("r_word_count") && col("r_word_len") && col("r_symbols") &&
          col("r_alpha") && col("r_stopwords"))
  }

  /** C4 line/document heuristics (Raffel et al. 2020 §2.2, the filters
    * that built C4 from Common Crawl), document-grain: minimum word
    * count, no curly brace (code markers), terminal punctuation at the
    * end, and no policy boilerplate phrases ("cookie" / "javascript" —
    * C4 drops lines with either). The named-paper sibling of
    * [[gopherRules]]; real pipelines run both and keep the
    * intersection. All per-row codegen column work, shuffle-free.
    */
  def c4Rules(docs: DataFrame, textCol: String, minWords: Int = 5): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_words", size(tokens(t)))
      .withColumn("r_min_words", col("n_words") >= minWords)
      .withColumn("r_no_brace", !t.contains("{"))
      .withColumn("r_terminal", trim(t).rlike("[.!?\"]$"))
      .withColumn("r_no_policy",
        !lower(t).contains("cookie") && !lower(t).contains("javascript"))
      .withColumn("c4_pass",
        col("r_min_words") && col("r_no_brace") && col("r_terminal") && col("r_no_policy"))
  }

  /** Stopword-hit language-ID heuristic: count hits against small
    * per-language function-word lists, pick the argmax (deterministic
    * tie-break by fixed language order).
    */
  val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in"),
    "es" -> Seq("el", "la", "de", "los", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "ru" -> Seq("и", "в", "не", "на", "что", "это")
  )

  def langIdScores(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    langStopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> size(filter(toks, x => x.isInCollection(words)))
    }
  }

  /** Word n-gram occurrence statistics (single-pass native kernel):
    * struct(n_ngrams, top_count, dup_occurrences), null when the doc has
    * fewer than n tokens — see [[graft.plans.NgramStats]].
    */
  def ngramStats(text: Column, n: Int): Column =
    ExpressionUtils.column(NgramStats(ExpressionUtils.expression(text), n))

  /** Gopher-style repetition quality signals (Rae et al. 2021, §A1.1):
    * per document, the fraction of 2-/3-gram occurrences taken by the
    * single most frequent n-gram and the fraction belonging to any
    * repeated n-gram, plus token-level duplication. Pure per-row map work
    * (two kernel calls), shuffle-free at any scale; documents shorter
    * than n tokens carry null fractions. The high-`dup_2gram_frac` /
    * high-`top_3gram_frac` tail is what a training pipeline drops as
    * boilerplate/spam.
    */
  def repetitionMetrics(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    def frac(a: Column, b: Column): Column = a.cast("double") / b.cast("double")
    docs
      .withColumn("_g2", ngramStats(t, 2))
      .withColumn("_g3", ngramStats(t, 3))
      .withColumn("n_2grams", col("_g2.n_ngrams"))
      .withColumn("top_2gram_frac", frac(col("_g2.top_count"), col("_g2.n_ngrams")))
      .withColumn("dup_2gram_frac", frac(col("_g2.dup_occurrences"), col("_g2.n_ngrams")))
      .withColumn("n_3grams", col("_g3.n_ngrams"))
      .withColumn("top_3gram_frac", frac(col("_g3.top_count"), col("_g3.n_ngrams")))
      .withColumn("dup_3gram_frac", frac(col("_g3.dup_occurrences"), col("_g3.n_ngrams")))
      .withColumn("dup_token_frac",
        lit(1.0) - frac(size(array_distinct(toks)), size(toks)))
      .drop("_g2", "_g3")
  }

  /** PII detection/redaction patterns: (kind, regex, replacement).
    * Deliberately restricted to constructs with identical semantics in
    * Java regex (Spark) and RE2 (DuckDB oracle): no lookaround, no
    * backreferences, ASCII word boundaries, greedy bounded quantifiers.
    * Replacement tokens contain no digits or '@', so the chain is
    * order-independent and never re-matches its own output.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\+\\d{7,15}\\b", "<PHONE>"))

  /** Scrub PII from a text column: one `regexp_replace` per pattern —
    * per-row codegen'd map work, the shape of every at-scale scrubbing
    * pass (no UDF, no shuffle).
    */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Per-document PII hit counts (`n_<kind>` per pattern) plus the
    * redacted text — the audit output a compliance pass keeps.
    */
  def piiMetrics(docs: DataFrame, textCol: String): DataFrame = {
    val counted = piiPatterns.foldLeft(docs) { case (df, (kind, pat, _)) =>
      df.withColumn(s"n_$kind", regexp_count(col(textCol), lit(pat)))
    }
    counted.withColumn("redacted", redactPii(col(textCol)))
  }

  /** Per-stratum corpus profile — the first query every pipeline runs
    * against a new corpus: doc counts, token totals, mean/percentile
    * lengths, quality fraction, one row per stratum (language, source,
    * ...).
    *
    * Percentiles are exact DISCRETE quantiles (the value at row
    * ceil(p·n) of the stratum's sorted lengths) computed with one
    * rank window per stratum and a conditional aggregate — no
    * `collect_list` of a whole stratum into a single row (a billion-doc
    * language would OOM it) and no float interpolation (interpolated
    * quantiles like `percentile`/`quantile_cont` combine the two
    * straddling values with engine-specific arithmetic; the discrete
    * rank definition is integer-exact everywhere). The window sort is
    * the operator's one shuffle and parallelizes per stratum.
    */
  def corpusProfile(docs: DataFrame, textCol: String, stratumCol: String,
                    percentiles: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    val base = qualityMetrics(docs, textCol).select(
      col(stratumCol).as("stratum"),
      col("n_tokens").as("n_ws_tokens"),
      bpeishTokenCount(col(textCol)).as("n_bpeish"),
      col("n_chars_text"),
      col("is_quality"))
    val w = Window.partitionBy(col("stratum"))
    val ranked = base
      .withColumn("rn", row_number().over(w.orderBy(col("n_ws_tokens"))))
      .withColumn("cnt", count(lit(1)).over(w))
    val pctAggs = percentiles.map { p =>
      // ceil(cnt·p) in EXACT integer arithmetic: p as a basis-points
      // rational num/10000, rank = (cnt·num + 9999) div 10000. The double
      // form ceil(cnt * p) can round up past the true rational product
      // for non-default percentiles (e.g. p=0.29 at counts where cnt·p
      // has no exact binary representation), drifting one rank off the
      // documented "value at row ceil(p·n)" definition.
      val num = math.round(p * 10000)
      require(math.abs(num / 10000.0 - p) < 1e-12,
        s"percentile $p is not expressible in basis points")
      max(when(col("rn") === expr(s"(cnt * ${num}L + 9999L) DIV 10000L"), col("n_ws_tokens")))
        .as(s"p${(p * 100).round}_ws_tokens")
    }
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      sum(col("n_bpeish")).as("total_bpeish_tokens"),
      (sum(col("n_ws_tokens")).cast("double") / count(lit(1)).cast("double")).as("mean_ws_tokens"),
      (sum(col("n_chars_text")).cast("double") / count(lit(1)).cast("double")).as("mean_chars"),
      (sum(when(col("is_quality"), 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as("quality_frac")) ++ pctAggs
    ranked
      .groupBy(col("stratum"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** CCNet-style language-model quality score: per-document mean
    * negative log-likelihood under a corpus-trained UNIGRAM model
    * (log-perplexity; high = unusual token distribution — the filter
    * signal CCNet computes with a 5-gram KenLM, reduced to the unigram
    * LM that stays exactly verifiable). Returns
    * (`idCol`, `n_tokens`, `nll_per_token` FLOAT).
    *
    * Model: p(t) = count(t)/total over the corpus, vocabulary capped to
    * the `topK` most frequent terms (count desc, term asc tie-break);
    * out-of-vocabulary tokens take a 0.5/total floor. The fit is one
    * corpus aggregate; per-TERM nll is computed once in the tiny vocab
    * table, scored back through a broadcast join. Like
    * [[graft.operators.Retrieval.bm25TopK]], per-token contributions
    * are floored to a 2⁻⁴⁰ fixed-point grid and summed as longs —
    * associative, so deterministic under any partitioning, and the
    * float-precision output absorbs the ulp-level ln() divergence
    * between engines.
    *
    * The corpus is TOKENIZED ONCE: the token projection is checkpointed
    * and shared by the model fit and the scoring pass (the same
    * disk-for-CPU trade as [[graft.operators.Retrieval.bm25TopK]] —
    * production would train once and reuse the vocab table across runs,
    * but within one run the regex split must not run twice over 100 TB).
    * The vocab-sized `counts` aggregate is checkpointed too, so the fit
    * and the total-count stats share one materialization instead of
    * re-aggregating the corpus per consumer.
    */
  /** Token-level LCP of two arrays: a codegen'd zip_with fold (the
    * [[SuffixRuns]] common-prefix shape). zip_with pads the shorter
    * side with nulls, and null <=> value is false, so the fold stops
    * exactly at min(len) when one prompt is a prefix of the other.
    */
  private def lcpLen(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (u, v) => u <=> v),
      struct(lit(0L).as("c"), lit(false).as("stop")),
      (st, eq) => when(st.getField("stop") || !coalesce(eq, lit(false)),
        struct(st.getField("c").as("c"), lit(true).as("stop")))
        .otherwise(struct((st.getField("c") + 1L).as("c"), lit(false).as("stop"))))
      .getField("c")

  /** Prefix-cache savings profile — the serving-side measurement behind
    * radix-tree prompt caching (the "automatic prefix caching" of
    * production inference servers): if a shard's prompts were served
    * through a token-level radix cache, how many prompt tokens would
    * hit? No trie is ever built — for a prompt SET, distinct trie
    * nodes = Σ len − Σ adjacent-LCP over the LEXICOGRAPHICALLY sorted
    * prompts (the classic trie identity: every shared prefix is
    * charged once, to the sorted neighbor), so cached tokens = Σ
    * adjacent-LCP, exactly. Emits per shard: (`shardCol`, n_prompts,
    * total_tokens, cached_tokens, unique_trie_tokens, hit_frac) —
    * integer sums, one final division.
    *
    * Plan: ONE exchange on the shard key; sort + lag is a per-shard
    * window (the shard is the parallelism AND state unit, the
    * [[CorpusSelection.packBestFit]] story); the LCP is a codegen'd
    * array fold. Array ORDER is element-wise binary UTF-8 with
    * shorter-prefix-first on both engines — the oracle row proves the
    * collation agreement continuously.
    */
  def prefixCacheProfile(docs: DataFrame, textCol: String, idCol: String,
                         shardCol: String): DataFrame = {
    val w = Window.partitionBy(col("_shard")).orderBy(col("_toks"), col("_id"))
    docs.select(col(shardCol).as("_shard"), col(idCol).as("_id"),
        tokens(col(textCol)).as("_toks"))
      .withColumn("_prev", lag(col("_toks"), 1).over(w))
      .select(col("_shard"), size(col("_toks")).cast("long").as("_n"),
        when(col("_prev").isNull, lit(0L))
          .otherwise(lcpLen(col("_toks"), col("_prev"))).as("_lcp"))
      .groupBy(col("_shard"))
      .agg(count(lit(1)).as("n_prompts"), sum(col("_n")).as("total_tokens"),
        sum(col("_lcp")).as("cached_tokens"))
      .select(col("_shard").as(shardCol), col("n_prompts"), col("total_tokens"),
        col("cached_tokens"),
        (col("total_tokens") - col("cached_tokens")).as("unique_trie_tokens"),
        (col("cached_tokens").cast("double")
          / col("total_tokens").cast("double")).as("hit_frac"))
      .orderBy(col(shardCol))
  }

  /** Data-scaling curve — the "does more data still help" measurement a
    * corpus-growth decision is made on (the unigram-LM analog of a
    * Chinchilla data-scaling fit): documents land in 8 md5 buckets;
    * unigram LMs trained on nested subsets (buckets <1, <2, <4 — 1/8,
    * 1/4, 1/2 of the corpus) are each evaluated on the FIXED held-out
    * bucket 7, +1-smoothed over the shared corpus vocabulary so the
    * three NLLs are comparable. Emits one row per subset: (k_buckets,
    * n_train_tokens, n_eval_tokens, nll_fp, nll_per_token, slope) —
    * slope is the log-log OLS slope over the three points (the
    * data-scaling exponent; ~0 means the curve has flattened), FLOAT
    * because its ln()/division chain is the order-sensitive float
    * discipline of the entropy rows.
    *
    * Plan: the corpus is tokenized ONCE into a (term, bucket-flag
    * counts) vocabulary table (one map-side-combined aggregate — the
    * spm_vocab_sweep sharing discipline: all three subset models AND
    * the eval counts come from that single pass); the three NLL sums
    * are parallel aggregate columns over the vocab table against a
    * one-row broadcast total; the 3-point OLS folds on the driver in
    * pinned k order (bounded-class collect of ONE row).
    */
  def scalingCurve(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val scale = 1099511627776.0 // 2^40
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = docs.select(
      (QualityClassifier.md24(col(idCol).cast("string")) % 8).as("b"),
      explode(tokens(col(textCol))).as("term"))
    val tc = tok.groupBy(col("term")).agg(
      sum(when(col("b") < 1, 1L).otherwise(0L)).as("c1"),
      sum(when(col("b") < 2, 1L).otherwise(0L)).as("c2"),
      sum(when(col("b") < 4, 1L).otherwise(0L)).as("c4"),
      sum(when(col("b") === 7, 1L).otherwise(0L)).as("ce"))
      .materialized
    val tot = tc.agg(sum(col("c1")).as("t1"), sum(col("c2")).as("t2"),
      sum(col("c4")).as("t4"), sum(col("ce")).as("te"),
      count(lit(1)).as("v"))
    def nllOf(c: String, t: String): Column =
      sum(col("ce") * floor(-log((col(c) + 1).cast("double")
        / (col(t) + col("v")).cast("double")) * scale).cast("long")).as(s"nll_$c")
    // bounded-class driver read: ONE pivoted row (3 points + totals)
    val Array(r) = tc.crossJoin(broadcast(tot))
      .agg(nllOf("c1", "t1"), nllOf("c2", "t2"), nllOf("c4", "t4"),
        max(col("t1")).as("t1"), max(col("t2")).as("t2"),
        max(col("t4")).as("t4"), max(col("te")).as("te"))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    val (nll, nTrain) = (Array(r._1, r._2, r._3), Array(r._4, r._5, r._6))
    val te = r._7
    val den = (te * (1L << 40)).toDouble
    // 3-point log-log OLS, every float step in pinned k order (the
    // oracle replays the identical parenthesization)
    val x = nTrain.map(n => math.log(n.toDouble))
    val y = nll.map(f => math.log(f.toDouble / den))
    val sx = (x(0) + x(1)) + x(2)
    val sy = (y(0) + y(1)) + y(2)
    val sxy = (x(0) * y(0) + x(1) * y(1)) + x(2) * y(2)
    val sxx = (x(0) * x(0) + x(1) * x(1)) + x(2) * x(2)
    val slope = ((3.0 * sxy - sx * sy) / (3.0 * sxx - sx * sx)).toFloat
    spark.createDataset(Seq(1, 2, 4).zipWithIndex.map { case (k, i) =>
        (k, nTrain(i), te, nll(i), nll(i).toDouble / den, slope)
      })
      .toDF("k_buckets", "n_train_tokens", "n_eval_tokens", "nll_fp",
        "nll_per_token", "slope")
      .orderBy(col("k_buckets"))
  }

  def unigramNll(docs: DataFrame, textCol: String, idCol: String,
                 topK: Int = 65536): DataFrame = {
    val scale = 1099511627776.0 // 2^40
    val toksDf = docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .materialized
    val postings = toksDf.select(
      col(idCol), size(col("toks")).as("n_tokens"), explode(col("toks")).as("term"))
    val counts = postings.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .materialized
    val kept = counts.orderBy(col("cnt").desc, col("term")).limit(topK)
    val stats = counts.agg(sum(col("cnt")).as("total"))
    val termNll = kept.crossJoin(broadcast(stats)).select(
      col("term"),
      floor(-log(col("cnt").cast("double") / col("total").cast("double")) * scale).as("fp"))
    val oovNll = floor(-log(lit(0.5) / col("total").cast("double")) * scale)
    postings
      .join(broadcast(termNll), Seq("term"), "left")
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(
        first(col("n_tokens")).as("n_tokens"),
        sum(coalesce(col("fp"), oovNll)).as("sfp"))
      .select(col(idCol), col("n_tokens"),
        ((col("sfp").cast("double") / scale) / col("n_tokens").cast("double"))
          .cast("float").as("nll_per_token"))
  }

  /** Bigram language-model quality score with stupid backoff — one rung
    * up the CCNet ladder from [[unigramNll]] (real pipelines use a
    * 5-gram KenLM; the bigram form keeps the model exactly verifiable
    * while exercising the full n-gram-LM plan shape): every position is
    * a (context, target) bigram — the first token's context is the
    * `<s>` sentinel — scored as −ln(c(w₁,w₂)/c(w₁)) when the bigram is
    * in the model, and −ln(0.4·p(w₂)) otherwise (Brants et al. 2007,
    * "Large Language Models in Machine Translation": unnormalized 0.4
    * backoff, the web-scale standard). The model is the corpus's own
    * top-`topK` bigrams, so the backoff path is real, not vacuous.
    * Returns (`idCol`, n_tokens, n_backoff, nll_per_token FLOAT).
    *
    * ONE bigram-count aggregate is the entire model fit — context
    * counts, target counts and the total all derive from the
    * checkpointed (w₁,w₂) counts, never from a second corpus pass. The
    * kept-bigram table is BOUNDED at topK rows and broadcasts; the
    * backoff table is vocabulary-sized, so its join is UNHINTED (the
    * tfidf lesson — AQE broadcasts it while small, shuffle-joins at
    * web scale). Per-position contributions are floored to the 2⁻⁴⁰
    * fixed-point grid and summed as longs — associative, partitioning-
    * independent, with the float output absorbing cross-engine ln()
    * ulps (the bm25/unigram contract).
    */
  def bigramNllBackoff(docs: DataFrame, textCol: String, idCol: String,
                       topK: Int = 512): DataFrame = {
    val scale = 1099511627776.0 // 2^40
    val toksDf = docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .materialized
    val bg = toksDf.select(
      col(idCol),
      explode(transform(sequence(lit(0), size(col("toks")) - 1),
        i => struct(
          when(i === 0, lit("<s>")).otherwise(element_at(col("toks"), i)).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("_b"))
      .select(col(idCol), col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .materialized
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c")).as("cc"))
    val kept2 = c2.orderBy(col("c").desc, col("w1"), col("w2")).limit(topK)
      .join(c1, Seq("w1"))
      .select(col("w1"), col("w2"),
        floor(-log(col("c").cast("double") / col("cc").cast("double")) * scale).as("fp2"))
    val total = c2.agg(sum(col("c")).as("t"))
    val backoff = c2.groupBy(col("w2")).agg(sum(col("c")).as("cnt"))
      .crossJoin(broadcast(total))
      .select(col("w2"),
        floor(-log(lit(0.4) * col("cnt").cast("double") / col("t").cast("double")) * scale)
          .as("fpbo"))
    bg
      .join(broadcast(kept2), Seq("w1", "w2"), "left")
      .join(backoff, Seq("w2"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_tokens"),
        sum(when(col("fp2").isNull, 1).otherwise(0)).cast("int").as("n_backoff"),
        sum(coalesce(col("fp2"), col("fpbo"))).as("_sfp"))
      .select(col(idCol), col("n_tokens"), col("n_backoff"),
        ((col("_sfp").cast("double") / scale) / col("n_tokens").cast("double"))
          .cast("float").as("nll_per_token"))
  }

  /** Interpolated Kneser–Ney bigram LM scoring (Kneser & Ney 1995,
    * Chen & Goodman 1999 — the smoothing every production n-gram LM
    * ships, including the KenLM filters used on CCNet-style pipelines):
    * absolute discount d = 3/4 off every observed bigram, the freed
    * mass re-spent on the CONTINUATION unigram
    * P_cont(w) = N1+(·w)/N1+(··) — "how many contexts does w complete"
    * — which is what lets novel-context words score sanely where raw
    * MLE gives zero. Self-corpus scoring means every document bigram is
    * observed, so the probability is the closed rational
    * `(max(4c(vw)−3, 0)·N1++ + 3·N1+(v·)·N1+(·w)) / (4·c(v·)·N1++)` —
    * all-integer numerator/denominator, one float log per DISTINCT
    * bigram on the 2⁻⁴⁰ grid (the [[unigramNll]] convention), integer
    * sums per document.
    *
    * Plan: one bigram explode (token volume), one bigram-count
    * aggregate (distinct-bigram-sized — reused for c(v·), N1+(v·),
    * N1+(·w), N1+(··)), the per-bigram fixed-point map, and one
    * doc-grain aggregate. Same shuffle budget as [[bigramNllBackoff]].
    */
  def kneserNeyNll(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val scale = 1099511627776.0 // 2^40
    val bg = docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(
        col(idCol),
        explode(transform(sequence(lit(0), size(col("toks")) - 1),
          i => struct(
            when(i === 0, lit("<s>")).otherwise(element_at(col("toks"), i)).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("_b"))
      .select(col(idCol), col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .materialized // feeds context stats, continuation stats, and the score join
    val cv = c2.groupBy(col("w1"))
      .agg(sum(col("c")).as("cv"), count(lit(1)).as("n1v"))
    val n1w = c2.groupBy(col("w2")).agg(count(lit(1)).as("n1w"))
    val ndd = c2.agg(count(lit(1)).as("ndd"))
    val fp = c2.join(cv, Seq("w1")).join(n1w, Seq("w2"))
      .crossJoin(broadcast(ndd))
      .select(col("w1"), col("w2"),
        floor(-log(
          (greatest(lit(4) * col("c") - 3, lit(0L)) * col("ndd")
            + lit(3) * col("n1v") * col("n1w")).cast("double")
            / (lit(4) * col("cv") * col("ndd")).cast("double")) * scale).as("fp"))
    bg.join(fp, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_tokens"), sum(col("fp")).as("_sfp"))
      .select(col(idCol), col("n_tokens"),
        ((col("_sfp").cast("double") / scale) / col("n_tokens").cast("double"))
          .cast("float").as("nll_per_token"))
  }

  /** Sliding token-window chunking with overlap — the document-prep step
    * in front of embedding / RAG / long-context training pipelines: each
    * document becomes ⌈max(0, n−size)/stride⌉+1 chunks of up to `size`
    * tokens starting every `stride = size − overlap` tokens, so
    * consecutive chunks share `overlap` tokens and every token is
    * covered (the last chunk may run short, never empty). Emits
    * (`idCol`, `chunk_idx`, `n_chunk_tokens`, `chunk_text`).
    *
    * Pure map work + a bounded explode (fan-out ≈ n/stride), shuffle-free
    * at any scale — the chunk count is computed with integer arithmetic
    * and `slice` clamps the tail, so no per-row UDF and no second
    * tokenize.
    */
  def chunkTokens(docs: DataFrame, textCol: String, idCol: String,
                  chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    // last chunk index = ceil(max(0, n - size) / stride), integer-exact
    val lastIdx = when(size(col("_toks")) <= chunkSize, lit(0L))
      .otherwise(expr(s"(size(_toks) - $chunkSize + ${stride - 1}) div $stride"))
    val start = col("chunk_idx").cast("int") * stride + 1 // slice is 1-based
    docs
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(0L), lastIdx)).as("chunk_idx"))
      .select(
        col(idCol),
        col("chunk_idx").cast("int").as("chunk_idx"),
        // count is pure arithmetic — only chunk_text pays the slice
        least(lit(chunkSize), size(col("_toks")) - (start - 1)).as("n_chunk_tokens"),
        array_join(slice(col("_toks"), start, lit(chunkSize)), " ").as("chunk_text"))
  }

  /** Cross-document boilerplate metrics — the C4-style corpus-level
    * repetition signal that per-doc [[repetitionMetrics]] cannot see:
    * an n-gram is BOILERPLATE when it appears in at least `minDocs`
    * distinct documents (shared headers/footers/templates), and each
    * document is scored by the fraction of its distinct n-grams that
    * are boilerplate. Emits (`idCol`, `n_grams`,
    * `n_boilerplate_grams`, `boilerplate_frac`); documents with fewer
    * than `n` tokens have no grams and no row.
    *
    * Two passes over one CHECKPOINTED gram projection (the shared-
    * materialization discipline of bm25/unigramNll): a gram-count
    * aggregate builds the repeated set, then an unhinted join marks
    * each doc's grams against it — AQE broadcasts the repeated set
    * while it is small and shuffle-joins on the gram otherwise (a
    * web-scale boilerplate set is vocabulary-like; forcing a broadcast
    * would be the tfidf mistake). Both sides of the join are already
    * hash-partitioned by gram from the aggregate. The fraction is a
    * division of two exact integers — deterministic on any engine.
    *
    * Grams travel as xxhash64 values from the [[Dedup.shingleHashes]]
    * codegen kernel, never as strings — the standard hashed-text
    * contract of the dedup family (the string-shingle oracle matches
    * because 64-bit collisions are absent at verification scale): 8
    * bytes per gram through the exchange instead of a ~50-byte string,
    * and the shingle build stays shuffle-free kernel map work.
    */
  def boilerplateMetrics(docs: DataFrame, textCol: String, idCol: String,
                         n: Int = 8, minDocs: Int = 2): DataFrame = {
    require(n >= 1 && minDocs >= 2, "need n >= 1 and minDocs >= 2")
    // shingleHashes is distinct-per-doc, so the per-gram row count below
    // IS the distinct-document count
    val grams = docs
      .select(col(idCol), explode(Dedup.shingleHashes(col(textCol), n)).as("_gram"))
      .materialized
    val repeated = grams.groupBy(col("_gram"))
      .agg(count(lit(1)).as("_nd"))
      .where(col("_nd") >= minDocs)
      .select(col("_gram"), lit(1).as("_bp"))
    grams
      .join(repeated, Seq("_gram"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_grams"),
        sum(coalesce(col("_bp"), lit(0))).cast("int").as("n_boilerplate_grams"))
      .withColumn("boilerplate_frac",
        col("n_boilerplate_grams").cast("double") / col("n_grams").cast("double"))
  }

  /** Intra-document unit dedup — the CCNet/RefinedWeb "drop repeated
    * lines/paragraphs within a page" cleanup: the document is segmented
    * into consecutive `unitSize`-token units and only each unit's FIRST
    * occurrence survives, preserving order. Emits (`idCol`, `n_units`,
    * `n_kept`, `text_deduped`). On a real corpus the unit is a newline
    * split; the fixed-token segmentation is the corpus-agnostic fallback
    * (this synthetic corpus has no line structure).
    *
    * Entirely shuffle-free: segmentation, first-occurrence filtering
    * (`array_position(units, u) == index` — the first index wins) and
    * reassembly are higher-order functions over one row's arrays, so the
    * operator is a pure projection at any corpus size. The per-document
    * quadratic `array_position` scan is bounded by DOCUMENT length —
    * the same per-row envelope as the repetition kernels.
    */
  def dedupUnits(docs: DataFrame, textCol: String, idCol: String,
                 unitSize: Int = 2): DataFrame = {
    require(unitSize >= 1, "need unitSize >= 1")
    val nUnits = ceil(size(col("_toks")).cast("double") / unitSize).cast("int")
    val units = when(size(col("_toks")) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nUnits - 1),
        i => array_join(slice(col("_toks"), i * unitSize + 1, lit(unitSize)), " ")))
    docs
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), units.as("_units"))
      .select(col(idCol), col("_units"),
        filter(col("_units"), (u, i) => array_position(col("_units"), u) === i.cast("long") + 1L)
          .as("_kept"))
      .select(col(idCol),
        size(col("_units")).as("n_units"),
        size(col("_kept")).as("n_kept"),
        array_join(col("_kept"), " ").as("text_deduped"))
  }

  /** Fingerprints: md5 of normalized text + a polynomial rolling hash of
    * token lengths (mod 1e9+7, overflow-safe).
    */
  def fingerprint(text: Column): Column = md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  def rollingHash(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, x) => pmod(acc * lit(31L) + length(x), lit(1000000007L)))

  /** Moving-average type-token ratio (MATTR, Covington & McFall 2010) —
    * the LENGTH-UNBIASED lexical-diversity signal: plain distinct/total
    * TTR falls mechanically with document length (Heaps' law), so a
    * TTR quality gate silently prefers short documents; MATTR averages
    * the distinct ratio over fixed-size sliding token windows, making
    * scores comparable across lengths. Windows slide by `stride` (the
    * standard thinned variant; stride 1 is the original).
    *
    * Exactness: each window's distinct count is an exact integer, the
    * window sum is int64, and MATTR is ONE division of exact integers
    * per doc. Docs shorter than `window` are excluded (no window
    * exists — the convention). Emits (`idCol`, n_tokens, n_windows,
    * mattr).
    *
    * Plan: entirely shuffle-free — tokens, the per-window distinct
    * fold, and the ratio are per-row array HOFs; the gate rides the
    * ingest scan like the other projection-only quality signals.
    */
  def mattr(docs: DataFrame, textCol: String, idCol: String,
            window: Int = 50, stride: Int = 10): DataFrame = {
    require(window >= 2 && stride >= 1, s"bad window/stride $window/$stride")
    val dsum = aggregate(
      transform(sequence(lit(0), (col("n_tokens") - window).cast("int"), lit(stride)),
        i => size(array_distinct(slice(col("_t"), i + 1, lit(window)))).cast("long")),
      lit(0L), (acc, x) => acc + x)
    docs
      .select(col(idCol), tokens(col(textCol)).as("_t"))
      .withColumn("n_tokens", size(col("_t")).cast("long"))
      .where(col("n_tokens") >= window)
      .withColumn("_dsum", dsum)
      .withColumn("n_windows", expr(s"(n_tokens - $window) div $stride + 1"))
      .select(col(idCol), col("n_tokens"), col("n_windows"),
        (col("_dsum").cast("double")
          / (col("n_windows") * window).cast("double")).as("mattr"))
  }

  /** Per-document token-distribution Shannon entropy — the
    * repetitiveness signal of the quality-filter family that
    * [[repetitionMetrics]]'s fixed n-gram ratios approximate: a
    * templated/spammy document reuses few distinct tokens and lands far
    * below the entropy of natural prose of the same length. Emits
    * (`idCol`, `n_tokens`, `n_distinct_tokens`, `entropy` in bits,
    * `norm_entropy` = entropy / log₂(n_tokens) ∈ [0,1], defined 0 for
    * single-token docs).
    *
    * Entropy over counts c of n tokens is computed as
    * ln(n) − Σ c·ln(c) / n (one pass over the count table — never a
    * p·ln(p) per-row division). Plan: explode → (doc, token) count with
    * map-side partial combine — the same shuffle shape as every token
    * aggregate here — then one per-doc hash aggregate. The Σ c·ln(c)
    * double sum is reduction-order-sensitive in the last ulps, so
    * consumers comparing across engines cast to float (the
    * [[Retrieval.bm25TopK]] discipline); ranking-grade exactness is not
    * needed because nothing ranks on raw entropy.
    */
  def tokenEntropy(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val counts = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("_term"))
      .groupBy(col(idCol), col("_term"))
      .agg(count(lit(1)).as("_cnt"))
    counts
      .groupBy(col(idCol))
      .agg(
        sum(col("_cnt")).as("_n"),
        count(lit(1)).as("_nd"),
        sum(col("_cnt").cast("double") * log(col("_cnt").cast("double"))).as("_h"))
      .select(
        col(idCol),
        col("_n").cast("int").as("n_tokens"),
        col("_nd").cast("int").as("n_distinct_tokens"),
        ((log(col("_n").cast("double")) - col("_h") / col("_n").cast("double")) / math.log(2.0))
          .as("entropy"),
        when(col("_n") > 1,
          (log(col("_n").cast("double")) - col("_h") / col("_n").cast("double"))
            / log(col("_n").cast("double")))
          .otherwise(lit(0.0)).as("norm_entropy"))
  }

  /** Exact corpus-level top-`k` terms — the vocabulary-head profile
    * (Zipf audit, stopword discovery, tokenizer sanity). One
    * map-side-combining (term) count aggregate, then a single top-k
    * window over VOCABULARY-sized input (ties → term asc). At 100 TB
    * the aggregate output is vocabulary-sized, not corpus-sized; when
    * even the vocabulary is too wide for one sort task, prefilter with
    * [[topTermsSketch]] — every true heavy hitter is in the sketch's
    * candidate set, so exact counting only the candidates preserves
    * exactness for the head.
    */
  def topTerms(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("term"))).cast("int"))
      .where(col("rank") <= k)

  /** COUNT-MIN sketch over the token stream — bounded-memory frequency
    * ESTIMATION, the third leg of the sketch family (KMV answers "how
    * many distinct", Misra–Gries "which are heavy", count-min "how
    * often is THIS one", for terms no candidate list anticipated):
    * `depth` hash rows × `width` counters; a term's estimate is the
    * MIN of its counters, which can only OVER-count (collisions add,
    * never subtract): `exact ≤ est ≤ exact + N·depth⁻¹ᵉˣᵖ…` — the
    * classic `e/width` additive bound w.h.p. (Cormode & Muthukrishnan
    * 2005). The sketch build is one map-side-combining
    * `(row, bucket)` count over `depth`× the token stream — at most
    * `depth · width` rows ever shuffle, constant in corpus size.
    *
    * Hashes are the engine-portable md5 coin of `"<row>:<term>"`, so
    * the driver oracle replays the whole matrix AND the estimates
    * bit-for-bit — unlike library sketches with private hash layouts
    * (the [[graft.plans.KmvMinK]] replayability argument).
    *
    * [[countMinSketch]] returns the matrix; [[countMinLookup]] joins a
    * probe-term table against it (each probe expands to `depth`
    * bucket keys; the lookup is a broadcast-sized equi-join).
    */
  def countMinSketch(docs: DataFrame, textCol: String,
                     depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 1, "depth and width must be positive")
    docs
      .select(explode(tokens(col(textCol))).as("term"))
      .select(explode(sequence(lit(0), lit(depth - 1))).as("row"), col("term"))
      .select(col("row"),
        pmod(graft.plans.Md5Prefix.of(
          concat(col("row").cast("string"), lit(":"), col("term")), 6),
          lit(width.toLong)).as("bucket"))
      .groupBy(col("row"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates from a [[countMinSketch]] matrix for `probes`
    * (a one-column `term` table): emits (`term`, `est_cnt` = min over
    * the depth counters; missing counters read 0 — a term the corpus
    * never hashed into a bucket row estimates from an untouched
    * counter).
    */
  def countMinLookup(sketch: DataFrame, probes: DataFrame,
                     depth: Int = 4, width: Int = 1024): DataFrame = {
    val keyed = probes
      .select(col("term"), explode(sequence(lit(0), lit(depth - 1))).as("row"))
      .select(col("term"), col("row"),
        pmod(graft.plans.Md5Prefix.of(
          concat(col("row").cast("string"), lit(":"), col("term")), 6),
          lit(width.toLong)).as("bucket"))
    keyed
      .join(sketch, Seq("row", "bucket"), "left")
      .groupBy(col("term"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }

  /** MISRA–GRIES heavy-hitter sketch over the token stream — the
    * bounded-memory path when the vocabulary itself cannot be assumed
    * to fit (web-scale multilingual corpora): each partition keeps at
    * most `capacity` counters (the classic decrement-all step evicts
    * on overflow), and the per-term SUM of partition summaries is a
    * valid merged summary (Agarwal et al., mergeable summaries):
    * `est ≤ true ≤ est + N/capacity` for every term, and any term with
    * true frequency > N/capacity is guaranteed present. Emits the
    * candidate set (`term`, `est_cnt`) — at most capacity·#partitions
    * rows regardless of corpus or vocabulary size.
    *
    * The candidate SET depends on partition layout (like any streaming
    * summary), so this is a suite-verified operator, not an oracle row;
    * the error bound above is what the suite asserts. Compose with
    * [[topTerms]] restricted to the candidates for exact head counts.
    */
  def topTermsSketch(docs: DataFrame, textCol: String, capacity: Int): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(tokens(col(textCol))).as("term")).as[String]
      .mapPartitions { it =>
        val counters = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { t =>
          counters.get(t) match {
            case Some(c) => counters(t) = c + 1
            case None if counters.size < capacity => counters(t) = 1L
            case None =>
              // decrement-all: one shared "charge" against every counter
              val dead = counters.iterator.collect { case (k, 1L) => k }.toList
              counters.mapValuesInPlace((_, c) => c - 1)
              dead.foreach(counters.remove)
          }
        }
        counters.iterator
      }
      .toDF("term", "est_cnt")
      .groupBy(col("term")).agg(sum(col("est_cnt")).as("est_cnt"))
  }

  /** Per-stratum token-DISTRIBUTION drift between a reference corpus
    * and a current one — the data-drift monitor a production ingest runs
    * before retraining on a new crawl: Jensen-Shannon divergence (in
    * bits, ∈ [0,1]) between the two unigram distributions, per stratum.
    * Emits (`strataCol`, `n_ref_tokens`, `n_cur_tokens`, `n_terms` =
    * union vocabulary size, `js_divergence`). Strata present on only one
    * side are dropped (JS against an empty distribution is the constant
    * 1 — noise, not signal).
    *
    * Plan: the two sides union with a side flag BEFORE the (stratum,
    * term) count, so one shuffle builds both distributions (two separate
    * groupBys would shuffle the token stream twice); per-stratum totals
    * are #strata rows and broadcast back; the contribution pass is
    * map-local and the final per-stratum aggregate is tiny. Token volume
    * bounds everything, exactly like [[tokenEntropy]]. The double sums
    * are order-sensitive in the last ulps — consumers compare at float
    * (the bm25 discipline).
    */
  def tokenDrift(ref: DataFrame, cur: DataFrame, textCol: String,
                 strataCol: String): DataFrame = {
    def side(df: DataFrame, isRef: Int): DataFrame =
      df.select(col(strataCol).as("_s"),
        explode(tokens(col(textCol))).as("_term"), lit(isRef).as("_ref"))
    val c = side(ref, 1).unionAll(side(cur, 0))
      .groupBy(col("_s"), col("_term"))
      .agg(
        sum(when(col("_ref") === 1, lit(1L)).otherwise(lit(0L))).as("cref"),
        sum(when(col("_ref") === 1, lit(0L)).otherwise(lit(1L))).as("ccur"))
    val n = c.groupBy(col("_s"))
      .agg(sum(col("cref")).as("nref"), sum(col("ccur")).as("ncur"))
      .where(col("nref") > 0 && col("ncur") > 0)
    val p = col("cref").cast("double") / col("nref").cast("double")
    val q = col("ccur").cast("double") / col("ncur").cast("double")
    val m = (p + q) / lit(2.0)
    c.join(broadcast(n), "_s")
      .groupBy(col("_s"), col("nref"), col("ncur"))
      .agg(
        count(lit(1)).cast("int").as("n_terms"),
        sum(when(col("cref") > 0, p * log(p / m)).otherwise(lit(0.0))).as("_kl_ref"),
        sum(when(col("ccur") > 0, q * log(q / m)).otherwise(lit(0.0))).as("_kl_cur"))
      .select(col("_s").as(strataCol),
        col("nref").as("n_ref_tokens"), col("ncur").as("n_cur_tokens"),
        col("n_terms"),
        (((col("_kl_ref") + col("_kl_cur")) * lit(0.5)) / math.log(2.0)).as("js_divergence"))
  }

  /** Content-defined chunking (the Gear/Rabin CDC family — LBFS,
    * Muthitacharoen et al. 2001 — at token granularity): a chunk
    * boundary falls AFTER every token whose hash ≡ 0 (mod `divisor`),
    * so expected chunk length is `divisor` tokens and — the property
    * fixed-grid chunking lacks — inserting or deleting one token
    * re-synchronizes the chunking at the next boundary instead of
    * shifting every downstream chunk. That makes CDC chunks the
    * shift-resistant dedup unit: two near-identical documents share all
    * chunks outside the edit region. Emits per chunk
    * (`idCol`, chunk_idx, start_pos, n_chunk_tokens, chunk_fp,
    * n_docs_sharing) — `chunk_fp` the engine-portable md24 of the chunk
    * text ([[QualityClassifier.md24]]: boundary placement AND the
    * fingerprint must replay cross-engine), `n_docs_sharing` how many
    * distinct documents contain a byte-identical chunk.
    *
    * Plan: the boundary decision is per-token map work (hash one
    * token); chunk numbering is a per-DOCUMENT running sum (partitioned
    * by doc — no global window); assembly groups (doc, chunk) on that
    * same partitioning with a sort-safe `sort_array(collect_list(
    * struct(pos, tok)))` so collection order cannot matter; the share
    * count is one hash aggregate on the 8-byte fingerprint joined back
    * — candidates-by-bucket, never all-pairs. At 100 TB every stage is
    * keyed by doc or by fingerprint; nothing is corpus-quadratic.
    */
  def cdcChunks(docs: DataFrame, textCol: String, idCol: String,
                divisor: Int = 16): DataFrame = {
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    import org.apache.spark.sql.expressions.Window
    import Materialize.MatOps
    val cut = (QualityClassifier.md24(col("_tok")) % divisor === 0).cast("int")
    // boundary closes the chunk it ends: chunk id = #boundaries BEFORE
    // this position (frame excludes the current row)
    val wPrev = Window.partitionBy(col(idCol)).orderBy(col("_pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = docs
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("_pos", "_tok")))
      .withColumn("_cut", cut)
      .withColumn("chunk_idx", coalesce(sum(col("_cut")).over(wPrev), lit(0L)).cast("int"))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(
        min(col("_pos")).cast("int").as("start_pos"),
        count(lit(1)).cast("int").as("n_chunk_tokens"),
        array_join(transform(sort_array(collect_list(struct(col("_pos"), col("_tok")))),
          x => x.getField("_tok")), " ").as("_ctext"))
      .withColumn("chunk_fp", QualityClassifier.md24(col("_ctext")))
      .drop("_ctext")
      .materialized // consumed by the share-count aggregate AND the join back
    val shared = chunks.groupBy(col("chunk_fp"))
      .agg(countDistinct(col(idCol)).cast("int").as("n_docs_sharing"))
    chunks.join(shared, Seq("chunk_fp"))
      .select(col(idCol), col("chunk_idx"), col("start_pos"),
        col("n_chunk_tokens"), col("chunk_fp"), col("n_docs_sharing"))
  }

  /** T5-style span corruption (Raffel et al. 2020): the example
    * generator for denoising pretraining — mask ≈ `1/maskMod` of each
    * document's tokens (hash-chosen, so the corpus regenerates
    * identically on every engine and every run), collapse consecutive
    * masked tokens into spans, and emit the (input, target) pair:
    * the input keeps unmasked tokens with each span replaced by its
    * sentinel `<extra_id_k>`, the target lists each sentinel followed
    * by the tokens it hides. Emits (`idCol`, n_tokens, n_spans,
    * input_text, target_text).
    *
    * Plan: the mask decision is per-token map work (one md24); span
    * numbering is two per-DOCUMENT windows (masked-run islands via
    * `pos − rank-among-masked`, then span index by first-position
    * rank); both assemblies are sort-safe ordered collects on the same
    * doc grouping. Nothing leaves the document key — at 100 TB this is
    * embarrassingly parallel over docs.
    */
  def spanCorruption(docs: DataFrame, textCol: String, idCol: String,
                     maskMod: Int = 3): DataFrame = {
    require(maskMod >= 2, s"maskMod must be >= 2, got $maskMod")
    import org.apache.spark.sql.expressions.Window
    val masked = QualityClassifier.md24(
      concat(lit("mask:"), col(idCol).cast("string"), lit(":"), col("_pos").cast("string")))
      .%(maskMod) === 0
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("_pos"))
    val base = docs
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("_pos", "_tok")))
      .withColumn("_m", masked)
      // islands: pos − rank-among-masked is constant per masked run
      .withColumn("_grp", when(col("_m"),
        col("_pos") - row_number().over(
          Window.partitionBy(col(idCol), col("_m")).orderBy(col("_pos")))))
    val spanIdx = base.where(col("_m"))
      .groupBy(col(idCol), col("_grp"))
      .agg(min(col("_pos")).as("_sp_start"))
      .withColumn("_k", row_number().over(byDoc.orderBy(col("_sp_start"))) - 1)
      .select(col(idCol), col("_grp"), col("_k"))
    val pieces = base.join(spanIdx, Seq(idCol.toString, "_grp"), "left")
      .select(col(idCol), col("_pos"), col("_tok"), col("_m"), col("_k"),
        // input piece: token if kept; sentinel at a span's first position;
        // empty inside a span
        when(!col("_m"), col("_tok"))
          .when(col("_m") && row_number().over(
            Window.partitionBy(col(idCol), col("_grp")).orderBy(col("_pos"))) === 1
            && col("_m"), concat(lit("<extra_id_"), col("_k"), lit(">")))
          .as("_in_piece"))
    val inputs = pieces
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_tokens"),
        array_join(filter(transform(sort_array(collect_list(
          struct(col("_pos"), col("_in_piece").as("_p")))),
          x => x.getField("_p")), p => p.isNotNull), " ").as("input_text"))
    val targets = pieces.where(col("_m"))
      .groupBy(col(idCol), col("_k"))
      .agg(min(col("_pos")).as("_sp_start"),
        array_join(transform(sort_array(collect_list(struct(col("_pos"), col("_tok")))),
          x => x.getField("_tok")), " ").as("_span_text"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_spans"),
        array_join(transform(sort_array(collect_list(struct(col("_k"),
          concat(lit("<extra_id_"), col("_k"), lit("> "), col("_span_text")).as("_t")))),
          x => x.getField("_t")), " ").as("target_text"))
    inputs.join(targets, Seq(idCol.toString), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0)).as("n_spans"),
        col("input_text"),
        coalesce(col("target_text"), lit("")).as("target_text"))
  }

  /** Vocabulary-growth curve (the Heaps'-law audit): distinct terms
    * seen after each tenth of the token stream, in (`idCol`, position)
    * order — sublinear growth says the corpus keeps re-using its
    * vocabulary; near-linear growth says it's still surprising the
    * tokenizer (or full of noise). Emits per decile
    * (decile, n_tokens_cum, n_distinct_terms).
    *
    * Plan: global token indexes come from per-DOC offsets (one tiny
    * window over doc-count rows of lengths — never a token-level global
    * sort) plus the in-doc position; first occurrences are one
    * (term → min index) aggregate; the curve is a 10× bounded explode
    * over the vocabulary-sized firsts table. Corpus scanned once.
    */
  def vocabGrowth(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import Materialize.MatOps
    val lens = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"), size(col("_toks")).as("_n"))
    val withOffset = lens.withColumn("_off",
      coalesce(sum(col("_n")).over(
        Window.orderBy(col(idCol)).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val idx = withOffset
      .select(col("_off"), posexplode(col("_toks")).as(Seq("_pos", "_term")))
      .select((col("_off") + col("_pos")).as("_gi"), col("_term"))
      .materialized // total count AND first-occurrence aggregate
    val firsts = idx.groupBy(col("_term")).agg(min(col("_gi")).as("_first"))
    val total = idx.agg(count(lit(1)).as("_total"))
    firsts.crossJoin(broadcast(total))
      .select(col("_first"), col("_total"),
        explode(sequence(lit(1), lit(10))).as("decile"))
      .withColumn("_boundary", expr("(_total * decile) div 10"))
      .where(col("_first") < col("_boundary"))
      .groupBy(col("decile"))
      .agg(max(col("_boundary")).as("n_tokens_cum"),
        count(lit(1)).as("n_distinct_terms"))
      .orderBy(col("decile"))
  }

  /** Out-of-vocabulary rate per group against the corpus-trained top-`v`
    * vocabulary — the tokenizer-coverage audit run before committing a
    * vocab size (a source whose OOV rate spikes is about to be
    * UNK-shredded). Vocabulary membership is exact: top `v` terms by
    * corpus count, count-desc / term-asc tie order (the [[topTerms]]
    * rank discipline). Emits per `groupCol`
    * (n_tokens, n_oov, oov_rate FLOAT).
    *
    * Plan: one (group, term) count aggregate — vocabulary-sized per
    * group, never token-volume — rolls up to the global term counts
    * (second tiny aggregate), the top-v rank window runs over VOCABULARY
    * rows (the single-partition window is by construction
    * vocabulary-bounded — the [[Retrieval.tfidfTopTerms]] caveat), and
    * the vocab broadcasts back onto the per-group term counts. The
    * corpus is scanned once.
    */
  def oovRate(docs: DataFrame, textCol: String, groupCol: String,
              vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    import org.apache.spark.sql.expressions.Window
    import Materialize.MatOps
    val gt = docs
      .select(col(groupCol).as("_g"), explode(tokens(col(textCol))).as("_term"))
      .groupBy(col("_g"), col("_term"))
      .agg(count(lit(1)).as("_c"))
      .materialized // consumed by the vocab rollup AND the coverage join
    val vocab = gt.groupBy(col("_term")).agg(sum(col("_c")).as("_tc"))
      .withColumn("_rank", row_number().over(
        Window.orderBy(col("_tc").desc, col("_term"))))
      .where(col("_rank") <= vocabSize)
      .select(col("_term"), lit(true).as("_inv"))
    gt.join(broadcast(vocab), Seq("_term"), "left")
      .groupBy(col("_g"))
      .agg(
        sum(col("_c")).as("n_tokens"),
        sum(when(col("_inv"), lit(0L)).otherwise(col("_c"))).as("n_oov"))
      .select(col("_g").as(groupCol), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .cast("float").as("oov_rate"))
  }

  /** Top-k adjacent-token collocations by pointwise mutual information —
    * the phrase-mining pass (Mikolov et al. 2013's word2vec phrase step
    * scores bigrams the same way) that turns "new york" into one vocab
    * unit before tokenizer training, and the quickest detector of
    * boilerplate word pairs a crawl injects corpus-wide.
    *
    * PMI = log of `R = p(a,b) / (p(a)·p(b)) = c_ab·N² / (B·c_a·c_b)`;
    * log is monotone, so ranking by `R` on an INTEGER grid gives the
    * exact PMI order with no transcendental in sight:
    * `score_fp = ((c_ab·N div c_a) · N · 1024) div (c_b·B)` — every
    * step int64 (c_ab ≤ c_a bounds the first quotient by N), fixed
    * division order, bit-identical on any engine.
    *
    * Plan: one corpus scan builds both count tables (the token
    * explode and the shifted-slice bigram explode share the cached
    * token-array projection); unigram counts equi-join onto the
    * support-filtered bigram counts (`minCount` prunes the heavy tail
    * BEFORE the join, and both sides are vocabulary-, not corpus-,
    * sized — AQE picks broadcast when the vocab fits); the two 1-row
    * totals cross-join in. No corpus self-join anywhere.
    */
  def collocations(docs: DataFrame, textCol: String,
                   minCount: Int = 5, topK: Int = 20): DataFrame = {
    require(minCount >= 1 && topK >= 1, s"minCount/topK must be >= 1")
    import Materialize.MatOps
    val arrs = docs.select(tokens(col(textCol)).as("_arr"))
      .materialized // consumed by the unigram AND the bigram explode
    val uni = arrs.select(explode(col("_arr")).as("_t"))
      .groupBy(col("_t")).agg(count(lit(1)).as("_c"))
      .materialized // joined twice (both bigram sides) + the N total
    val bigrams = arrs.select(explode(arrays_zip(
        slice(col("_arr"), lit(1), size(col("_arr")) - 1),
        slice(col("_arr"), lit(2), size(col("_arr")) - 1))).as("_p"))
      .select(col("_p").getField("0").as("a"), col("_p").getField("1").as("b"))
      .materialized // counted per pair AND totalled
    val pairs = bigrams.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
    val nTok = uni.agg(sum(col("_c")).as("n_tokens"))
    val nBig = bigrams.agg(count(lit(1)).as("n_bigrams"))
    pairs
      .join(uni.select(col("_t").as("a"), col("_c").as("c_a")), Seq("a"))
      .join(uni.select(col("_t").as("b"), col("_c").as("c_b")), Seq("b"))
      .crossJoin(nTok).crossJoin(nBig)
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        expr("(((c_ab * n_tokens) div c_a) * n_tokens * 1024) div (c_b * n_bigrams)")
          .as("score_fp"))
      .orderBy(col("score_fp").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Corpus-wide LINE-level dedup — the C4 / RefinedWeb inner loop
    * (Raffel et al. 2020 drop any three-sentence span occurring ≥3×;
    * RefinedWeb's line-wise dedup): a repeated LINE is boilerplate
    * (cookie banners, nav text, share buttons) even when its documents
    * are otherwise unique, so dedup must act BELOW document granularity
    * but ACROSS the whole corpus. Documents split into fixed-`width`
    * token lines ([[chunkTokens]], stride = width — the corpus has no
    * newlines, so fixed windows stand in for visual lines); any line
    * whose exact text occurs in ≥ `maxOcc` places is dropped from every
    * document, and each document reassembles from its surviving lines
    * in order.
    *
    * Plan: one chunk explode (token-volume map work), ONE line-text
    * hash aggregate for global counts (at web scale: hash the line to 8
    * bytes first and count the hash — same plan, slimmer exchange), one
    * equi-join back, one per-doc aggregate that counts, filters, and
    * reassembles in a single `collect_list` pass. Emits
    * (`idCol`, `n_lines`, `n_removed`, `clean_fp`) — the fingerprint of
    * the cleaned text, so the comparator never ships document bodies.
    */
  def lineDedup(docs: DataFrame, textCol: String, idCol: String,
                width: Int = 10, maxOcc: Int = 3): DataFrame = {
    require(width >= 1 && maxOcc >= 2, s"need width >= 1 and maxOcc >= 2")
    val lines = chunkTokens(docs, textCol, idCol, width, 0)
      .select(col(idCol), col("chunk_idx"), col("chunk_text"))
      .materialized // feeds the global count AND the reassembly join
    val counts = lines.groupBy(col("chunk_text")).agg(count(lit(1)).as("_n"))
    lines.join(counts, "chunk_text")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("_n") >= maxOcc, 1L).otherwise(0L)).as("n_removed"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("_n") < maxOcc, struct(col("chunk_idx"), col("chunk_text"))))),
          s => s.getField("chunk_text")))).as("clean_fp"))
  }

  /** Code-switching / language-mixing audit — the per-document langid
    * label hides mixed documents (quoted passages, boilerplate in a
    * second language, concatenated crawls), and mixed documents poison
    * monolingual training splits. Each document is chunked into fixed
    * `chunkSize`-token windows ([[chunkTokens]], stride = size), each
    * chunk langid'd with the same stopword heuristic as the doc-level
    * [[langIdScores]], and the document is scored by the fraction of
    * chunks whose prediction disagrees with its `langCol` label.
    * Chunks with no stopword hits in any language tie at score 0 and
    * resolve to the alphabetically-first language (the deterministic
    * tie rule of the doc-level classifier) — real pipelines call these
    * "unknown"; the disagreement fraction treats them as foreign,
    * which is the conservative (quarantine-leaning) reading.
    *
    * Emits (`idCol`, lang, n_chunks, n_foreign_chunks, switch_frac).
    * Plan: one chunk explode (token-volume map work, the label rides
    * the exploded rows — no join back), per-chunk scores are codegen'd
    * array filters, one per-doc count rollup — no joins, no model
    * table; rides the scan at 100 TB.
    */
  def codeSwitchProfile(docs: DataFrame, textCol: String, idCol: String,
                        langCol: String, chunkSize: Int = 16): DataFrame = {
    // chunkTokens with a label passthrough (same grid: stride = size)
    val lastIdx = when(size(col("_toks")) <= chunkSize, lit(0L))
      .otherwise(expr(s"(size(_toks) - $chunkSize + ${chunkSize - 1}) div $chunkSize"))
    val start = col("chunk_idx").cast("int") * chunkSize + 1
    val chunks = docs
      .select(col(idCol), col(langCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col(langCol), col("_toks"),
        explode(sequence(lit(0L), lastIdx)).as("chunk_idx"))
      .select(col(idCol), col(langCol),
        array_join(slice(col("_toks"), start, lit(chunkSize)), " ").as("chunk_text"))
    val scores = langIdScores(col("chunk_text"))
    val withScores = chunks.select(
      col(idCol) +: col(langCol) +:
        scores.map { case (l, c) => c.as(s"_s_$l") }: _*)
    val best = greatest(scores.map { case (l, _) => col(s"_s_$l") }: _*)
    val pred = coalesce(scores.map { case (l, _) =>
      when(col(s"_s_$l") === best, lit(l)) }: _*)
    withScores
      .withColumn("_pred", pred)
      .groupBy(col(idCol), col(langCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_pred") =!= col(langCol), 1L).otherwise(0L)).as("n_foreign_chunks"))
      .withColumn("switch_frac",
        col("n_foreign_chunks").cast("double") / col("n_chunks").cast("double"))
  }

  /** Gini concentration of token mass across documents, per stratum —
    * the "is this source a few mega-documents or many uniform ones"
    * audit that decides chunking and sampling strategy before a source
    * enters the training mix (a Gini near 1 means a handful of docs
    * carry the mass; near 0, uniform lengths).
    *
    * Computed HISTOGRAM-FIRST for scale: docs collapse to
    * (stratum, token_count) → m occurrences — the distinct-length table
    * is bounded by the length domain (thousands of rows), NOT the corpus
    * — and the rank-weighted Lorenz sum uses the closed form for tied
    * blocks: a block of m docs of length v after a docs have cumulated
    * contributes v·(m·a + m(m+1)/2) to Σᵢ i·xᵢ. A naive per-doc window
    * rank would sort the full corpus per stratum; this sorts only the
    * tiny histogram. All sums are int64 (exact); the final
    * G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) is one integer-fed IEEE division.
    *
    * Emits (stratum, n_docs, total_tokens, gini DOUBLE).
    */
  def giniConcentration(docs: DataFrame, textCol: String, strataCol: String): DataFrame = {
    val hist = docs
      .select(col(strataCol).as("stratum"), size(tokens(col(textCol))).cast("long").as("v"))
      .groupBy(col("stratum"), col("v")).agg(count(lit(1)).as("m"))
    val w = Window.partitionBy(col("stratum")).orderBy(col("v"))
    val lorenz = hist
      .withColumn("a", coalesce(
        sum(col("m")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("stratum"),
        // m·(m+1) is even, so the integer div is exact
        (col("v") * (col("m") * col("a") + expr("(m * (m + 1)) div 2"))).as("ix"),
        (col("v") * col("m")).as("x"), col("m"))
    lorenz.groupBy(col("stratum"))
      .agg(sum(col("m")).as("n_docs"), sum(col("x")).as("total_tokens"),
        sum(col("ix")).as("six"))
      .select(col("stratum"), col("n_docs"), col("total_tokens"),
        ((lit(2.0) * col("six").cast("double")
          - (col("n_docs") + 1).cast("double") * col("total_tokens").cast("double"))
          / (col("n_docs").cast("double") * col("total_tokens").cast("double"))).as("gini"))
      .orderBy(col("stratum"))
  }

  /** Vocabulary coverage curve — the tokenizer-sizing companion of
    * [[zipfFit]]: what fraction of the corpus's token MASS do the top
    * 10 / 100 / 1000 terms carry? A 32k-entry vocabulary is justified
    * exactly when this curve is still climbing at 1k; flat-by-100 means
    * templated text. One row per requested k: (k, cum_tokens,
    * total_tokens, coverage) — exact integer sums, one IEEE division.
    *
    * Plan: one explode + term-count aggregate (the only corpus-sized
    * exchange; total token count rolls up FROM the term counts, no
    * second pass), a TakeOrdered top-max(k), a window over those
    * bounded rows.
    */
  def vocabCoverage(docs: DataFrame, textCol: String,
                    ks: Seq[Int] = Seq(10, 100, 1000)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "need at least one positive k")
    val counts = docs
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .materialized // read by the total aggregate AND the top-k
    val total = counts.agg(sum(col("cnt")).as("total_tokens"))
    val top = counts.orderBy(col("cnt").desc, col("term")).limit(ks.max)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("term"))))
      .withColumn("cum_tokens", sum(col("cnt")).over(
        Window.orderBy(col("cnt").desc, col("term"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    top.where(col("rank").isin(ks.map(k => k: Any): _*))
      .crossJoin(broadcast(total))
      .select(col("rank").as("k"), col("cum_tokens"), col("total_tokens"),
        (col("cum_tokens").cast("double") / col("total_tokens").cast("double"))
          .as("coverage"))
      .orderBy(col("k"))
  }

  /** Zipf-law fit of the term-frequency distribution: OLS of ln(freq) on
    * ln(rank) over the top-`topN` terms. Natural corpora run a slope
    * near −1 (Zipf 1949); a much flatter or steeper slope flags
    * synthetic, templated, or OCR-garbled text before it enters the mix
    * — the vocabulary-shape twin of the Heaps growth audit.
    *
    * Determinism: ln(rank) and ln(freq) are floored to the 2⁻²⁰
    * fixed-point grid as int64; all OLS moment sums (Σx, Σy, Σxy, Σx²,
    * Σy²) are then EXACT integer sums (products ≤ 2⁵⁴ for topN ≤ 10⁴,
    * summed into int64), so slope/intercept/R² are pure IEEE arithmetic
    * over identical integers on every engine. The FLOAT outputs absorb
    * the ln() grid-boundary ulp risk (the corpus-wide contract).
    *
    * Plan: one explode + term-count aggregate (the only corpus-sized
    * exchange), a TakeOrdered top-`topN` (never a global sort), ranks
    * via a window over the BOUNDED topN rows, one 1-row moment
    * aggregate. 100 TB costs the one term count.
    */
  def zipfFit(docs: DataFrame, textCol: String, topN: Int = 1000): DataFrame = {
    require(topN >= 3, s"need topN >= 3 for a 2-parameter fit, got $topN")
    val grid = 1048576.0 // 2^20
    val counts = docs
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(topN)
    val ranked = counts
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("term"))))
      .select(
        floor(log(col("rank").cast("double")) * grid).cast("long").as("x"),
        floor(log(col("cnt").cast("double")) * grid).cast("long").as("y"))
    ranked.agg(
      count(lit(1)).as("n_terms"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
      .select(col("n_terms"),
        ((col("n_terms").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n_terms").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))).as("_b"),
        col("sx"), col("sy"), col("sxx"), col("syy"), col("sxy"))
      .select(col("n_terms"),
        col("_b").cast("float").as("slope"),
        (((col("sy").cast("double") - col("_b") * col("sx").cast("double"))
          / col("n_terms").cast("double")) / grid).cast("float").as("intercept"),
        (((col("n_terms").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          * (col("n_terms").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double")))
          / ((col("n_terms").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
            * (col("n_terms").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double")))).cast("float").as("r2"))
  }
}
