package graft.queries

/** DuckDB oracle SQL for every entry in [[graft.SparkEntry.queries]].
  *
  * Written against the driver's DuckDB views of the same parquet tables
  * (`lineitem`, `orders`, ..., `events`, `documents`, `embeddings`).
  * Mirroring rules (the driver hash-compares values after sorting columns
  * by name, so arithmetic must match bit-for-bit):
  *   - `events.ts` is TIMESTAMP(NANOS) parquet: Spark reads long nanos and
  *     truncates with integer `div`; here `CAST(ts AS TIMESTAMP)` applies
  *     DuckDB's identical truncation to micros.
  *   - seconds deltas use `epoch_us(..) - epoch_us(..) // 1000000` — DuckDB
  *     integer `//` truncates toward zero exactly like Spark's
  *     double-divide + cast(long) for the magnitudes involved.
  *   - double aggregates go through DECIMAL(18,2) sums cast to double on
  *     both sides (exact, order-independent).
  *   - `size`/`len` results are cast to INTEGER to match Spark's int.
  *   - RE2 has no lookaround, so the snake_case lookahead regexes become
  *     equivalent capture-group rewrites (boundary classes are disjoint, so
  *     consume-vs-lookahead cannot differ).
  *   - DuckDB list lambdas (`list_reduce`/`list_transform`) reproduce
  *     Spark's left-fold `aggregate` exactly (same operation order ⇒ same
  *     float rounding).
  */
object Oracles {

  /** events with ts truncated to micro precision, as a subquery body. */
  private val EV = "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"

  /** The 4-step Cyrillic-aware snake_case chain (StringFns.snakeCase). */
  private def snake(c: String): String = {
    val s1 = s"regexp_replace($c, '([a-zа-яё])([A-ZА-ЯЁ])', '\\1_\\2', 'g')"
    val s2 = s"regexp_replace($s1, '([a-zа-яё])([0-9])', '\\1_\\2', 'g')"
    val s3 = s"regexp_replace($s2, '([0-9])([a-zа-яё])', '\\1_\\2', 'g')"
    val s4 = s"regexp_replace($s3, '[^a-zA-Zа-яёА-ЯЁ0-9_]', '_', 'g')"
    s"CASE WHEN $c IS NULL THEN NULL WHEN trim($c) = '' THEN trim($c) ELSE lower($s4) END"
  }

  /** TimeFns.toHumanTime(expr, verbosity=2) for a non-negative BIGINT expr:
    * greedy divmod cascade over y/mo/w/d/h/m/s, top-2 non-zero units.
    */
  private def humanTime(e: String): String = {
    val units = Seq("y" -> 31104000L, "mo" -> 2592000L, "w" -> 604800L,
      "d" -> 86400L, "h" -> 3600L, "m" -> 60L, "s" -> 1L)
    var rem = s"($e)"
    val parts = units.map { case (name, cnt) =>
      val v = s"($rem // $cnt)"
      val part = s"CASE WHEN $v > 0 THEN $v::VARCHAR || '$name' END"
      rem = s"($rem % $cnt)"
      part
    }
    s"CASE WHEN ($e) = 0 THEN '0s' ELSE array_to_string(list_slice(list_filter([${parts.mkString(", ")}], x -> x IS NOT NULL), 1, 2), ' ') END"
  }

  /** BusinessTime.businessSeconds(s, e) under the default calendar as a
    * correlated scalar subquery: overlap of [s, e] with 09:00–22:00 on
    * Mon–Fri minus RU fixed holidays, whole seconds per day segment
    * (matching its per-day truncation).
    */
  private def busSeconds(s: String, e: String): String = {
    val holidays = "101,102,103,104,105,106,107,108,223,308,501,509,612,1104"
    s"""(SELECT coalesce(sum(greatest(0, epoch_us(least($e, d + INTERVAL 22 HOUR)) - epoch_us(greatest($s, d + INTERVAL 9 HOUR))) // 1000000), 0)
       |  FROM unnest(generate_series(date_trunc('day', $s), date_trunc('day', $e), INTERVAL 1 DAY)) AS bt(d)
       |  WHERE isodow(d) <= 5 AND (month(d) * 100 + day(d)) NOT IN ($holidays))""".stripMargin
  }

  /** Left-fold double dot product of two float-list columns (Similarity.dot). */
  private def dot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)"

  /** First 24 bits of md5($e) as a BIGINT in [0, 2^24) — the engine-
    * portable hash of sample_weighted / QualityClassifier.md24.
    */
  /** Decay-weight literals for event_decay — the SAME JVM doubles as
    * RateAnomaly.decayTrend(halfLifeDays = 7, horizonDays = 128), so no
    * transcendental is ever evaluated by two engines.
    */
  private val decayWeights7: String = (0 until 128)
    .map(a => math.floor(1099511627776.0 * math.pow(2.0, -a.toDouble / 7)).toLong)
    .mkString(", ")

  /** Power-iteration PCA CTE block (emb_pca_top / emb_debias): exact
    * HUGEINT scatter matrix + `iters` unrolled matvec/renorm layers
    * (every twice-referenced CTE MATERIALIZED — unmaterialized layers
    * inline exponentially). Ends at table w$iters(i, w).
    */
  private def pcaCtes(iters: Int): String = {
    val layers = (1 to iters).map { k =>
      val p = k - 1
      s"""mv$k AS MATERIALIZED (SELECT c.i, sum(c.v * w$p.w) AS raw
         |  FROM cmat c JOIN w$p ON w$p.i = c.j GROUP BY 1),
         |mx$k AS (SELECT max(abs(raw)) AS m FROM mv$k),
         |w$k AS MATERIALIZED (SELECT i, CASE WHEN raw < 0 THEN -(((-raw) * 1048576) // m)
         |    ELSE (raw * 1048576) // m END AS w FROM mv$k, mx$k)""".stripMargin
    }.mkString(",\n")
    s"""ge AS MATERIALIZED (
       |  SELECT list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1024) AS BIGINT)) AS g
       |  FROM embeddings),
       |p AS MATERIALIZED (SELECT i, j,
       |    sum((g[i] * g[j])::HUGEINT) AS s, count(*)::HUGEINT AS n
       |  FROM ge, range(1, 65) t1(i), range(1, 65) t2(j)
       |  WHERE j >= i GROUP BY 1, 2),
       |sm AS (SELECT i, sum(g[i])::HUGEINT AS si FROM ge, range(1, 65) t1(i) GROUP BY 1),
       |cm0 AS (SELECT p.i, p.j, p.n * p.s - a.si * b.si AS v
       |  FROM p JOIN sm a ON a.i = p.i JOIN sm b ON b.i = p.j),
       |cmat AS MATERIALIZED (
       |  SELECT i, j, v FROM cm0 UNION ALL SELECT j AS i, i AS j, v FROM cm0 WHERE i <> j),
       |w0 AS (SELECT i, 1048576::HUGEINT AS w FROM range(1, 65) t(i)),
       |$layers""".stripMargin
  }

  private def md24(e: String): String =
    s"""list_reduce(list_transform(string_split(substr(md5($e), 1, 6), ''),
       |    c -> strpos('0123456789abcdef', c) - 1), (a, b) -> a * 16 + b)::BIGINT""".stripMargin

  /** Left-fold BIGINT dot product of two 64-dim integer lists
    * (Similarity.centroidCosine's exact-grid dot).
    */
  private def dotL(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  /** Bpe.merges unrolled to k rounds of CTEs (the kmeansFitCtes
    * discipline: every reused CTE MATERIALIZED so inlining cannot go
    * exponential): v0 = the char-split frequency vocabulary; each round
    * counts adjacent pairs, takes the (count desc, a, b) argmax, and
    * applies the same leftmost non-overlapping string rewrite the engine
    * uses — so the learned merge table matches byte-for-byte. A dry
    * vocabulary empties b_r and every later round, matching the
    * engine's early stop.
    */
  /** Shared CTE prefix: `v0` = the (token, freq, char-split s)
    * vocabulary; `p_r`/`b_r`/`v_r` per round — v_k carries every merge
    * applied, so the encode oracle reads symbol counts straight off it.
    */
  private def bpeCtes(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT l[i] AS a, l[i + 1] AS b, sum(freq)::BIGINT AS c
         |  FROM (SELECT string_split(trim(s), ' ') AS l, freq FROM v${r - 1}),
         |       unnest(range(1, len(l))) AS u(i)
         |  GROUP BY a, b),
         |b$r AS MATERIALIZED (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT token, replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s, freq
         |  FROM v${r - 1} CROSS JOIN b$r)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS MATERIALIZED (
       |  SELECT token, ' ' || array_to_string(string_split(token, ''), ' ') || ' ' AS s, freq
       |  FROM (SELECT token, count(*)::BIGINT AS freq FROM (
       |          SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
       |          FROM documents) GROUP BY token)),
       |$rounds""".stripMargin
  }

  /** Replays [[graft.operators.QualityClassifier.trainPerceptron]]'s
    * all-integer batch-perceptron optimization as `k` CTE layers: epoch 1
    * scores the zero model (every doc misclassified), each later epoch
    * scores against w{t-1}, updates on the misclassified set, and the
    * trace reads the wrong-count before / l1 mass after each update.
    */
  /** The shared text→hashed-features CTE prefix of the perceptron
    * oracles (tokens, labels, unigram+bigram features, the bias bucket).
    */
  private val perceptronFeatsCtes: String =
    s"""t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       |lab AS MATERIALIZED (SELECT doc_id, (CASE WHEN len(toks) >= 45 THEN 1 ELSE -1 END)::BIGINT AS y FROM t),
       |fraw AS (
       |  SELECT doc_id, unnest(toks) AS f FROM t
       |  UNION ALL
       |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS f
       |  FROM t, unnest(range(1, len(toks))) AS v(i) WHERE len(toks) >= 2),
       |pfeats AS MATERIALIZED (
       |  SELECT doc_id, y, (${md24("f")} % 4096)::INTEGER AS bucket, count(*)::BIGINT AS cnt
       |  FROM fraw JOIN lab USING (doc_id) GROUP BY doc_id, y, bucket
       |  UNION ALL
       |  SELECT doc_id, y, 4096 AS bucket, 10::BIGINT AS cnt FROM lab)""".stripMargin

  /** Epoch layers 1..k of the batch-perceptron replay over `feats`
    * (epoch 1 scores the zero model → every doc misclassified).
    */
  private def perceptronLayerCtes(k: Int, feats: String): String = {
    val first =
      s"""wrong1 AS (SELECT DISTINCT doc_id, y FROM $feats),
         |w1 AS MATERIALIZED (SELECT bucket, sum(y * cnt)::BIGINT AS w
         |  FROM $feats JOIN wrong1 USING (doc_id, y) GROUP BY bucket)""".stripMargin
    val rest = (2 to k).map { t =>
      s"""s$t AS (SELECT f.doc_id, f.y, sum(f.cnt * coalesce(w.w, 0))::BIGINT AS s
         |      FROM $feats f LEFT JOIN w${t - 1} w USING (bucket) GROUP BY f.doc_id, f.y),
         |wrong$t AS (SELECT doc_id, y FROM s$t WHERE y * s <= 0),
         |d$t AS (SELECT bucket, sum(y * cnt)::BIGINT AS d
         |      FROM $feats JOIN wrong$t USING (doc_id, y) GROUP BY bucket),
         |w$t AS MATERIALIZED (
         |  SELECT coalesce(a.bucket, b.bucket) AS bucket,
         |         (coalesce(a.w, 0) + coalesce(b.d, 0))::BIGINT AS w
         |  FROM w${t - 1} a FULL OUTER JOIN d$t b ON a.bucket = b.bucket)""".stripMargin
    }
    (first +: rest).mkString(",\n")
  }

  private def perceptronOracleSql(k: Int): String = {
    val trace = (1 to k).map(t =>
      s"""SELECT $t AS iter, (SELECT count(*) FROM wrong$t)::INTEGER AS n_wrong,
         |  (SELECT coalesce(sum(abs(w)), 0) FROM w$t)::BIGINT AS w_l1""".stripMargin)
      .mkString("\nUNION ALL ")
    s"""WITH $perceptronFeatsCtes,
       |${perceptronLayerCtes(k, "pfeats")}
       |$trace
       |ORDER BY iter""".stripMargin
  }

  /** Replays [[graft.operators.QualityClassifier.dataMap]]: margins
    * y·s_t against every post-epoch weight layer, q_t =
    * floor((y·s)/2^10) via double division by a power of two (exact,
    * and floor — matching the engine on NEGATIVE margins where `div`
    * truncation would not), then per-doc mean and the int64
    * variability numerator k·Σq² − (Σq)², ambiguous = top variability
    * tertile (ntile, doc_id tiebreak), else sign of the margin sum.
    */
  private def classifierDatamapOracleSql(k: Int): String = {
    val margins = (1 to k).map { t =>
      s"""SELECT f.doc_id,
         |  floor((f.y * sum(f.cnt * coalesce(w.w, 0)))::DOUBLE / 1024.0)::BIGINT AS q
         |FROM pfeats f LEFT JOIN w$t w USING (bucket)
         |GROUP BY f.doc_id, f.y""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $perceptronFeatsCtes,
       |${perceptronLayerCtes(k, "pfeats")},
       |mq AS MATERIALIZED ($margins),
       |st AS (SELECT doc_id, sum(q)::BIGINT AS sq,
       |    ($k * sum(q * q) - sum(q) * sum(q))::BIGINT AS variability_num
       |  FROM mq GROUP BY doc_id),
       |n3 AS (SELECT *, ntile(3) OVER (ORDER BY variability_num, doc_id) AS tert FROM st)
       |SELECT doc_id, sq::DOUBLE / $k.0 AS mean_margin, variability_num,
       |  CASE WHEN tert = 3 THEN 'ambiguous'
       |       WHEN sq > 0 THEN 'easy' ELSE 'hard' END AS bucket
       |FROM n3 ORDER BY doc_id""".stripMargin
  }

  /** Replays [[graft.operators.QualityClassifier.evalPerceptron]]: the
    * md5-coin 80/20 split, epochs over the train side only, then both
    * sides scored against the final weights.
    */
  private def perceptronEvalOracleSql(k: Int): String =
    s"""WITH $perceptronFeatsCtes,
       |sp AS MATERIALIZED (SELECT doc_id,
       |  CASE WHEN ${md24("doc_id::VARCHAR")} % 5 > 0 THEN 'train' ELSE 'eval' END AS split
       |  FROM lab),
       |tfeats AS MATERIALIZED (
       |  SELECT doc_id, y, bucket, cnt FROM pfeats JOIN sp USING (doc_id) WHERE split = 'train'),
       |${perceptronLayerCtes(k, "tfeats")},
       |sc AS (SELECT f.doc_id, s.split, f.y, sum(f.cnt * coalesce(w.w, 0))::BIGINT AS score
       |  FROM pfeats f JOIN sp s USING (doc_id) LEFT JOIN w$k w USING (bucket)
       |  GROUP BY f.doc_id, s.split, f.y)
       |SELECT split, count(*)::INTEGER AS n_docs,
       |  sum(CASE WHEN y * score <= 0 THEN 1 ELSE 0 END)::INTEGER AS n_wrong
       |FROM sc GROUP BY split ORDER BY split""".stripMargin

  /** Replays [[graft.operators.Similarity.lloydKMeans]] layer by layer:
    * vectors quantized to the 2²⁰ grid (exact in double), assignment
    * `m{t}` is the (d2, cluster)-ordered argmin against `c{t-1}`,
    * centroid update is floor(sum/count) back on the grid. The final
    * layer is assignment-only, matching the Spark loop.
    */
  private def kmeansOracleSql(k: Int, iters: Int): String = {
    val layers = (1 to iters).map { t =>
      val assign =
        s"""a$t AS (SELECT e.vec_id, c.cluster, sum((e.v - c.v) * (e.v - c.v))::BIGINT AS d2
           |      FROM e JOIN c${t - 1} c USING (dim) GROUP BY e.vec_id, c.cluster),
           |m$t AS (SELECT vec_id, cluster, d2 FROM (
           |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
           |        FROM a$t) WHERE rn = 1)""".stripMargin
      if (t < iters)
        s"""$assign,
           |c$t AS MATERIALIZED (
           |  SELECT m.cluster, e.dim, floor(sum(e.v)::DOUBLE / count(*))::BIGINT AS v
           |  FROM m$t m JOIN e USING (vec_id) GROUP BY m.cluster, e.dim)""".stripMargin
      else assign
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, d AS dim, floor(embedding[d + 1]::DOUBLE * 1048576.0)::BIGINT AS v
       |  FROM embeddings, unnest(range(0, 64)) AS t(d)),
       |init AS (SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1)::INTEGER AS cluster
       |         FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $k)),
       |c0 AS MATERIALIZED (SELECT i.cluster, e.dim, e.v FROM init i JOIN e USING (vec_id)),
       |$layers
       |SELECT cluster, count(*)::INTEGER AS n_members, sum(d2)::BIGINT AS inertia_fp
       |FROM m$iters GROUP BY cluster ORDER BY cluster""".stripMargin
  }

  /** MMR (Retrieval.mmrSelect) unrolled: top-`n` candidates per query
    * by grid dot, then `k` greedy rounds — each round excludes the
    * picked set (anti left-join), computes max-sim against it, and
    * takes the per-query argmax of rel − max-sim (ties to lowest id).
    */
  private def mmrOracleSql(k: Int, n: Int): String = {
    val rounds = (2 to k).map { r =>
      s"""m$r AS (SELECT c.query_id, c.cand_id, c.rel, c.cv,
         |    c.rel - max(${dotL("c.cv", "s.cv")}) AS score
         |  FROM cand c
         |  JOIN u${r - 1} s ON s.query_id = c.query_id
         |  LEFT JOIN u${r - 1} x ON x.query_id = c.query_id AND x.cand_id = c.cand_id
         |  WHERE x.cand_id IS NULL
         |  GROUP BY c.query_id, c.cand_id, c.rel, c.cv),
         |s$r AS (SELECT query_id, cand_id, score AS mmr, cv FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rn
         |    FROM m$r) WHERE rn = 1),
         |u$r AS MATERIALIZED (SELECT query_id, cand_id, cv FROM u${r - 1}
         |  UNION ALL SELECT query_id, cand_id, cv FROM s$r)""".stripMargin
    }.mkString(",\n")
    val out = (1 to k)
      .map(r => s"SELECT query_id, $r::INTEGER AS sel_round, cand_id, mmr AS mmr_fp FROM s$r")
      .mkString("\nUNION ALL ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> floor(x::DOUBLE * 1048576.0)::BIGINT) AS qv
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, qv AS qqv FROM e WHERE vec_id < 10),
       |sc AS (SELECT query_id, e.vec_id AS cand_id, ${dotL("qv", "qqv")} AS rel, qv AS cv
       |  FROM e CROSS JOIN q WHERE e.vec_id <> query_id),
       |cand AS MATERIALIZED (SELECT query_id, cand_id, rel, cv FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn FROM sc)
       |  WHERE rn <= $n),
       |s1 AS (SELECT query_id, cand_id, rel AS mmr, cv FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn FROM cand)
       |  WHERE rn = 1),
       |u1 AS MATERIALIZED (SELECT query_id, cand_id, cv FROM s1),
       |$rounds
       |SELECT * FROM (
       |$out)
       |ORDER BY query_id, sel_round""".stripMargin
  }

  /** Greedy facility location (CorpusSelection.facilitySelect)
    * unrolled: ReLU'd grid dots point×pool, per-round marginal-gain
    * argmax over the not-yet-picked pool, coverage running max.
    */
  private def facilityOracleSql(k: Int): String = {
    val rounds = (2 to k).map { r =>
      s"""cov${r - 1} AS MATERIALIZED (
         |  SELECT c.pid, greatest(c.cov, d.sim) AS cov
         |  FROM cov${r - 2} c JOIN dots d ON d.pid = c.pid JOIN p${r - 1} ON p${r - 1}.cid = d.cid),
         |g$r AS (SELECT d.cid, sum(greatest(d.sim - c.cov, 0))::BIGINT AS gain
         |  FROM dots d JOIN cov${r - 1} c USING (pid)
         |  WHERE d.cid NOT IN (SELECT cid FROM u${r - 1}) GROUP BY d.cid),
         |p$r AS (SELECT cid, gain FROM g$r ORDER BY gain DESC, cid LIMIT 1),
         |u$r AS (SELECT cid FROM u${r - 1} UNION ALL SELECT cid FROM p$r)""".stripMargin
    }.mkString(",\n")
    val out = (1 to k)
      .map(r => s"SELECT $r::INTEGER AS sel_round, cid AS center_id, gain AS gain_fp FROM p$r")
      .mkString("\nUNION ALL ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> floor(x::DOUBLE * 1048576.0)::BIGINT) AS qv
       |  FROM embeddings),
       |pv AS MATERIALIZED (SELECT vec_id AS cid, qv AS cv FROM e WHERE vec_id % 31 = 0),
       |dots AS MATERIALIZED (
       |  SELECT p.vec_id AS pid, c.cid, greatest(${dotL("p.qv", "c.cv")}, 0) AS sim
       |  FROM e p CROSS JOIN pv c),
       |cov0 AS (SELECT vec_id AS pid, 0::BIGINT AS cov FROM e),
       |g1 AS (SELECT d.cid, sum(greatest(d.sim - c.cov, 0))::BIGINT AS gain
       |  FROM dots d JOIN cov0 c USING (pid) GROUP BY d.cid),
       |p1 AS (SELECT cid, gain FROM g1 ORDER BY gain DESC, cid LIMIT 1),
       |u1 AS (SELECT cid FROM p1),
       |$rounds
       |SELECT * FROM (
       |$out)
       |ORDER BY sel_round""".stripMargin
  }

  /** Greedy k-center (CorpusSelection.kCenterSelect) unrolled: seed =
    * lowest id, then per round the argmax of the running min-d2 table,
    * which is then least()-merged with distances to the new center —
    * same integer grid as the k-means oracle.
    */
  private def kcenterOracleSql(k: Int): String = {
    def d2From(centerCte: String): String =
      s"""SELECT e.vec_id, sum((e.v - ce.v) * (e.v - ce.v))::BIGINT AS d2
         |    FROM e JOIN (SELECT e2.dim, e2.v FROM e e2 JOIN $centerCte ON e2.vec_id = $centerCte.cid) ce USING (dim)
         |    GROUP BY e.vec_id""".stripMargin
    val rounds = (1 until k).map { r =>
      val pick = s"p$r AS (SELECT vec_id AS cid, d2 FROM md${r - 1} ORDER BY d2 DESC, vec_id LIMIT 1)"
      if (r < k - 1)
        s"""$pick,
           |md$r AS MATERIALIZED (SELECT m.vec_id, least(m.d2, n.d2) AS d2 FROM md${r - 1} m JOIN (
           |    ${d2From(s"p$r")}) n USING (vec_id))""".stripMargin
      else pick
    }.mkString(",\n")
    val out = (1 until k)
      .map(r => s"UNION ALL SELECT $r::INTEGER, cid, d2 FROM p$r")
      .mkString("\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, d AS dim, floor(embedding[d + 1]::DOUBLE * 1048576.0)::BIGINT AS v
       |  FROM embeddings, unnest(range(0, 64)) AS t(d)),
       |c0 AS (SELECT min(vec_id) AS cid FROM embeddings),
       |md0 AS MATERIALIZED (
       |  ${d2From("c0")}),
       |$rounds
       |SELECT 0::INTEGER AS sel_round, cid AS center_id, 0::BIGINT AS radius_fp FROM c0
       |$out
       |ORDER BY sel_round""".stripMargin
  }

  private def bpeOracleSql(k: Int): String = {
    val union = (1 to k).map(r =>
      s"SELECT $r AS step, a AS merge_left, b AS merge_right, c AS pair_count FROM b$r")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeCtes(k)}
       |$union
       |ORDER BY step""".stripMargin
  }

  private def bpeTokenizeOracleSql(k: Int): String =
    s"""WITH ${bpeCtes(k)},
       |enc AS (SELECT token, len(string_split(trim(s), ' ')) AS nsym FROM v$k),
       |tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token FROM documents)
       |SELECT doc_id, count(*)::INTEGER AS n_ws_tokens, sum(nsym)::INTEGER AS n_bpe_tokens
       |FROM tok JOIN enc USING (token)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** One Viterbi round of the unigram-LM tokenizer oracle
    * ([[graft.operators.UnigramLm.viterbiSeg]]): the integer lattice
    * shortest path unrolled to `maxLen` cumulative position layers
    * (d{r}_j adds the pos=j costs; every layer is referenced twice so
    * every layer is MATERIALIZED — the CTE-inlining trap), then the
    * backward argmin walk as `maxLen` more layers (ties: smallest
    * total cost, then LONGEST piece — `ORDER BY c + cfp, l DESC`,
    * exactly the engine's (k, −l) struct sort). Emits seg$r
    * (word, wcnt, seg) and usage$r (piece, n_uses).
    */
  private def spmViterbiCtes(r: Int, costTable: String, maxLen: Int,
                             pieceLen: Int): String = {
    val fwd = (1 to maxLen).map { j =>
      s"""d${r}_$j AS MATERIALIZED (
         |  SELECT * FROM d${r}_${j - 1}
         |  UNION ALL
         |  SELECT p.word, p.wcnt, $j AS pos, min(p.c + cc.cfp)::BIGINT AS c
         |  FROM d${r}_${j - 1} p
         |  JOIN $costTable cc ON cc.piece = substr(p.word, p.pos + 1, $j - p.pos)
         |  WHERE p.pos BETWEEN $j - $pieceLen AND $j - 1 AND len(p.word) >= $j
         |  GROUP BY p.word, p.wcnt)""".stripMargin
    }.mkString(",\n")
    val back = (1 to maxLen).map { t =>
      s"""s${r}_$t AS MATERIALIZED (
         |  SELECT word, wcnt, pos, seg FROM s${r}_${t - 1} WHERE pos = 0
         |  UNION ALL
         |  SELECT word, wcnt, pos - l AS pos,
         |    CASE WHEN seg = '' THEN piece ELSE piece || ' ' || seg END AS seg
         |  FROM (
         |    SELECT s.word, s.wcnt, s.pos, s.seg, ll.l,
         |      substr(s.word, s.pos - ll.l + 1, ll.l) AS piece,
         |      row_number() OVER (PARTITION BY s.word
         |        ORDER BY d.c + cc.cfp ASC, ll.l DESC) AS rn
         |    FROM s${r}_${t - 1} s
         |    JOIN range(1, ${pieceLen + 1}) ll(l) ON ll.l <= s.pos
         |    JOIN d${r}_$maxLen d ON d.word = s.word AND d.pos = s.pos - ll.l
         |    JOIN $costTable cc ON cc.piece = substr(s.word, s.pos - ll.l + 1, ll.l)
         |    WHERE s.pos > 0)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""d${r}_0 AS (SELECT word, wcnt, 0 AS pos, 0::BIGINT AS c FROM words),
       |$fwd,
       |s${r}_0 AS (SELECT word, wcnt, len(word)::INTEGER AS pos, ''::VARCHAR AS seg FROM words),
       |$back,
       |seg$r AS MATERIALIZED (SELECT word, wcnt, seg FROM s${r}_$maxLen WHERE pos = 0),
       |usage$r AS MATERIALIZED (
       |  SELECT piece, sum(wcnt)::BIGINT AS n_uses
       |  FROM (SELECT wcnt, unnest(string_split(seg, ' ')) AS piece FROM seg$r)
       |  GROUP BY piece)""".stripMargin
  }

  /** Replays [[graft.operators.UnigramLm]]'s 2-round hard-EM fit:
    * word counts → substring seed vocabulary (all chars + top
    * `seedMulti` multi-char substrings) → NLL costs on the 2⁴⁰ grid →
    * Viterbi round 1 → char-preserving top-`keepMulti` prune with +1
    * smoothing → Viterbi round 2. `maxLen` bounds the unroll to the
    * fixture's longest word (8 at every sf — the synthetic vocabulary
    * is fixed), mirroring the perceptron/PageRank layer unrolls.
    */
  private def spmCtes(maxLen: Int = 8, pieceLen: Int = 4,
                      seedMulti: Int = 16, keepMulti: Int = 12): String =
    s"""words AS MATERIALIZED (
       |  SELECT w AS word, count(*)::BIGINT AS wcnt
       |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |sub AS MATERIALIZED (
       |  SELECT substr(word, i, l) AS piece, sum(wcnt)::BIGINT AS cnt
       |  FROM words, range(1, ${maxLen + 1}) ri(i), range(1, ${pieceLen + 1}) rl(l)
       |  WHERE i + l - 1 <= len(word) GROUP BY 1),
       |v0 AS MATERIALIZED (
       |  SELECT piece, cnt FROM sub WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (SELECT piece, cnt FROM sub WHERE len(piece) > 1
       |    ORDER BY cnt DESC, piece LIMIT $seedMulti)),
       |t0 AS (SELECT sum(cnt)::BIGINT AS t FROM v0),
       |c0 AS MATERIALIZED (SELECT piece,
       |  floor(-ln(cnt::DOUBLE / t::DOUBLE) * 1099511627776.0)::BIGINT AS cfp FROM v0, t0),
       |${spmViterbiCtes(1, "c0", maxLen, pieceLen)},
       |v1 AS MATERIALIZED (
       |  SELECT p.piece, (coalesce(u.n_uses, 0) + 1)::BIGINT AS cnt
       |  FROM (SELECT piece FROM v0 WHERE len(piece) = 1
       |        UNION ALL
       |        SELECT piece FROM (SELECT piece FROM usage1 WHERE len(piece) > 1
       |          ORDER BY n_uses DESC, piece LIMIT $keepMulti)) p
       |  LEFT JOIN usage1 u USING (piece)),
       |t1 AS (SELECT sum(cnt)::BIGINT AS t FROM v1),
       |c1 AS MATERIALIZED (SELECT piece,
       |  floor(-ln(cnt::DOUBLE / t::DOUBLE) * 1099511627776.0)::BIGINT AS cfp FROM v1, t1),
       |${spmViterbiCtes(2, "c1", maxLen, pieceLen)}""".stripMargin

  /** Replays [[graft.operators.Graph.trussPeel]]: `rounds` unrolled
    * layers of [neighbor list → per-edge common-neighbor count →
    * support filter] over the hash-sparsified undirected simple
    * item-transition graph (every layer MATERIALIZED — each is
    * referenced by the next round's three joins).
    */
  private def ktrussOracleSql(k: Int, rounds: Int): String = {
    val rs = (1 to rounds).map { r =>
      s"""d$r AS (SELECT u AS x, v AS w FROM e${r - 1}
         |  UNION ALL SELECT v AS x, u AS w FROM e${r - 1}),
         |s$r AS (SELECT e.u, e.v, count(*)::BIGINT AS sup
         |  FROM e${r - 1} e JOIN d$r p ON p.x = e.u
         |  JOIN d$r q ON q.x = e.v AND q.w = p.w
         |  GROUP BY e.u, e.v),
         |e$r AS MATERIALIZED (
         |  SELECT e.u, e.v, coalesce(s.sup, 0)::BIGINT AS sup
         |  FROM e${r - 1} e LEFT JOIN s$r s ON s.u = e.u AND s.v = e.v
         |  WHERE coalesce(s.sup, 0) >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    val curve = (0 to rounds).map { r =>
      val removed =
        if (r == 0) "0::BIGINT"
        else s"(SELECT count(*) FROM e${r - 1})::BIGINT - (SELECT count(*) FROM e$r)::BIGINT"
      s"""SELECT $r AS round, (SELECT count(*) FROM e$r)::BIGINT AS n_edges,
         |  $removed AS n_removed""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ev AS (SELECT user_id, ts, event_id, json_extract_string(props, '$$.k')::BIGINT AS k FROM events),
       |raw AS (SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src, k AS dst FROM ev),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |    AND (${md24("'tr:' || least(src, dst)::VARCHAR || ':' || greatest(src, dst)::VARCHAR")}) % 5 = 0),
       |$rs
       |$curve
       |ORDER BY round""".stripMargin
  }

  /** Shared flags CTE of the curation self-audit rows: the gopher
    * rules (verbatim the quality_gopher oracle, un-planted), the hash
    * classifier's label, and the length gate over the RAW corpus,
    * joined to `flags(doc_id, n_chars, classifier, gopher, long250)`.
    */
  private def gateFlagsCtes: String =
    s"""gt AS MATERIALIZED (SELECT doc_id, text, n_chars,
       |  string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       |gg AS (SELECT doc_id,
       |    (len(toks) >= 5 AND len(toks) <= 100000
       |     AND length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(toks)::DOUBLE >= 3.0
       |     AND length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(toks)::DOUBLE <= 10.0
       |     AND len(regexp_extract_all(text, '[#…]'))::DOUBLE / len(toks)::DOUBLE <= 0.1
       |     AND len(list_filter(toks, x -> regexp_matches(x, '[a-zа-яё]')))::DOUBLE / len(toks)::DOUBLE >= 0.8
       |     AND len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it')))::INTEGER >= 2) AS gopher
       |  FROM gt),
       |gfeats AS (
       |  SELECT doc_id, unnest(toks) AS f FROM gt
       |  UNION ALL
       |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS f
       |  FROM gt, unnest(range(1, len(toks))) AS v(i) WHERE len(toks) >= 2),
       |glab AS (SELECT doc_id, sum(w_fp) > 0 AS classifier FROM (
       |    SELECT doc_id, (${md24(s"'w:' || ((${md24("f")}) % 4096)::VARCHAR")} - 8388608)::BIGINT AS w_fp
       |    FROM gfeats) GROUP BY doc_id),
       |flags AS MATERIALIZED (
       |  SELECT gt.doc_id, gt.n_chars, glab.classifier, gg.gopher,
       |    gt.n_chars >= 250 AS long250
       |  FROM gt JOIN gg USING (doc_id) JOIN glab USING (doc_id))""".stripMargin

  private def spmTrainOracleSql: String =
    s"""WITH ${spmCtes()}
       |SELECT v1.piece, len(v1.piece)::INTEGER AS piece_len,
       |  coalesce(u.n_uses, 0)::BIGINT AS n_uses
       |FROM v1 LEFT JOIN usage2 u USING (piece)
       |ORDER BY n_uses DESC, piece""".stripMargin

  private def spmTokenizeOracleSql: String =
    s"""WITH ${spmCtes()},
       |np AS (SELECT word, len(string_split(seg, ' '))::INTEGER AS n_pieces FROM seg2),
       |tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word FROM documents)
       |SELECT doc_id, count(*)::INTEGER AS n_ws_tokens, sum(n_pieces)::INTEGER AS n_spm_tokens
       |FROM tok JOIN np USING (word) WHERE word <> ''
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Each sweep point replays the FULL fit at its own keepMulti inside
    * its own subquery — CTE names scope per subquery, so the two
    * instantiations of the spm CTE chain never collide.
    */
  private def spmVocabSweepOracleSql(keepMultis: Seq[Int]): String =
    keepMultis.map { km =>
      s"""SELECT * FROM (
         |  WITH ${spmCtes(keepMulti = km)}
         |  SELECT $km AS keep_multi,
         |    (SELECT count(*) FROM v1)::BIGINT AS vocab_size,
         |    (SELECT sum(wcnt) FROM seg2)::BIGINT AS n_words,
         |    (SELECT sum(wcnt * len(string_split(seg, ' '))) FROM seg2)::BIGINT AS n_pieces,
         |    (SELECT sum(wcnt * len(string_split(seg, ' '))) FROM seg2)::DOUBLE
         |      / (SELECT sum(wcnt) FROM seg2)::DOUBLE AS fertility
         |)""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY keep_multi"

  private def spmFertilityOracleSql: String =
    s"""WITH ${spmCtes()},
       |np AS (SELECT word, len(string_split(seg, ' '))::INTEGER AS np,
       |         len(word)::INTEGER AS nc FROM seg2),
       |tok AS (SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word FROM documents)
       |SELECT lang, count(*)::BIGINT AS n_words, sum(np)::BIGINT AS n_pieces,
       |  sum(nc)::BIGINT AS n_chars,
       |  sum(np)::DOUBLE / count(*)::DOUBLE AS fertility,
       |  sum(nc)::DOUBLE / sum(np)::DOUBLE AS chars_per_piece
       |FROM tok JOIN np USING (word) WHERE word <> ''
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Bradley–Terry MM fixpoint (EvalMetrics.bradleyTerry) unrolled to
    * `iters` rounds on the 2^20 integer grid over the item-transition
    * matches: per round the pair terms n_ij·2^40 // (p_i+p_j), the raw
    * update w_i·2^40 // s_i (floor 1 for winless items), and the
    * pre-shifted renorm (praw·K) // (Σpraw // 2^20) — every `//`
    * mirrors Spark's `div` on nonnegative int64.
    */
  private def bradleyTerryOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      val prev = s"p${t - 1}"
      s"""w$t AS (SELECT m.i, m.j, (m.nij * 1099511627776) // (pi.p + pj.p) AS tt
         |  FROM pairs m JOIN $prev pi ON pi.item = m.i JOIN $prev pj ON pj.item = m.j),
         |s$t AS (SELECT item, sum(tt)::BIGINT AS s FROM (
         |    SELECT i AS item, tt FROM w$t UNION ALL SELECT j AS item, tt FROM w$t)
         |  GROUP BY item),
         |r$t AS (SELECT items.item,
         |    CASE WHEN coalesce(wins.wi, 0) = 0 OR s.s IS NULL OR s.s = 0 THEN 1
         |      ELSE (wins.wi * 1099511627776) // s.s END::BIGINT AS praw
         |  FROM items LEFT JOIN wins USING (item) LEFT JOIN s$t s USING (item)),
         |t$t AS (SELECT sum(praw)::BIGINT AS tot FROM r$t),
         |p$t AS MATERIALIZED (SELECT item,
         |    greatest((praw * kk.k) // greatest(tot // 1048576, 1), 1)::BIGINT AS p
         |  FROM r$t, t$t, kk)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (SELECT user_id, ts, event_id, json_extract_string(props, '$$.k')::BIGINT AS k FROM events),
       |mt AS MATERIALIZED (
       |  SELECT loser, winner FROM (
       |    SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS loser, k AS winner FROM ev)
       |  WHERE loser IS NOT NULL AND winner IS NOT NULL AND loser <> winner),
       |pairs AS MATERIALIZED (
       |  SELECT least(winner, loser) AS i, greatest(winner, loser) AS j, count(*)::BIGINT AS nij
       |  FROM mt GROUP BY 1, 2),
       |wins AS MATERIALIZED (SELECT winner AS item, count(*)::BIGINT AS wi FROM mt GROUP BY 1),
       |items AS MATERIALIZED (SELECT DISTINCT item FROM (
       |  SELECT i AS item FROM pairs UNION ALL SELECT j AS item FROM pairs)),
       |kk AS (SELECT count(*)::BIGINT AS k FROM items),
       |p0 AS MATERIALIZED (SELECT item, 1048576::BIGINT AS p FROM items),
       |$rounds
       |SELECT item, p AS rating_fp, (p::DOUBLE / 1048576.0) AS rating FROM p$iters
       |ORDER BY rating_fp DESC, item""".stripMargin
  }

  /** Damped PageRank (Graph.pageRank) unrolled to `iters` power
    * iterations: integer fixed-point ranks (2^-40 grid), per-edge
    * contribution `r // outdeg`, damping `(85*s) // 100` — all-integer,
    * so the compare is exact. `//` (floor) matches Spark's `div`
    * (truncation) because every operand is nonnegative.
    */
  private def pageRankOracleSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s"""inc$i AS (SELECT dst AS node, sum(r // outdeg)::BIGINT AS s
         |  FROM ew JOIN $prev ON $prev.node = ew.src GROUP BY dst),
         |r$i AS MATERIALIZED (
         |  SELECT nodes.node, (nn.base + (85 * coalesce(inc$i.s, 0)) // 100)::BIGINT AS r
         |  FROM nodes CROSS JOIN nn LEFT JOIN inc$i ON inc$i.node = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (SELECT user_id, ts, event_id, json_extract_string(props, '$$.k')::BIGINT AS k FROM events),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src, k AS dst FROM ev)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL),
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges)),
       |nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n,
       |  (1099511627776 // count(*))::BIGINT AS init,
       |  (((1099511627776 // count(*)) * 15) // 100)::BIGINT AS base FROM nodes),
       |ew AS MATERIALIZED (SELECT src, dst, outdeg FROM edges
       |  JOIN (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src) USING (src)),
       |r0 AS MATERIALIZED (SELECT node, nn.init AS r FROM nodes, nn),
       |$iterCtes
       |SELECT node, r AS rank_fp, (r::DOUBLE / 1099511627776.0) AS rank FROM r$iters
       |ORDER BY rank_fp DESC, node LIMIT 50""".stripMargin
  }

  /** HITS (Graph.hits) unrolled: per iteration an authority half-step
    * (sum hub mass over in-edges, renormalize the total to 2^20 by one
    * integer division) then a hub half-step over out-edges — the same
    * item-transition edge list as the PageRank oracle.
    */
  private def hitsOracleSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      val prevH = s"h${i - 1}"
      s"""ar$i AS (SELECT dst AS node, sum(h)::BIGINT AS s
         |  FROM edges JOIN $prevH ON $prevH.node = edges.src GROUP BY dst),
         |at$i AS (SELECT sum(s)::BIGINT AS t FROM ar$i),
         |a$i AS MATERIALIZED (SELECT nodes.node,
         |  ((coalesce(ar$i.s, 0) * 1048576) // at$i.t)::BIGINT AS a
         |  FROM nodes CROSS JOIN at$i LEFT JOIN ar$i ON ar$i.node = nodes.node),
         |hr$i AS (SELECT src AS node, sum(a)::BIGINT AS s
         |  FROM edges JOIN a$i ON a$i.node = edges.dst GROUP BY src),
         |ht$i AS (SELECT sum(s)::BIGINT AS t FROM hr$i),
         |h$i AS MATERIALIZED (SELECT nodes.node,
         |  ((coalesce(hr$i.s, 0) * 1048576) // ht$i.t)::BIGINT AS h
         |  FROM nodes CROSS JOIN ht$i LEFT JOIN hr$i ON hr$i.node = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (SELECT user_id, ts, event_id, json_extract_string(props, '$$.k')::BIGINT AS k FROM events),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src, k AS dst FROM ev)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL),
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges)),
       |h0 AS (SELECT node, 1048576::BIGINT AS h FROM nodes),
       |$iterCtes
       |SELECT node, a AS auth_fp, h AS hub_fp,
       |  (a::DOUBLE / 1048576.0) AS authority, (h::DOUBLE / 1048576.0) AS hub
       |FROM a$iters JOIN h$iters USING (node)
       |ORDER BY auth_fp DESC, node LIMIT 50""".stripMargin
  }

  /** HyperBall (Graph.hyperBall) unrolled: sparse (node, register,
    * rank) tables per round, each round = in-neighbor merge by
    * elementwise max; per-round ball estimates via the linear-counting
    * / raw branch of active_users_hll; harmonic sum on the q10 grid.
    */
  private def hyperballOracleSql(rounds: Int): String = {
    val iterCtes = (1 to rounds).map { i =>
      s"""r$i AS MATERIALIZED (SELECT node, j, max(mr) AS mr FROM (
         |  SELECT e.dst AS node, p.j, p.mr FROM edges e JOIN r${i - 1} p ON p.node = e.src
         |  UNION ALL SELECT node, j, mr FROM r${i - 1}) GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val sumCtes = (0 to rounds).map { i =>
      s"""s$i AS (SELECT node, (256 - count(*))::BIGINT AS vz,
         |  (sum(1::BIGINT << (49 - mr)) + (256 - count(*)) * 562949953421312)::BIGINT AS ss
         |  FROM r$i GROUP BY 1),
         |e$i AS MATERIALIZED (SELECT node,
         |  CASE WHEN vz > 0 AND floor(2.6499581405668102e19 / ss::DOUBLE * 1024.0)::BIGINT <= 655360
         |       THEN floor(ln(256.0 / vz::DOUBLE) * 256.0 * 1024.0)::BIGINT
         |       ELSE floor(2.6499581405668102e19 / ss::DOUBLE * 1024.0)::BIGINT END AS est
         |  FROM s$i)""".stripMargin
    }.mkString(",\n")
    val balls = (0 to rounds).map(i => s"e$i.est AS ball${i}_q10").mkString(", ")
    val joins = (1 to rounds).map(i => s"JOIN e$i USING (node)").mkString(" ")
    val harmonic = (1 to rounds)
      .map(i => s"(greatest(0, e$i.est - e${i - 1}.est) // $i)").mkString(" + ")
    s"""WITH ev AS (SELECT user_id, ts, event_id, json_extract_string(props, '$$.k')::BIGINT AS k FROM events),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src, k AS dst FROM ev)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
       |nodes AS (SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges)),
       |c AS (SELECT node,
       |  list_reduce(list_transform(string_split(substr(md5('hb:' || node), 1, 14), ''),
       |    ch -> strpos('0123456789abcdef', ch) - 1), (a, b) -> a * 16 + b)::BIGINT AS coin
       |  FROM nodes),
       |r0 AS MATERIALIZED (SELECT node, coin >> 48 AS j,
       |  CASE WHEN (coin & 281474976710655) = 0 THEN 49
       |       ELSE 49 - length(bin(coin & 281474976710655)) END AS mr FROM c),
       |$iterCtes,
       |$sumCtes
       |SELECT e0.node, $balls,
       |  ($harmonic)::BIGINT AS harmonic_q10
       |FROM e0 $joins
       |ORDER BY harmonic_q10 DESC, e0.node LIMIT 50""".stripMargin
  }

  /** Markov removal-effect attribution (Attribution.removalEffects)
    * unrolled: transition counts from the same window pass, then
    * `rounds` Jacobi sweeps per variant (full chain + one per removed
    * channel) in HUGEINT fixed point — every sweep's floor division
    * replayed exactly.
    */
  private def attributionOracleSql(rounds: Int): String = {
    val grid = 1L << 40
    val channels = Seq("click", "error", "signup", "view")
    val variants = Seq(("full", None: Option[String])) ++ channels.map(c => (c, Some(c)))
    val varCtes = variants.map { case (name, removed) =>
      val base = s"v_${name}_0 AS (SELECT s, CASE WHEN s = 'purchase' THEN ${grid}::HUGEINT ELSE 0::HUGEINT END AS val FROM st)"
      val iters = (1 to rounds).map { i =>
        val removedCond = removed.map(c => s" OR st.s = '$c'").getOrElse("")
        s"""v_${name}_$i AS (SELECT st.s,
           |    CASE WHEN st.s = 'purchase' THEN ${grid}::HUGEINT
           |         WHEN st.s = 'END'$removedCond THEN 0::HUGEINT
           |         ELSE coalesce(x.acc, 0::HUGEINT) END AS val
           |  FROM st LEFT JOIN (
           |    SELECT t.from_s AS s, (sum(t.cnt * p.val) // max(tt.tot)) AS acc
           |    FROM tr t JOIN v_${name}_${i - 1} p ON p.s = t.to_s
           |    JOIN tt ON tt.from_s = t.from_s GROUP BY t.from_s) x USING (s))""".stripMargin
      }
      (base +: iters).mkString(",\n")
    }.mkString(",\n")
    val prUnion = channels
      .map(c => s"SELECT '$c' AS channel, val FROM v_${c}_$rounds WHERE s = 'START'")
      .mkString(" UNION ALL ")
    s"""WITH o AS (SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ord FROM $EV),
       |fc AS (SELECT user_id, min(ord) AS conv_ord FROM o WHERE event_type = 'purchase' GROUP BY 1),
       |j AS (SELECT o.user_id, o.event_type, o.ord FROM o LEFT JOIN fc USING (user_id)
       |      WHERE fc.conv_ord IS NULL OR o.ord <= fc.conv_ord),
       |steps AS (SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id ORDER BY ord), 'START') AS from_s,
       |    event_type AS to_s FROM j),
       |term AS (SELECT arg_max(event_type, ord) AS from_s, 'END' AS to_s FROM j GROUP BY user_id),
       |tr AS MATERIALIZED (SELECT from_s, to_s, count(*)::BIGINT AS cnt FROM (
       |    SELECT * FROM steps UNION ALL SELECT * FROM term WHERE from_s <> 'purchase') GROUP BY 1, 2),
       |tt AS MATERIALIZED (SELECT from_s, sum(cnt)::BIGINT AS tot FROM tr GROUP BY 1),
       |st AS MATERIALIZED (SELECT DISTINCT s FROM (
       |    SELECT from_s AS s FROM tr UNION ALL SELECT to_s FROM tr)),
       |$varCtes,
       |pf AS (SELECT val AS pv FROM v_full_$rounds WHERE s = 'START')
       |SELECT c.channel,
       |  pf.pv::BIGINT AS p_conv_fp,
       |  pr.val::BIGINT AS p_removed_fp,
       |  (CASE WHEN pf.pv > 0 THEN (pf.pv - pr.val) * 1048576 // pf.pv ELSE 0 END)::BIGINT AS removal_q20
       |FROM (VALUES ('click'), ('error'), ('signup'), ('view')) c(channel)
       |CROSS JOIN pf
       |JOIN ($prUnion) pr USING (channel)
       |ORDER BY channel""".stripMargin
  }

  /** k-core peel (Graph.kCore, k=2, mod-13 sparsified item graph)
    * unrolled to `rounds` layers: each layer keeps edges whose BOTH
    * endpoints had degree >= k in the previous layer. Peeling is
    * monotone, so the engine early-stopping at an earlier fixpoint and
    * the oracle always computing `rounds` layers agree.
    */
  private def kcoreOracleSql(rounds: Int, k: Int): String = {
    val layers = (1 to rounds).map { i =>
      val prev = s"sym${i - 1}"
      s"""k$i AS (SELECT src AS node FROM $prev GROUP BY src HAVING count(*) >= $k),
         |sym$i AS MATERIALIZED (SELECT s.src, s.dst FROM $prev s
         |  JOIN k$i a ON s.src = a.node JOIN k$i b ON s.dst = b.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (SELECT user_id, ts, event_id, json_extract_string(props, '$$.k')::BIGINT AS k FROM events),
       |e0 AS (SELECT src, dst FROM (
       |    SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src, k AS dst FROM ev)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND (src * 31 + dst) % 13 = 0 AND src <> dst),
       |sym0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
       |$layers
       |SELECT src AS node, count(*)::BIGINT AS degree FROM sym$rounds
       |GROUP BY src ORDER BY node""".stripMargin
  }

  /** DSIR scoring (CorpusSelection.dsirScores, target = src0) as CTEs
    * ending in `w(doc_id, n_feats, weight)`.
    */
  private def dsirCtes: String =
    s"""t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       |feats AS (
       |  SELECT doc_id, unnest(toks) AS f FROM t
       |  UNION ALL
       |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS f
       |  FROM t, unnest(range(1, len(toks))) AS v(i) WHERE len(toks) >= 2),
       |fb AS MATERIALIZED (SELECT doc_id, (${md24("f")} % 4096)::INTEGER AS bucket FROM feats),
       |tgt AS MATERIALIZED (
       |  SELECT bucket, count(*)::BIGINT AS tc FROM fb
       |  JOIN documents USING (doc_id) WHERE source = 'src0' GROUP BY bucket),
       |rawc AS MATERIALIZED (SELECT bucket, count(*)::BIGINT AS rc FROM fb GROUP BY bucket),
       |tot AS MATERIALIZED (SELECT
       |  (SELECT sum(tc) FROM tgt)::DOUBLE AS tt,
       |  (SELECT sum(rc) FROM rawc)::DOUBLE AS rt),
       |grid AS MATERIALIZED (
       |  SELECT g.i::INTEGER AS bucket,
       |    floor((ln((coalesce(tc, 0) + 1)::DOUBLE / (tt + 4096.0))
       |         - ln((coalesce(rc, 0) + 1)::DOUBLE / (rt + 4096.0))) * 1099511627776.0)::BIGINT AS fp
       |  FROM (SELECT unnest(range(0, 4096)) AS i) g
       |  LEFT JOIN tgt ON tgt.bucket = g.i LEFT JOIN rawc ON rawc.bucket = g.i, tot),
       |sc AS (
       |  SELECT doc_id, count(*)::INTEGER AS n_feats, sum(fp)::BIGINT AS sfp
       |  FROM fb JOIN grid USING (bucket) GROUP BY doc_id),
       |w AS MATERIALIZED (
       |  SELECT doc_id, n_feats,
       |    (sfp::DOUBLE / 1099511627776.0 / n_feats::DOUBLE)::FLOAT AS weight
       |  FROM sc)""".stripMargin

  /** Personalized PageRank (Graph.personalizedPageRank, seeds = items
    * 0–9) unrolled: seed-only teleport `base·[is_seed]`, otherwise the
    * pageRankOracleSql recurrence; unreachable nodes stay 0 and drop.
    */
  private def pprOracleSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s"""inc$i AS (SELECT dst AS node, sum(r // outdeg)::BIGINT AS s
         |  FROM ew JOIN $prev ON $prev.node = ew.src GROUP BY dst),
         |r$i AS MATERIALIZED (
         |  SELECT nodes.node,
         |    ((CASE WHEN nodes.is_seed THEN nn.base ELSE 0 END)
         |      + (85 * coalesce(inc$i.s, 0)) // 100)::BIGINT AS r
         |  FROM nodes CROSS JOIN nn LEFT JOIN inc$i ON inc$i.node = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS MATERIALIZED (SELECT user_id, ts, event_id, json_extract_string(props, '$$.k')::BIGINT AS k FROM events),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src, k AS dst FROM ev)
       |  WHERE src IS NOT NULL AND dst IS NOT NULL),
       |seeds AS MATERIALIZED (SELECT DISTINCT k AS node FROM ev WHERE k IS NOT NULL AND k < 10),
       |nodes AS MATERIALIZED (
       |  SELECT n.node, s.node IS NOT NULL AS is_seed FROM (
       |    SELECT DISTINCT node FROM (
       |      SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges
       |      UNION ALL SELECT node FROM seeds)) n
       |  LEFT JOIN seeds s ON s.node = n.node),
       |nn AS MATERIALIZED (SELECT count(*)::BIGINT AS ns,
       |  (1099511627776 // count(*))::BIGINT AS init,
       |  (((1099511627776 // count(*)) * 15) // 100)::BIGINT AS base FROM seeds),
       |ew AS MATERIALIZED (SELECT src, dst, outdeg FROM edges
       |  JOIN (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src) USING (src)),
       |r0 AS MATERIALIZED (
       |  SELECT node, (CASE WHEN is_seed THEN nn.init ELSE 0 END)::BIGINT AS r
       |  FROM nodes, nn),
       |$iterCtes
       |SELECT n.node, n.is_seed, r AS rank_fp, (r::DOUBLE / 1099511627776.0) AS rank
       |FROM r$iters f JOIN nodes n ON n.node = f.node
       |WHERE r > 0 ORDER BY rank_fp DESC, n.node LIMIT 50""".stripMargin
  }

  /** The k-token sliding-window span relation of Dedup.spanRows as CTEs
    * `t(doc_id, toks)` / `s(doc_id, pos, span)` — string spans where the
    * engine ships xxhash64 (the boilerplate-oracle contract: only
    * counts/text cross engines, so hashing is invisible to the compare).
    */
  private def spanCtes(k: Int): String =
    s"""t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       |s AS MATERIALIZED (
       |  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i : i + ${k - 1}], ' ') AS span
       |  FROM t, unnest(range(1, len(toks) - $k + 2)) AS u(i) WHERE len(toks) >= $k),
       |c AS (SELECT span FROM (SELECT span, count(*) AS n FROM s GROUP BY span) WHERE n > 1),
       |d AS (SELECT s.doc_id, s.pos FROM s JOIN c USING (span))""".stripMargin

  /** Winnowing (Winnow.fingerprints, k=4 w=4) as CTEs ending in
    * `sel(doc_id, n_kgrams, fp, fpos)`. The k-gram hash is md24 (the
    * portable hash is REQUIRED here — selection depends on hash order);
    * rightmost-min tiebreak rides the `h·2^24 + (2^24−1−pos)` key, and
    * `//`(floor) matches Spark's `div` because the key is nonnegative.
    */
  private def winnowCtes: String =
    s"""t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, (len(toks) - 3)::INTEGER AS n_kgrams, i - 1 AS pos,
       |    ${md24("array_to_string(toks[i : i + 3], ' ')")} AS h
       |  FROM t, unnest(range(1, len(toks) - 4 + 2)) AS u(i) WHERE len(toks) >= 4),
       |k AS (
       |  SELECT doc_id, n_kgrams, pos,
       |    min(h * 16777216 + (16777215 - pos))
       |      OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS selkey
       |  FROM g),
       |sel AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, n_kgrams,
       |    (selkey // 16777216)::BIGINT AS fp,
       |    (16777215 - (selkey % 16777216))::BIGINT AS fpos
       |  FROM k WHERE pos <= n_kgrams - 4)""".stripMargin

  /** Squared L2 between two 64-dim double lists (left fold). */
  private def d2(v: String, c: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> ($v[i] - $c[i]) * ($v[i] - $c[i])), (x, y) -> x + y)"

  /** The deterministic k-means fit of Similarity.trainCentroids as a CTE
    * chain over vector relation `src` (vec_id, embedding) — shared by the
    * ann_ivf and dedup_semantic oracles. Emits `sample`, `init`, `cent0`
    * .. `cent<iters>`; the final centroid table is `cent<iters>(j, c)`.
    *
    * The quantizer is a DETERMINISTIC model fit — java.util.Random(42)
    * centroid draws (the 48-bit LCG recurrence in HUGEINT with nextInt's
    * rejection rule: rejected draws consume states, so the accepted draws
    * are simply the first `cells` in-range states) + `iters` unrolled
    * Lloyd iterations with the exact float semantics of trainCentroids:
    * per-vector argmin with strict-< ties (first minimal cell), per-cell
    * mean as a SAMPLE-ORDER left fold of vector sums divided by count,
    * empty cells keeping the previous centroid. Two structural
    * necessities: every chained CTE is MATERIALIZED and the recursive LCG
    * lives in a nested sub-WITH — each iteration references its
    * predecessor twice, so default CTE inlining (forced globally when the
    * outer WITH is RECURSIVE) makes the plan 2^iters copies of the chain.
    */
  private def kmeansFitCtes(src: String, iters: Int, cells: Int, sampleN: Int,
                            dim: Int = 64, pfx: String = "",
                            vecExpr: String = "embedding"): String = {
    val nSub = s"(SELECT least(count(*), $sampleN) FROM $src)"
    val d2d = (v: String, c: String) =>
      s"list_reduce(list_transform(range(1, ${dim + 1}), i -> ($v[i] - $c[i]) * ($v[i] - $c[i])), (x, y) -> x + y)"
    def iterCte(prev: String, cur: String): String =
      s"""asn_$cur AS MATERIALIZED (
         |  SELECT rn, v, j FROM (
         |    SELECT s.rn, s.v, c.j,
         |      row_number() OVER (PARTITION BY s.rn ORDER BY ${d2d("s.v", "c.c")}, c.j) AS pick
         |    FROM ${pfx}sample s CROSS JOIN $prev c)
         |  WHERE pick = 1
         |),
         |agg_$cur AS MATERIALIZED (
         |  SELECT j,
         |    list_transform(
         |      list_reduce(list(v ORDER BY rn), (a, b) -> list_transform(range(1, ${dim + 1}), i -> a[i] + b[i])),
         |      x -> x / count(*)) AS c
         |  FROM asn_$cur GROUP BY j
         |),
         |$cur AS MATERIALIZED (
         |  SELECT p.j, coalesce(a.c, p.c) AS c FROM $prev p LEFT JOIN agg_$cur a USING (j)
         |)""".stripMargin
    val chain = (1 to iters).map(i => iterCte(s"${pfx}cent${i - 1}", s"${pfx}cent$i")).mkString(",\n")
    s"""${pfx}sample AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS rn,
       |    list_transform($vecExpr, x -> x::DOUBLE) AS v
       |  FROM $src ORDER BY vec_id LIMIT $sampleN
       |),
       |${pfx}init AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY k) - 1 AS j, m FROM (
       |    WITH RECURSIVE lcg(k, s) AS (
       |      SELECT 0, CAST(xor(42::HUGEINT, 25214903917::HUGEINT) % 281474976710656 AS BIGINT)
       |      UNION ALL
       |      SELECT k + 1, CAST((s::HUGEINT * 25214903917 + 11) % 281474976710656 AS BIGINT)
       |      FROM lcg WHERE k < 64
       |    )
       |    SELECT k, s >> 17 AS r, (s >> 17) % $nSub AS m
       |    FROM lcg WHERE k >= 1)
       |  WHERE r - m + $nSub - 1 <= 2147483647
       |  QUALIFY j < $cells
       |),
       |${pfx}cent0 AS MATERIALIZED (
       |  SELECT ${pfx}init.j, s.v AS c FROM ${pfx}init JOIN ${pfx}sample s ON s.rn = ${pfx}init.m
       |),
       |$chain""".stripMargin
  }

  /** Mirror of Similarity.pqEncode (PQ4×16, dim 64): four prefixed
    * k-means fit chains over the contiguous sub-vector slices, then the
    * IVF assignment rule (ties → higher cell) per sub-space.
    */
  private def pqOracleSql: String = {
    val (m, subDim, cells, iters, sampleN) = (4, 16, 16, 10, 2000)
    val d2s = (v: String, c: String) =>
      s"list_reduce(list_transform(range(1, ${subDim + 1}), i -> ($v[i] - $c[i]) * ($v[i] - $c[i])), (x, y) -> x + y)"
    val subs = (0 until m).map { s =>
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      s"sub$s AS MATERIALIZED (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM embeddings)"
    }.mkString(",\n")
    val fits = (0 until m)
      .map(s => kmeansFitCtes(s"sub$s", iters, cells, sampleN, subDim, s"p${s}_"))
      .mkString(",\n")
    val asn = (0 until m).map { s =>
      s"""a$s AS (
         |  SELECT vec_id, $s AS sub_idx, j AS code FROM (
         |    SELECT t.vec_id, c.j,
         |      row_number() OVER (PARTITION BY t.vec_id ORDER BY ${d2s("t.v", "c.c")} ASC, c.j DESC) AS pick
         |    FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM sub$s) t
         |    CROSS JOIN p${s}_cent$iters c)
         |  WHERE pick = 1)""".stripMargin
    }.mkString(",\n")
    val union = (0 until m).map(s => s"SELECT * FROM a$s").mkString(" UNION ALL ")
    s"""WITH $subs,
       |$fits,
       |$asn
       |SELECT vec_id, sub_idx::INTEGER AS sub_idx, code::INTEGER AS code
       |FROM ($union)
       |ORDER BY vec_id, sub_idx""".stripMargin
  }

  /** Shared PQ4×16 CTE block: sub-vector slices, the four prefixed fit
    * chains, per-sub-space code assignments `a0..a3(vec_id, code)`
    * (ties → higher cell, the [[pqOracleSql]]/IVF rule), and per-query
    * lookup tables `lut0..lut3(query_id, code, d)`.
    */
  private def pqCommonCtes(m: Int, subDim: Int, cells: Int, iters: Int,
                           sampleN: Int): String = {
    val d2s = (v: String, c: String) =>
      s"list_reduce(list_transform(range(1, ${subDim + 1}), i -> ($v[i] - $c[i]) * ($v[i] - $c[i])), (x, y) -> x + y)"
    val subs = (0 until m).map { s =>
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      s"sub$s AS MATERIALIZED (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM embeddings)"
    }.mkString(",\n")
    val fits = (0 until m)
      .map(s => kmeansFitCtes(s"sub$s", iters, cells, sampleN, subDim, s"p${s}_"))
      .mkString(",\n")
    val asn = (0 until m).map { s =>
      s"""a$s AS MATERIALIZED (
         |  SELECT vec_id, j AS code FROM (
         |    SELECT t.vec_id, c.j,
         |      row_number() OVER (PARTITION BY t.vec_id ORDER BY ${d2s("t.v", "c.c")} ASC, c.j DESC) AS pick
         |    FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM sub$s) t
         |    CROSS JOIN p${s}_cent$iters c)
         |  WHERE pick = 1)""".stripMargin
    }.mkString(",\n")
    val luts = (0 until m).map { s =>
      s"""lut$s AS (
         |  SELECT t.vec_id AS query_id, c.j AS code, ${d2s("t.v", "c.c")} AS d
         |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM sub$s WHERE vec_id < 10) t
         |  CROSS JOIN p${s}_cent$iters c)""".stripMargin
    }.mkString(",\n")
    s"$subs,\n$fits,\n$asn,\n$luts"
  }

  /** Mirror of Similarity.pqTopK (ADC over the PQ4×16 codes): the shared
    * PQ CTE block plus the fixed-point long sum over all candidates.
    */
  private def pqAdcOracleSql: String = {
    val (m, subDim, cells, iters, sampleN, k) = (4, 16, 16, 10, 2000, 10)
    val contribs = (0 until m).map { s =>
      s"""c$s AS (
         |  SELECT l.query_id, a.vec_id AS neighbor_id, floor(l.d * 1099511627776.0)::BIGINT AS dfp
         |  FROM a$s a JOIN lut$s l USING (code))""".stripMargin
    }.mkString(",\n")
    val union = (0 until m).map(s => s"SELECT * FROM c$s").mkString(" UNION ALL ")
    s"""WITH ${pqCommonCtes(m, subDim, cells, iters, sampleN)},
       |$contribs,
       |sc AS (SELECT query_id, neighbor_id, sum(dfp)::BIGINT AS adc_fp FROM ($union) GROUP BY query_id, neighbor_id)
       |SELECT query_id, neighbor_id, rank::INTEGER AS rank, (adc_fp::DOUBLE / 1099511627776.0) AS adc_dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_fp ASC, neighbor_id) AS rank FROM sc)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Mirror of LlmQueries.annPqRecall: the ADC top-10 (shared PQ block)
    * measured against the exact squared-L2 brute top-10, per query —
    * the ann_recall harness shape on the L2 metric ADC estimates.
    */
  private def pqRecallOracleSql: String = {
    val (m, subDim, cells, iters, sampleN, k) = (4, 16, 16, 10, 2000, 10)
    val contribs = (0 until m).map { s =>
      s"""c$s AS (
         |  SELECT l.query_id, a.vec_id AS neighbor_id, floor(l.d * 1099511627776.0)::BIGINT AS dfp
         |  FROM a$s a JOIN lut$s l USING (code))""".stripMargin
    }.mkString(",\n")
    val union = (0 until m).map(s => s"SELECT * FROM c$s").mkString(" UNION ALL ")
    s"""WITH ${pqCommonCtes(m, subDim, cells, iters, sampleN)},
       |$contribs,
       |sc AS (SELECT query_id, neighbor_id, sum(dfp)::BIGINT AS adc_fp FROM ($union) GROUP BY query_id, neighbor_id),
       |ap AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_fp ASC, neighbor_id) AS rank FROM sc)
       |  WHERE rank <= $k),
       |allv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |bs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, ${d2("q.v", "c.v")} AS dist2
       |  FROM allv q CROSS JOIN allv c WHERE q.vec_id < 10),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2 ASC, neighbor_id) AS rank FROM bs)
       |  WHERE rank <= $k)
       |SELECT e.query_id, sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::INTEGER AS n_hits,
       |  ((sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100) // count(*))::INTEGER AS recall_pct
       |FROM ex e LEFT JOIN ap a
       |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
  }

  /** Mirror of Similarity.pqRefineTopK: the ADC top-(k·refine)
    * shortlist re-ranked by exact squared L2.
    */
  private def pqRefineOracleSql: String = {
    val (m, subDim, cells, iters, sampleN, k, refine) = (4, 16, 16, 10, 2000, 10, 5)
    val contribs = (0 until m).map { s =>
      s"""c$s AS (
         |  SELECT l.query_id, a.vec_id AS neighbor_id, floor(l.d * 1099511627776.0)::BIGINT AS dfp
         |  FROM a$s a JOIN lut$s l USING (code))""".stripMargin
    }.mkString(",\n")
    val union = (0 until m).map(s => s"SELECT * FROM c$s").mkString(" UNION ALL ")
    s"""WITH ${pqCommonCtes(m, subDim, cells, iters, sampleN)},
       |$contribs,
       |sc AS (SELECT query_id, neighbor_id, sum(dfp)::BIGINT AS adc_fp FROM ($union) GROUP BY query_id, neighbor_id),
       |ap AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_fp ASC, neighbor_id) AS rank FROM sc)
       |  WHERE rank <= ${k * refine}),
       |allv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |re AS (
       |  SELECT ap.query_id, ap.neighbor_id, ${d2("q.v", "c.v")} AS dist2
       |  FROM ap JOIN allv q ON q.vec_id = ap.query_id JOIN allv c ON c.vec_id = ap.neighbor_id)
       |SELECT query_id, neighbor_id, rank::INTEGER AS rank, dist2 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2 ASC, neighbor_id) AS rank FROM re)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Mirror of LlmQueries.annIvfPqRecall: the IVF×PQ top-10 measured
    * against the exact-L2 brute top-10 — quantization AND pruning loss
    * in one number per query.
    */
  /** Mirror of Similarity.ivfPqResidualTopK: the coarse fit + probe
    * CTEs of the plain IVF-PQ row, but PQ codebooks/codes/LUTs all
    * computed on RESIDUALS (vec − coarse centroid of its/the probed
    * cell) — the FAISS production encoding; LUTs are keyed by
    * (query, cell).
    */
  private def ivfPqResidualOracleSql: String = {
    val (iters, cells, sampleN, nprobe, k) = (10, 16, 2000, 4, 10)
    val (m, subDim, pqCells) = (4, 16, 16)
    val d2s = (v: String, c: String) =>
      s"list_reduce(list_transform(range(1, ${subDim + 1}), i -> ($v[i] - $c[i]) * ($v[i] - $c[i])), (x, y) -> x + y)"
    val rsubs = (0 until m).map { s =>
      val lo = s * subDim + 1; val hi = (s + 1) * subDim
      s"rsub$s AS MATERIALIZED (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM res)"
    }.mkString(",\n")
    val fits = (0 until m)
      .map(s => kmeansFitCtes(s"rsub$s", iters, pqCells, sampleN, subDim, s"rp${s}_"))
      .mkString(",\n")
    val asn = (0 until m).map { s =>
      s"""a$s AS MATERIALIZED (
         |  SELECT vec_id, j AS code FROM (
         |    SELECT t.vec_id, c.j,
         |      row_number() OVER (PARTITION BY t.vec_id ORDER BY ${d2s("t.v", "c.c")} ASC, c.j DESC) AS pick
         |    FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM rsub$s) t
         |    CROSS JOIN rp${s}_cent$iters c)
         |  WHERE pick = 1)""".stripMargin
    }.mkString(",\n")
    val luts = (0 until m).map { s =>
      val lo = s * subDim
      s"""lut$s AS (
         |  SELECT t.query_id, t.cell, c.j AS code, ${d2s("t.v", "c.c")} AS d
         |  FROM (SELECT query_id, cell, rv[${lo + 1}:${lo + subDim}] AS v FROM qres) t
         |  CROSS JOIN rp${s}_cent$iters c)""".stripMargin
    }.mkString(",\n")
    val contribs = (0 until m).map { s =>
      s"""c$s AS (
         |  SELECT d.query_id, d.neighbor_id, floor(l.d * 1099511627776.0)::BIGINT AS dfp
         |  FROM cand d
         |  JOIN a$s a ON a.vec_id = d.neighbor_id
         |  JOIN lut$s l ON l.query_id = d.query_id AND l.cell = d.cell AND l.code = a.code)""".stripMargin
    }.mkString(",\n")
    val union = (0 until m).map(s => s"SELECT * FROM c$s").mkString(" UNION ALL ")
    s"""WITH ${kmeansFitCtes("embeddings", iters, cells, sampleN)},
       |allv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |cassign AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT a.vec_id, c.j AS cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY ${d2("a.v", "c.c")} ASC, c.j DESC) AS pick
       |    FROM allv a CROSS JOIN cent$iters c)
       |  WHERE pick = 1),
       |res AS MATERIALIZED (
       |  SELECT a.vec_id, list_transform(range(1, 65), i -> a.v[i] - c.c[i]) AS embedding
       |  FROM allv a JOIN cassign s2 USING (vec_id) JOIN cent$iters c ON c.j = s2.cell),
       |qprobe AS (
       |  SELECT vec_id AS query_id, v AS qv, cell FROM (
       |    SELECT a.vec_id, a.v, c.j AS cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY ${d2("a.v", "c.c")} ASC, c.j ASC) AS pick
       |    FROM allv a CROSS JOIN cent$iters c
       |    WHERE a.vec_id < 10)
       |  WHERE pick <= $nprobe),
       |qres AS MATERIALIZED (
       |  SELECT q.query_id, q.cell, list_transform(range(1, 65), i -> q.qv[i] - c.c[i]) AS rv
       |  FROM qprobe q JOIN cent$iters c ON c.j = q.cell),
       |cand AS (SELECT q.query_id, q.cell, c.vec_id AS neighbor_id FROM qprobe q JOIN cassign c USING (cell)),
       |$rsubs,
       |$fits,
       |$asn,
       |$luts,
       |$contribs,
       |sc AS (SELECT query_id, neighbor_id, sum(dfp)::BIGINT AS adc_fp FROM ($union) GROUP BY query_id, neighbor_id)
       |SELECT query_id, neighbor_id, rank::INTEGER AS rank, (adc_fp::DOUBLE / 1099511627776.0) AS adc_dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_fp ASC, neighbor_id) AS rank FROM sc)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  private def ivfPqResidualRecallOracleSql: String = {
    val k = 10
    s"""WITH ap AS (SELECT query_id, neighbor_id FROM (${ivfPqResidualOracleSql.replace("ORDER BY query_id, rank", "")})),
       |lv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |bs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, ${d2("q.v", "c.v")} AS dist2
       |  FROM lv q CROSS JOIN lv c WHERE q.vec_id < 10),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2 ASC, neighbor_id) AS rank FROM bs)
       |  WHERE rank <= $k)
       |SELECT e.query_id, sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::INTEGER AS n_hits,
       |  ((sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100) // count(*))::INTEGER AS recall_pct
       |FROM ex e LEFT JOIN ap a
       |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
  }

  private def ivfPqRecallOracleSql: String = {
    val k = 10
    s"""WITH ap AS (SELECT query_id, neighbor_id FROM (${ivfPqOracleSql.replace("ORDER BY query_id, rank", "")})),
       |lv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |bs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, ${d2("q.v", "c.v")} AS dist2
       |  FROM lv q CROSS JOIN lv c WHERE q.vec_id < 10),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2 ASC, neighbor_id) AS rank FROM bs)
       |  WHERE rank <= $k)
       |SELECT e.query_id, sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::INTEGER AS n_hits,
       |  ((sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100) // count(*))::INTEGER AS recall_pct
       |FROM ex e LEFT JOIN ap a
       |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
  }

  /** Mirror of Similarity.ivfPqTopK: the ann_ivf coarse fit + probe CTEs
    * restrict the candidate pairs, the shared PQ block scores them.
    */
  private def ivfPqOracleSql: String = {
    val (iters, cells, sampleN, nprobe, k) = (10, 16, 2000, 4, 10)
    val (m, subDim, pqCells) = (4, 16, 16)
    val contribs = (0 until m).map { s =>
      s"""c$s AS (
         |  SELECT d.query_id, d.neighbor_id, floor(l.d * 1099511627776.0)::BIGINT AS dfp
         |  FROM cand d
         |  JOIN a$s a ON a.vec_id = d.neighbor_id
         |  JOIN lut$s l ON l.query_id = d.query_id AND l.code = a.code)""".stripMargin
    }.mkString(",\n")
    val union = (0 until m).map(s => s"SELECT * FROM c$s").mkString(" UNION ALL ")
    s"""WITH ${kmeansFitCtes("embeddings", iters, cells, sampleN)},
       |allv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |cassign AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT a.vec_id, c.j AS cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY ${d2("a.v", "c.c")} ASC, c.j DESC) AS pick
       |    FROM allv a CROSS JOIN cent$iters c)
       |  WHERE pick = 1),
       |qprobe AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT a.vec_id, c.j AS cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY ${d2("a.v", "c.c")} ASC, c.j ASC) AS pick
       |    FROM allv a CROSS JOIN cent$iters c
       |    WHERE a.vec_id < 10)
       |  WHERE pick <= $nprobe),
       |cand AS (SELECT q.query_id, c.vec_id AS neighbor_id FROM qprobe q JOIN cassign c USING (cell)),
       |${pqCommonCtes(m, subDim, pqCells, iters, sampleN)},
       |$contribs,
       |sc AS (SELECT query_id, neighbor_id, sum(dfp)::BIGINT AS adc_fp FROM ($union) GROUP BY query_id, neighbor_id)
       |SELECT query_id, neighbor_id, rank::INTEGER AS rank, (adc_fp::DOUBLE / 1099511627776.0) AS adc_dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_fp ASC, neighbor_id) AS rank FROM sc)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Full mirror of Similarity.ivfTopK over the shared k-means fit. */
  /** The best-fit placement fold of CorpusSelection.packBestFit as a
    * DuckDB list_reduce. DuckDB 1.0's list_reduce silently drops STRUCT
    * accumulator state (each step sees the seed again — verified in
    * isolation), so the state is ONE BIGINT list instead:
    * `[B, load_1..load_B, bin_1..bin_k]` (B = bins opened so far). The
    * fittest-bin argmax rides 2-element [load, -index] lists (list_max
    * is lexicographic — max load, tie → lowest index), exactly the
    * engine's struct(l, ni) ordering. `orderBy` picks the placement
    * order: length-desc (BFD) or doc-id (arrival).
    */
  private def packFoldCtes(cap: Int, orderBy: String, pfx: String): String = {
    val loads = "list_slice(acc, 2, acc[1] + 1)"
    val idx = s"-(list_max(list_filter(list_transform($loads, (l, i) -> " +
      s"CASE WHEN l + d[1] <= $cap THEN [l, -i] END), x -> x IS NOT NULL))[2])"
    val newacc =
      s"""CASE WHEN ($idx) IS NULL
         |  THEN list_concat(list_concat(list_concat([acc[1] + 1], $loads), [d[1]]),
         |                   list_concat(list_slice(acc, acc[1] + 2, len(acc)), [acc[1] + 1]))
         |  ELSE list_concat(list_concat([acc[1]],
         |         list_transform($loads, (l, i) -> CASE WHEN i = ($idx) THEN l + d[1] ELSE l END)),
         |         list_concat(list_slice(acc, acc[1] + 2, len(acc)), [$idx]))
         |END""".stripMargin
    s"""${pfx}arr AS (
       |  SELECT lang, list({'id': doc_id, 'len': len} ORDER BY $orderBy) AS docs
       |  FROM pt GROUP BY lang),
       |${pfx}packed AS MATERIALIZED (
       |  SELECT lang, docs,
       |    list_reduce(list_prepend([0::BIGINT], list_transform(docs, dd -> [dd.len])),
       |      (acc, d) -> $newacc) AS st
       |  FROM ${pfx}arr)""".stripMargin
  }

  private val packTokensCte: String =
    """pt AS MATERIALIZED (
      |  SELECT lang, doc_id, len(string_split_regex(lower(trim(text)), '\s+'))::BIGINT AS len
      |  FROM documents)""".stripMargin

  private def packBestFitSql: String = {
    val cap = 256
    s"""WITH $packTokensCte,
       |${packFoldCtes(cap, "len DESC, doc_id", "")}
       |SELECT lang, u.doc_id AS doc_id, u.n_tokens AS n_tokens, u.bin AS bin FROM (
       |  SELECT lang, unnest(list_transform(range(1, len(docs) + 1),
       |    i -> {'doc_id': docs[i].id, 'n_tokens': docs[i].len, 'bin': st[st[1] + 1 + i]::INTEGER})) AS u
       |  FROM packed)
       |ORDER BY lang, bin, doc_id""".stripMargin
  }

  private def packWasteSql: String = {
    val cap = 256
    def side(strategy: String, pfx: String): String =
      s"""SELECT '$strategy' AS strategy, sum(st[1])::BIGINT AS n_bins,
         |  sum(list_reduce(list_slice(st, 2, st[1] + 1), (a, b) -> a + b))::BIGINT AS total_tokens,
         |  sum(list_reduce(list_transform(list_slice(st, 2, st[1] + 1),
         |    l -> greatest($cap - l, 0)), (a, b) -> a + b))::BIGINT AS waste_cells
         |FROM ${pfx}packed""".stripMargin
    s"""WITH $packTokensCte,
       |${packFoldCtes(cap, "doc_id", "a")},
       |${packFoldCtes(cap, "len DESC, doc_id", "b")}
       |SELECT strategy, n_bins, total_tokens, waste_cells,
       |  total_tokens::DOUBLE / (n_bins * $cap)::DOUBLE AS fill_frac
       |FROM ((${side("arrival", "a")}) UNION ALL (${side("bestfit", "b")}))
       |ORDER BY strategy""".stripMargin
  }

  /** The deterministic NN-descent graph build of AnnGraph.buildGraph
    * (planes=5 multi-probe LSH init, degree 6, two rounds) and its beam
    * search as a CTE chain — the whole "model fit" replayed like the
    * ann_ivf k-means. Structure notes: the minstd-LCG hyperplane
    * recursion nests in a sub-WITH so the OUTER with stays
    * non-recursive and twice-referenced CTEs can be MATERIALIZED (the
    * CTE-inlining trap); per-vector norms are precomputed once in `eb`
    * (sqrt of the same left-fold — cosine = dot/(nrm·nrm) is then the
    * identical float chain the engine evaluates per pair).
    */
  private def annGraphSql(row: String): String = {
    val (planes, degree, rounds) = (5, 8, 2)
    val (beam, searchRounds, k) = (16, 3, 10)
    def cos(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, 65), j -> $a.v[j] * $b.v[j]), (x, y) -> x + y) / ($a.nrm * $b.nrm)"
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"g${r - 1}"
      s"""rev_$r AS (
         |  SELECT u, w FROM (
         |    SELECT g.w AS u, g.u AS w,
         |      row_number() OVER (PARTITION BY g.w ORDER BY g.cosine DESC, g.u) AS rk
         |    FROM $prev g)
         |  WHERE rk <= $degree
         |),
         |und_$r AS MATERIALIZED (
         |  SELECT u, w FROM $prev UNION SELECT u, w FROM rev_$r
         |),
         |cand_$r AS (
         |  SELECT a.u, b.w FROM und_$r a JOIN und_$r b ON a.w = b.u WHERE a.u != b.w
         |  UNION SELECT u, w FROM $prev
         |),
         |g$r AS MATERIALIZED (
         |  SELECT u, w, cosine, rk FROM (
         |    SELECT s.u, s.w, s.cosine,
         |      row_number() OVER (PARTITION BY s.u ORDER BY s.cosine DESC, s.w) AS rk
         |    FROM (SELECT c.u, c.w, ${cos("a", "b")} AS cosine
         |          FROM cand_$r c JOIN eb a ON a.vec_id = c.u JOIN eb b ON b.vec_id = c.w) s)
         |  WHERE rk <= $degree
         |)""".stripMargin
    }.mkString(",\n")
    val searchCtes = (1 to searchRounds).map { i =>
      val prev = s"v${i - 1}"
      s"""n_$i AS (
         |  SELECT DISTINCT p.query_id, g.w AS node FROM $prev p JOIN g$rounds g ON g.u = p.node
         |),
         |s_$i AS (
         |  SELECT n.query_id, n.node, ${cos("q", "c")} AS cosine
         |  FROM n_$i n JOIN eb c ON c.vec_id = n.node JOIN q ON q.query_id = n.query_id
         |),
         |v$i AS MATERIALIZED (
         |  SELECT query_id, node, cosine FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, node) AS rk
         |    FROM (SELECT * FROM $prev UNION SELECT * FROM s_$i) _u)
         |  WHERE rk <= $beam
         |)""".stripMargin
    }.mkString(",\n")
    val beamCtes =
      s"""q AS MATERIALIZED (
         |  SELECT vec_id AS query_id, v, nrm FROM eb WHERE vec_id < 10
         |),
         |qseed AS (
         |  SELECT DISTINCT p.u AS query_id, c.vec_id AS node
         |  FROM probe p JOIN eb c USING (bucket) WHERE p.u < 10
         |),
         |v0 AS MATERIALIZED (
         |  SELECT query_id, node, cosine FROM (
         |    SELECT s.query_id, s.node, s.cosine,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, node) AS rk
         |    FROM (SELECT qs.query_id, qs.node, ${cos("q", "c")} AS cosine
         |          FROM qseed qs JOIN eb c ON c.vec_id = qs.node JOIN q ON q.query_id = qs.query_id) s)
         |  WHERE rk <= $beam
         |),
         |$searchCtes,
         |topk AS MATERIALIZED (
         |  SELECT query_id, node AS neighbor_id, rk::INTEGER AS rank, cosine FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, node) AS rk
         |    FROM v$searchRounds)
         |  WHERE rk <= $k
         |)""".stripMargin
    val prefix =
      s"""WITH pl AS MATERIALIZED (
         |  SELECT (k - 9) // 64 AS i, list(s / 2147483647.0 * 2 - 1 ORDER BY k) AS plane
         |  FROM (
         |    WITH RECURSIVE lcg(k, s) AS (
         |      SELECT 0, (42 * 2654435761) % 2147483646 + 1
         |      UNION ALL
         |      SELECT k + 1, (s * 48271) % 2147483647 FROM lcg WHERE k < ${8 + planes * 64})
         |    SELECT k, s FROM lcg)
         |  WHERE k >= 9 GROUP BY 1
         |),
         |bkt AS (
         |  SELECT vec_id, sum(CASE WHEN d >= 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS bucket
         |  FROM (
         |    SELECT e.vec_id, p.i,
         |      list_reduce(list_transform(range(1, 65), j -> e.embedding[j]::DOUBLE * p.plane[j]), (x, y) -> x + y) AS d
         |    FROM embeddings e CROSS JOIN pl p)
         |  GROUP BY vec_id
         |),
         |eb AS MATERIALIZED (
         |  SELECT e.vec_id, list_transform(e.embedding, x -> x::DOUBLE) AS v, b.bucket,
         |    sqrt(list_reduce(list_transform(range(1, 65), j -> e.embedding[j]::DOUBLE * e.embedding[j]::DOUBLE), (x, y) -> x + y)) AS nrm
         |  FROM embeddings e JOIN bkt b USING (vec_id)
         |),
         |probe AS (
         |  SELECT vec_id AS u, xor(bucket, f::BIGINT) AS bucket
         |  FROM eb CROSS JOIN (SELECT unnest([0, 1, 2]) AS f)
         |),
         |grp AS MATERIALIZED (
         |  SELECT vec_id, ${md24("vec_id::VARCHAR")} % 32 AS g FROM embeddings
         |),
         |cand_0 AS (
         |  SELECT DISTINCT u, w FROM (
         |    SELECT p.u, c.vec_id AS w FROM probe p JOIN eb c USING (bucket) WHERE p.u != c.vec_id
         |    UNION ALL
         |    SELECT x.vec_id AS u, y.vec_id AS w FROM grp x JOIN grp y ON x.g = y.g AND x.vec_id != y.vec_id) _c
         |),
         |g0 AS MATERIALIZED (
         |  SELECT u, w, cosine, rk FROM (
         |    SELECT s.u, s.w, s.cosine,
         |      row_number() OVER (PARTITION BY s.u ORDER BY s.cosine DESC, s.w) AS rk
         |    FROM (SELECT c.u, c.w, ${cos("a", "b")} AS cosine
         |          FROM cand_0 c JOIN eb a ON a.vec_id = c.u JOIN eb b ON b.vec_id = c.w) s)
         |  WHERE rk <= $degree
         |),
         |$roundCtes""".stripMargin
    row match {
      case "graph" =>
        s"""$prefix
           |SELECT u AS vec_id, w AS neighbor_id, rk::INTEGER AS rank, cosine
           |FROM g$rounds ORDER BY vec_id, rank""".stripMargin
      case "topk" =>
        s"""$prefix,
           |$beamCtes
           |SELECT query_id, neighbor_id, rank, cosine FROM topk ORDER BY query_id, rank""".stripMargin
      case "recall" =>
        s"""$prefix,
           |$beamCtes,
           |bs AS (
           |  SELECT q.query_id, c.vec_id AS neighbor_id, ${cos("q", "c")} AS cosine
           |  FROM q CROSS JOIN eb c),
           |brute AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM bs)
           |  WHERE rk <= $k)
           |SELECT b2.query_id, sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::INTEGER AS n_hits,
           |  ((sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100) // count(*))::INTEGER AS recall_pct
           |FROM brute b2 LEFT JOIN topk t
           |  ON b2.query_id = t.query_id AND b2.neighbor_id = t.neighbor_id
           |GROUP BY b2.query_id ORDER BY b2.query_id""".stripMargin
    }
  }

  private def ivfOracleSql: String = {
    val (iters, cells, sampleN, nprobe, k) = (10, 16, 2000, 4, 10)
    s"""WITH ${kmeansFitCtes("embeddings", iters, cells, sampleN)},
       |allv AS (
       |  SELECT vec_id, embedding, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
       |),
       |cassign AS MATERIALIZED (
       |  SELECT vec_id, embedding, j AS cell FROM (
       |    SELECT a.vec_id, a.embedding, c.j,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY ${d2("a.v", "c.c")} ASC, c.j DESC) AS pick
       |    FROM allv a CROSS JOIN cent$iters c)
       |  WHERE pick = 1
       |),
       |qprobe AS (
       |  SELECT vec_id AS query_id, embedding AS qv, j AS cell FROM (
       |    SELECT a.vec_id, a.embedding, c.j,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY ${d2("a.v", "c.c")} ASC, c.j ASC) AS pick
       |    FROM allv a CROSS JOIN cent$iters c
       |    WHERE a.vec_id < 10)
       |  WHERE pick <= $nprobe
       |),
       |cand AS (
       |  SELECT DISTINCT q.query_id, q.qv, c.vec_id AS neighbor_id, c.embedding AS cv
       |  FROM qprobe q JOIN cassign c USING (cell)
       |),
       |sc AS (
       |  SELECT query_id, neighbor_id,
       |    ${dot("qv", "cv")} / (sqrt(${dot("qv", "qv")}) * sqrt(${dot("cv", "cv")})) AS cosine
       |  FROM cand
       |)
       |SELECT query_id, neighbor_id, cosine, rank::INTEGER AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM sc)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Mirror of LlmQueries.annIvfAppend: the k-means fit runs on the
    * EVEN-id half only (the index as built), every vector — base and
    * appended odd-id batch alike — is assigned to the frozen centroids,
    * and queries probe the full index. Identical tie-breaks to
    * [[ivfOracleSql]] (assignment ties → higher cell, probe order →
    * lower cell).
    */
  private def ivfAppendOracleSql: String = {
    val (iters, cells, sampleN, nprobe, k) = (10, 16, 2000, 4, 10)
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0
       |),
       |${kmeansFitCtes("base", iters, cells, sampleN)},
       |allv AS (
       |  SELECT vec_id, embedding, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
       |),
       |cassign AS MATERIALIZED (
       |  SELECT vec_id, embedding, j AS cell FROM (
       |    SELECT a.vec_id, a.embedding, c.j,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY ${d2("a.v", "c.c")} ASC, c.j DESC) AS pick
       |    FROM allv a CROSS JOIN cent$iters c)
       |  WHERE pick = 1
       |),
       |qprobe AS (
       |  SELECT vec_id AS query_id, embedding AS qv, j AS cell FROM (
       |    SELECT a.vec_id, a.embedding, c.j,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY ${d2("a.v", "c.c")} ASC, c.j ASC) AS pick
       |    FROM allv a CROSS JOIN cent$iters c
       |    WHERE a.vec_id < 10)
       |  WHERE pick <= $nprobe
       |),
       |cand AS (
       |  SELECT DISTINCT q.query_id, q.qv, c.vec_id AS neighbor_id, c.embedding AS cv
       |  FROM qprobe q JOIN cassign c USING (cell)
       |),
       |sc AS (
       |  SELECT query_id, neighbor_id,
       |    ${dot("qv", "cv")} / (sqrt(${dot("qv", "qv")}) * sqrt(${dot("cv", "cv")})) AS cosine
       |  FROM cand
       |)
       |SELECT query_id, neighbor_id, cosine, rank::INTEGER AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM sc)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Full mirror of Dedup.semanticDedup(dim=64, threshold=0.9, cells=16)
    * over the PLANTED corpus of LlmQueries.dedupSemantic (exact id-offset
    * copies of vec_id < 25): shared k-means fit, NearestCentroid cell
    * assignment (ties → higher cell), within-cell lower-id cosine ≥ 0.9
    * drop rule.
    */
  private def semanticOracleSql: String = {
    val (iters, cells, sampleN) = (10, 16, 2000)
    s"""WITH corpus AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 25
       |),
       |${kmeansFitCtes("corpus", iters, cells, sampleN)},
       |allv AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM corpus
       |),
       |cassign AS MATERIALIZED (
       |  SELECT vec_id, v, j AS cell FROM (
       |    SELECT a.vec_id, a.v, c.j,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY ${d2("a.v", "c.c")} ASC, c.j DESC) AS pick
       |    FROM allv a CROSS JOIN cent$iters c)
       |  WHERE pick = 1
       |),
       |dropped AS (
       |  SELECT DISTINCT r.vec_id
       |  FROM cassign l JOIN cassign r ON l.cell = r.cell AND l.vec_id < r.vec_id
       |  WHERE ${dot("l.v", "r.v")} / (sqrt(${dot("l.v", "l.v")}) * sqrt(${dot("r.v", "r.v")})) >= 0.9
       |)
       |SELECT c.vec_id, c.cell::INTEGER AS cell, d.vec_id IS NULL AS is_kept
       |FROM cassign c LEFT JOIN dropped d ON c.vec_id = d.vec_id
       |ORDER BY c.vec_id""".stripMargin
  }

  /** Word k-shingle list (Dedup.shingles) from a pre-split token list. */
  /** Shared replay prefix of the two minhash harnesses
    * (`minhash_accuracy`, `minhash_banding`): the minstd-LCG
    * permutation coefficients (recursion nested so the twice-read
    * `sg` keeps its AS MATERIALIZED), the md5-coin shingle sets over
    * the `doc_id < 1000` probe window, and the 128-permutation
    * signatures.
    */
  private lazy val minhashReplayCtes: String =
    s"""ab AS MATERIALIZED (
       |  WITH RECURSIVE lcg(k, s) AS (
       |    SELECT 0, (42 * 2654435761) % 2147483646 + 1
       |    UNION ALL SELECT k + 1, (s * 48271) % 2147483647 FROM lcg WHERE k < 264)
       |  SELECT list([a, b] ORDER BY j) AS abl FROM (
       |    SELECT (k - 9) // 2 AS j,
       |      max(CASE WHEN (k - 9) % 2 = 0 THEN s END) AS a,
       |      max(CASE WHEN (k - 9) % 2 = 1 THEN s END) AS b
       |    FROM lcg WHERE k >= 9 GROUP BY 1)
       |),
       |g AS (${shingleSelect(3, ", lang", " WHERE doc_id < 1000")}),
       |c AS (
       |  SELECT doc_id, lang,
       |    list_sort(list_distinct(list_transform(sh, x ->
       |      list_reduce(list_transform(string_split(substr(md5(x), 1, 6), ''),
       |        ch -> strpos('0123456789abcdef', ch) - 1), (a, b) -> a * 16 + b)::BIGINT))) AS coins
       |  FROM g WHERE len(sh) > 0
       |),
       |sg AS MATERIALIZED (
       |  SELECT doc_id, lang, coins,
       |    list_transform(abl, p ->
       |      list_min(list_transform(coins, x -> (x * p[1] + p[2]) % 2147483647))) AS sig
       |  FROM c CROSS JOIN ab
       |)""".stripMargin

  private def shingleSelect(k: Int, extraCols: String = "", where: String = ""): String =
    s"""SELECT doc_id$extraCols, list_distinct([array_to_string(toks[i:i+${k - 1}], ' ') for i in range(1, len(toks) - ${k - 2})]) AS sh
       |FROM (SELECT doc_id$extraCols, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents$where)
       |WHERE len(toks) >= $k""".stripMargin

  /** The lang-ID prediction SQL (mirrors TextAnalysis.langIdScores),
    * shared by the per-doc row and the confusion-matrix row.
    */
  private lazy val langidSql: String = {
    val langWords = Seq(
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
      "en" -> Seq("the", "a", "of", "and", "to", "in"),
      "es" -> Seq("el", "la", "de", "los", "que", "y"),
      "fr" -> Seq("le", "la", "les", "et", "est", "une"),
      "ru" -> Seq("и", "в", "не", "на", "что", "это"))
    val scoreCols = langWords.map { case (l, ws) =>
      s"len(list_filter(toks, x -> x IN (${ws.map(w => s"'$w'").mkString(",")})))::INTEGER AS score_$l"
    }.mkString(",\n  ")
    val best = s"greatest(${langWords.map { case (l, _) => s"score_$l" }.mkString(", ")})"
    val pred = langWords.map { case (l, _) => s"WHEN score_$l = $best THEN '$l'" }.mkString(" ")
    s"""SELECT doc_id, lang_true, score_de, score_en, score_es, score_fr, score_ru,
       |  CASE $pred END AS lang_pred
       |FROM (SELECT doc_id, lang AS lang_true,
       |  $scoreCols
       |FROM (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** Dedup.simHash 48-bit fingerprint CTEs (tok → th → bits → fp). */
  private def simhashFp(where: String = ""): String = {
    val bits = 48
    val sums = (0 until bits).map(j => s"sum(CASE WHEN ((th >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
    val fp = (0 until bits).map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)::BIGINT").mkString(" + ")
    s"""tok AS (SELECT doc_id, unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS tok FROM documents$where),
       |th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, ${bits / 4}))::BIGINT AS th FROM tok),
       |bits AS (SELECT doc_id, $sums FROM th GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fp AS simhash FROM bits)""".stripMargin
  }

  /** rag_index: the text_chunks grid (32 tokens, stride 24) simhashed
    * per chunk (the simhashFp recurrence keyed by chunk_key =
    * doc_id·4096 + chunk_idx), bucketed by the top 16 of 48 bits.
    */
  private def ragIndexOracleSql: String = {
    val bits = 48
    val sums = (0 until bits).map(j => s"sum(CASE WHEN ((th >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
    val fp = (0 until bits).map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)::BIGINT").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       |c AS (SELECT doc_id, toks, CASE WHEN len(toks) <= 32 THEN 0 ELSE (len(toks) - 32 + 23) // 24 END AS last_idx FROM t),
       |ch AS MATERIALIZED (
       |  SELECT doc_id * 4096 + chunk_idx AS chunk_key,
       |    array_to_string(toks[(chunk_idx * 24 + 1) : (chunk_idx * 24 + 32)], ' ') AS chunk_text
       |  FROM (SELECT doc_id, toks, unnest(range(0, last_idx + 1)) AS chunk_idx FROM c)),
       |tok AS (SELECT chunk_key, unnest(list_distinct(string_split_regex(lower(trim(chunk_text)), '\\s+'))) AS tok FROM ch),
       |th AS (SELECT chunk_key, ('0x' || substr(md5(tok), 1, ${bits / 4}))::BIGINT AS th FROM tok),
       |bits AS (SELECT chunk_key, $sums FROM th GROUP BY chunk_key),
       |fp AS (SELECT chunk_key, $fp AS simhash FROM bits)
       |SELECT (simhash >> 32)::BIGINT AS bucket, count(*)::INTEGER AS n_chunks,
       |  count(DISTINCT chunk_key // 4096)::INTEGER AS n_docs
       |FROM fp GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  private lazy val snakeCaseOracle: String =
    s"""SELECT p_partkey, ${snake("p_name")} AS sn_name, ${snake("p_type")} AS sn_type, ${snake("p_brand")} AS sn_brand
       |FROM part ORDER BY p_partkey""".stripMargin

  private val intervalsCte =
    s"""SELECT user_id, event_id, ts, event_type,
       |  coalesce(lag(event_type) OVER w, 'created') AS from_status,
       |  coalesce(lag(ts) OVER w, ts) AS prev_ts
       |FROM $EV WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  val sql: Map[String, String] = Map(

    "s1_scan_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_quantity < 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "s2_point_lookup" ->
      "SELECT * FROM orders WHERE o_orderkey = 999",

    "o1_sort_limit" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",

    "p1_wide_projection" ->
      s"""SELECT 'ORD-' || o_orderkey::VARCHAR AS issue_key,
         |  ${snake("o_orderpriority")} AS queue,
         |  ${snake("o_orderstatus")} AS status,
         |  (o_orderstatus = 'F') AS is_closed,
         |  o_orderstatus IN ('F', 'P') AS is_resolved,
         |  lower(replace(c_name, ' ', '.')) AS assignee,
         |  lower(c_mktsegment) AS title,
         |  o_orderdate AS created_at,
         |  strftime(o_orderdate, '%Y-%m-%d') AS created_date,
         |  floor(o_totalprice / 1000.0)::BIGINT AS story_points
         |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
         |ORDER BY issue_key""".stripMargin,

    "p6_event_filters" ->
      s"""SELECT event_id, user_id, event_type, ts, value FROM $EV
         |WHERE event_type IN ('click', 'view') AND value IS NOT NULL AND ts IS NOT NULL
         |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
         |ORDER BY event_id""".stripMargin,

    "p9_json_extract" ->
      """SELECT event_id, json_extract_string(props, '$.k')::INTEGER AS k FROM events
        |WHERE json_extract_string(props, '$.k')::INTEGER IS NOT NULL
        |ORDER BY event_id""".stripMargin,

    "j1_broadcast_join" ->
      """SELECT r_name, n_name,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))::DOUBLE AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "j2_explode" ->
      """SELECT lang, word, count(*) AS n
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY lang, word ORDER BY lang, word""".stripMargin,

    "w2_lag_intervals" ->
      s"""SELECT user_id, event_id, ts, from_status,
         |  (epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS duration_s
         |FROM ($intervalsCte)
         |ORDER BY user_id, ts, event_id""".stripMargin,

    "a1_status_metrics" ->
      s"""SELECT user_id, from_status, count(*) AS status_transitions_count,
         |  sum((epoch_us(ts) - epoch_us(prev_ts)) // 1000000)::BIGINT AS duration,
         |  min(ts) AS last_seen
         |FROM ($intervalsCte)
         |GROUP BY user_id, from_status ORDER BY user_id, from_status""".stripMargin,

    "a1_business_metrics" ->
      s"""WITH iv AS ($intervalsCte),
         |iv2 AS (
         |  SELECT user_id, from_status, ts,
         |    (epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS duration_s,
         |    ${busSeconds("iv.prev_ts", "iv.ts")} AS busdays_s
         |  FROM iv)
         |SELECT user_id, from_status, count(*) AS status_transitions_count,
         |  sum(duration_s)::BIGINT AS duration,
         |  sum(busdays_s)::BIGINT AS busdays_duration,
         |  min(ts) AS last_seen,
         |  ${humanTime("sum(duration_s)::BIGINT")} AS human_readable_duration
         |FROM iv2 GROUP BY user_id, from_status ORDER BY user_id, from_status""".stripMargin,

    "a2_count_by_type" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type ORDER BY event_type",

    "a3_watermark" ->
      s"SELECT max(ts) AS watermark, count(*) AS n_rows FROM $EV",

    "a4_dedup_latest" ->
      s"""SELECT user_id, event_id, event_type, ts, value FROM $EV
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
         |ORDER BY user_id""".stripMargin,

    "a5_run_stats" ->
      """SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |  sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS sum_qty,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE AS sum_base_price,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))::DOUBLE AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "f1_snake_case" -> snakeCaseOracle,

    // identical by construction: the native expression is verified against
    // the very same SQL as the regex chain
    "f1_snake_case_native" -> snakeCaseOracle,

    "f2_strip_emoji" ->
      """SELECT doc_id, regexp_replace(substr(text, 1, 20) || '😎🚀', '[\x{1F600}-\x{1F64F}\x{1F300}-\x{1F5FF}\x{1F680}-\x{1F6FF}\x{1F1E0}-\x{1F1FF}]+', '', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    "f3_datetime_convert" ->
      s"""SELECT event_id, strftime(ts + INTERVAL 3 HOUR, '%Y-%m-%dT%H:%M:%S.%g') AS msk,
         |  strftime(ts, '%Y-%m-%d') AS utc_date
         |FROM $EV ORDER BY event_id""".stripMargin,

    "f4_timedelta" ->
      s"""SELECT event_id, (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) // 1000000 AS secs
         |FROM $EV ORDER BY event_id""".stripMargin,

    "f6_human_time" ->
      s"""SELECT event_id, (event_id * 7919) % 10000000 AS s,
         |  ${humanTime("(event_id * 7919) % 10000000")} AS human
         |FROM events ORDER BY event_id""".stripMargin,

    "f9_stringify" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) > 100 THEN 'text too long, see history in UI' ELSE text END AS changed_to,
        |  coalesce(lang, '') AS lang_str
        |FROM documents ORDER BY doc_id""".stripMargin,

    "f12_to_json" ->
      """SELECT n_nationkey, to_json(struct_pack(n_nationkey := n_nationkey, n_name := n_name)) AS js
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "f13_array_ops" ->
      """SELECT doc_id, array_to_string(list_transform(string_split(text, ' ')[1:5], x -> upper(x)), ', ') AS head5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "stream_window_counts" ->
      s"""SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n,
         |  sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS total_value
         |FROM $EV GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    // user-keyed click->purchase attribution with the 30-minute range
    // residual; gap in exact microseconds (epoch_us) so no boundary-
    // crossing date_diff ambiguity
    "stream_attribution" ->
      s"""WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts FROM $EV WHERE event_type = 'click'),
         |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts FROM $EV WHERE event_type = 'purchase')
         |SELECT purchase_id, click_id, user_id,
         |  (epoch_us(purchase_ts) - epoch_us(click_ts))::BIGINT AS gap_us
         |FROM p JOIN c USING (user_id)
         |WHERE click_ts <= purchase_ts AND click_ts >= purchase_ts - INTERVAL 30 MINUTE
         |ORDER BY purchase_id, click_id""".stripMargin,

    // LEFT OUTER attribution: null click = unattributed conversion.
    // Null click_id rows never share a purchase_id with matched rows,
    // so ORDER BY (purchase_id, click_id) is unambiguous despite the
    // engines' opposite NULLS FIRST/LAST defaults
    "stream_attribution_outer" ->
      s"""WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts FROM $EV WHERE event_type = 'click'),
         |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts FROM $EV WHERE event_type = 'purchase')
         |SELECT purchase_id, click_id, p.user_id AS user_id,
         |  (epoch_us(purchase_ts) - epoch_us(click_ts))::BIGINT AS gap_us
         |FROM p LEFT JOIN c ON p.user_id = c.user_id
         |  AND click_ts <= purchase_ts AND click_ts >= purchase_ts - INTERVAL 30 MINUTE
         |ORDER BY purchase_id, click_id""".stripMargin,

    "incremental_scan" ->
      s"""SELECT event_type, count(*) AS n_new, max(ts) AS new_watermark
         |FROM $EV WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // cross-run dedup: anti-join against the seen-fingerprint store,
    // then in-batch canonical (min doc_id) per fingerprint; duplicates
    // are PLANTED for both arms (the corpus has none of its own)
    "dedup_incremental" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents),
        |store AS (SELECT * FROM d WHERE doc_id % 5 = 0),
        |nb AS (SELECT * FROM d WHERE doc_id % 5 <> 0),
        |batch AS (
        |  SELECT doc_id, lang, text FROM nb
        |  UNION ALL SELECT doc_id + 200000, lang, text FROM store WHERE doc_id < 100
        |  UNION ALL SELECT doc_id + 300000, lang, text FROM nb WHERE doc_id < 100),
        |f AS (
        |  SELECT doc_id, lang, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
        |  FROM batch),
        |seen AS (SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint FROM store),
        |novel AS (SELECT * FROM f WHERE fingerprint NOT IN (SELECT fingerprint FROM seen)),
        |c AS (SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS canon FROM novel)
        |SELECT doc_id, lang, fingerprint FROM c WHERE doc_id = canon
        |ORDER BY doc_id""".stripMargin,

    // planted mirror sources re-host doc_id < 200 keyed on doc_id % 3;
    // overlap = distinct shared fingerprints per unordered source pair
    "dedup_source_overlap" ->
      """WITH all_docs AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 700000, 'mirror' || (doc_id % 3)::VARCHAR, text
        |  FROM documents WHERE doc_id < 200),
        |fs AS (SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint, source
        |  FROM all_docs),
        |sz AS (SELECT source, count(*) AS n FROM fs GROUP BY source),
        |m AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        |  FROM fs a JOIN fs b ON a.fingerprint = b.fingerprint AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT m.source_a, m.source_b, m.n_shared, za.n AS n_docs_a, zb.n AS n_docs_b,
        |  m.n_shared::DOUBLE / least(za.n, zb.n)::DOUBLE AS overlap_frac
        |FROM m JOIN sz za ON za.source = m.source_a JOIN sz zb ON zb.source = m.source_b
        |ORDER BY source_a, source_b""".stripMargin,

    // store-mediated twin of dedup_incremental: same planted batch, same
    // expected output — but the engine side routes the seen-set through
    // the on-disk FingerprintStore (run 1 commit + compaction + run 2
    // load), so the SQL below is the semantic contract both must meet
    "dedup_incremental_commit" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents),
        |store AS (SELECT * FROM d WHERE doc_id % 5 = 0),
        |nb AS (SELECT * FROM d WHERE doc_id % 5 <> 0),
        |batch AS (
        |  SELECT doc_id, lang, text FROM nb
        |  UNION ALL SELECT doc_id + 200000, lang, text FROM store WHERE doc_id < 100
        |  UNION ALL SELECT doc_id + 300000, lang, text FROM nb WHERE doc_id < 100),
        |f AS (
        |  SELECT doc_id, lang, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
        |  FROM batch),
        |seen AS (SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint FROM store),
        |novel AS (SELECT * FROM f WHERE fingerprint NOT IN (SELECT fingerprint FROM seen)),
        |c AS (SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS canon FROM novel)
        |SELECT doc_id, lang, fingerprint FROM c WHERE doc_id = canon
        |ORDER BY doc_id""".stripMargin,

    // gap sessionization: lag marks starts, running sum numbers them;
    // value sums go through DECIMAL so reduction order cannot matter
    "graph_pagerank" -> pageRankOracleSql(5),
    "graph_ppr_expand" -> pprOracleSql(5),
    "graph_kcore" -> kcoreOracleSql(10, 2),

    // TPC-H Q3 shape: BUILDING segment, both date windows, DECIMAL
    // revenue, top-10 by (revenue desc, orderkey)
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))::DOUBLE AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND l_shipdate > TIMESTAMP '1996-07-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    // TPC-H Q17 shape, decorrelated: per-part average quantity (exact —
    // integral doubles), threshold 0.2*avg, DECIMAL price sum cast to
    // double BEFORE the /7.0 (decimal-division scale differs across
    // engines; double division does not)
    "q17_small_qty" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#12')),
        |a AS (SELECT l_partkey, sum(l_quantity) / count(*) AS avg_qty FROM li GROUP BY l_partkey)
        |SELECT count(*)::BIGINT AS n_items,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE / 7.0 AS avg_yearly
        |FROM li JOIN a USING (l_partkey)
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin,

    // trailing 7-day distinct actives, decomposed exactly like the
    // engine: (user, day) grid -> bounded 7-day explode -> distinct
    // count per observed report day
    "active_users_window" ->
      """WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
        |grid AS (SELECT DISTINCT ts::DATE AS report_day FROM events),
        |x AS (SELECT user_id, day + i::INTEGER AS report_day FROM ud, unnest(range(0, 7)) AS u(i))
        |SELECT report_day, count(DISTINCT user_id)::BIGINT AS active_users
        |FROM x JOIN grid USING (report_day)
        |GROUP BY report_day ORDER BY report_day""".stripMargin,

    // the bounded-state topk_pairs aggregate vs the window answer it
    // replaces: DESC by the 2^20 value grid, ties ASC by event_id
    "topk_per_group" ->
      """WITH e AS (SELECT event_type, floor(value * 1048576.0)::BIGINT AS vfp, event_id FROM events),
        |r AS (SELECT event_type, vfp, event_id,
        |    row_number() OVER (PARTITION BY event_type ORDER BY vfp DESC, event_id) AS rank FROM e)
        |SELECT event_type, rank::INTEGER AS rank, event_id, vfp AS value_fp
        |FROM r WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,

    // CCNet head/middle/tail: terciles of the unigram-LM score per
    // language (ntile over (nll, doc_id) — a total order), census +
    // score envelope per bucket
    "ccnet_buckets" ->
      """WITH t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |p AS MATERIALIZED (SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS term FROM t),
        |c AS MATERIALIZED (SELECT term, count(*) AS cnt FROM p GROUP BY term),
        |kept AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 24),
        |s AS MATERIALIZED (SELECT sum(cnt)::BIGINT AS total FROM c),
        |tn AS MATERIALIZED (
        |  SELECT term, floor(-ln(cnt::DOUBLE / total::DOUBLE) * 1099511627776.0)::BIGINT AS fp
        |  FROM kept CROSS JOIN s),
        |sc AS (
        |  SELECT doc_id, any_value(n_tokens) AS n_tokens,
        |    sum(coalesce(tn.fp, (SELECT floor(-ln(0.5 / total::DOUBLE) * 1099511627776.0)::BIGINT FROM s))) AS sfp
        |  FROM p LEFT JOIN tn USING (term) GROUP BY doc_id),
        |nll AS (SELECT doc_id,
        |    ((sfp::DOUBLE / 1099511627776.0) / n_tokens::DOUBLE)::FLOAT AS nll_per_token
        |  FROM sc),
        |j AS (SELECT nll.doc_id, nll_per_token, lang FROM nll JOIN documents USING (doc_id)),
        |b AS (SELECT lang, nll_per_token,
        |    ntile(3) OVER (PARTITION BY lang ORDER BY nll_per_token, doc_id) AS tercile FROM j)
        |SELECT lang,
        |  CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
        |  count(*)::BIGINT AS n_docs,
        |  min(nll_per_token) AS min_nll, max(nll_per_token) AS max_nll
        |FROM b GROUP BY lang, tercile ORDER BY lang, bucket""".stripMargin,

    // TPC-H Q5 shape: ASIA-region 6-table join, 1996 order window,
    // DECIMAL revenue; local-supplier condition c_nationkey = s_nationkey
    "q5_local_supplier" ->
      """SELECT n_name,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))::DOUBLE AS revenue,
        |  count(*)::BIGINT AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    // deterministic synchronous LPA, 4 unrolled rounds: neighbor-mode
    // label with (count desc, label asc) ties via a rank window; the
    // community size is a count window over the final labels
    "graph_communities" ->
      """WITH ev AS (SELECT user_id, ts, event_id, json_extract_string(props, '$.k')::BIGINT AS k FROM events),
        |e0 AS (SELECT src, dst FROM (
        |    SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src, k AS dst FROM ev)
        |  WHERE src IS NOT NULL AND dst IS NOT NULL AND (src * 31 + dst) % 7 = 0 AND src <> dst),
        |sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM sym),
        |l1 AS MATERIALIZED (SELECT node, label FROM (
        |  SELECT sym.src AS node, l0.label, count(*) AS c,
        |    row_number() OVER (PARTITION BY sym.src ORDER BY count(*) DESC, l0.label) AS rn
        |  FROM sym JOIN l0 ON sym.dst = l0.node GROUP BY 1, 2) WHERE rn = 1),
        |l2 AS MATERIALIZED (SELECT node, label FROM (
        |  SELECT sym.src AS node, l1.label, count(*) AS c,
        |    row_number() OVER (PARTITION BY sym.src ORDER BY count(*) DESC, l1.label) AS rn
        |  FROM sym JOIN l1 ON sym.dst = l1.node GROUP BY 1, 2) WHERE rn = 1),
        |l3 AS MATERIALIZED (SELECT node, label FROM (
        |  SELECT sym.src AS node, l2.label, count(*) AS c,
        |    row_number() OVER (PARTITION BY sym.src ORDER BY count(*) DESC, l2.label) AS rn
        |  FROM sym JOIN l2 ON sym.dst = l2.node GROUP BY 1, 2) WHERE rn = 1),
        |l4 AS MATERIALIZED (SELECT node, label FROM (
        |  SELECT sym.src AS node, l3.label, count(*) AS c,
        |    row_number() OVER (PARTITION BY sym.src ORDER BY count(*) DESC, l3.label) AS rn
        |  FROM sym JOIN l3 ON sym.dst = l3.node GROUP BY 1, 2) WHERE rn = 1)
        |SELECT node, label, count(*) OVER (PARTITION BY label)::BIGINT AS community_size
        |FROM l4 ORDER BY node""".stripMargin,

    // co-visitation: lag transitions per user, self-loops dropped,
    // top-3 successors per item by (count desc, dst)
    "covisit_topk" ->
      """WITH ev AS (SELECT user_id, ts, event_id, json_extract_string(props, '$.k')::BIGINT AS k FROM events),
        |tr AS (SELECT src, dst FROM (
        |    SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src, k AS dst FROM ev)
        |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
        |c AS (SELECT src, dst, count(*)::BIGINT AS c FROM tr GROUP BY 1, 2),
        |r AS (SELECT src, dst, c,
        |    row_number() OVER (PARTITION BY src ORDER BY c DESC, dst) AS rank FROM c)
        |SELECT src, rank::INTEGER AS rank, dst, c
        |FROM r WHERE rank <= 3 ORDER BY src, rank""".stripMargin,

    // 3-step path mining: two chained lags in one user window; counts
    // bounded by |event types|^3
    "event_paths" ->
      """WITH p AS (SELECT
        |    lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step_1,
        |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step_2,
        |    event_type AS step_3
        |  FROM events)
        |SELECT step_1, step_2, step_3, count(*)::BIGINT AS c
        |FROM p WHERE step_1 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY c DESC, step_1, step_2, step_3 LIMIT 10""".stripMargin,

    // BFS layers over the sparsified transition graph, unrolled to 4
    // frontier CTEs: f_d = distinct successors of f_{d-1} minus the
    // visited union — set semantics, so the layer assignment is
    // partitioning-free on both engines
    "graph_bfs" ->
      """WITH ev AS (SELECT user_id, ts, event_id, json_extract_string(props, '$.k')::BIGINT AS k FROM events),
        |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        |    SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src, k AS dst FROM ev)
        |  WHERE src IS NOT NULL AND dst IS NOT NULL AND (src * 31 + dst) % 7 = 0),
        |v0 AS MATERIALIZED (SELECT DISTINCT k AS node FROM ev WHERE k IS NOT NULL AND k < 3),
        |f1 AS MATERIALIZED (SELECT DISTINCT dst AS node FROM e JOIN v0 ON e.src = v0.node
        |  WHERE dst NOT IN (SELECT node FROM v0)),
        |u1 AS MATERIALIZED (SELECT node FROM v0 UNION SELECT node FROM f1),
        |f2 AS MATERIALIZED (SELECT DISTINCT dst AS node FROM e JOIN f1 ON e.src = f1.node
        |  WHERE dst NOT IN (SELECT node FROM u1)),
        |u2 AS MATERIALIZED (SELECT node FROM u1 UNION SELECT node FROM f2),
        |f3 AS MATERIALIZED (SELECT DISTINCT dst AS node FROM e JOIN f2 ON e.src = f2.node
        |  WHERE dst NOT IN (SELECT node FROM u2)),
        |u3 AS MATERIALIZED (SELECT node FROM u2 UNION SELECT node FROM f3),
        |f4 AS MATERIALIZED (SELECT DISTINCT dst AS node FROM e JOIN f3 ON e.src = f3.node
        |  WHERE dst NOT IN (SELECT node FROM u3))
        |SELECT node, dist FROM (
        |  SELECT node, 0 AS dist FROM v0
        |  UNION ALL SELECT node, 1 FROM f1
        |  UNION ALL SELECT node, 2 FROM f2
        |  UNION ALL SELECT node, 3 FROM f3
        |  UNION ALL SELECT node, 4 FROM f4)
        |ORDER BY dist, node""".stripMargin,

    // cohort = first-active month; offset counts over the distinct
    // (user, month) projection; month arithmetic exact on truncated
    // first-of-month values in both engines
    "cohort_retention" ->
      """WITH ua AS (
        |  SELECT DISTINCT user_id, date_trunc('month', CAST(ts AS TIMESTAMP)) AS m FROM events),
        |c AS (SELECT user_id, min(m) AS cohort_month FROM ua GROUP BY user_id),
        |o AS (
        |  SELECT c.cohort_month, date_diff('month', c.cohort_month, ua.m)::INTEGER AS offset_m
        |  FROM ua JOIN c USING (user_id)),
        |n AS (SELECT cohort_month, offset_m, count(*)::BIGINT AS n_users FROM o GROUP BY 1, 2),
        |sz AS (SELECT cohort_month, count(*)::BIGINT AS cohort_size FROM c GROUP BY 1)
        |SELECT n.cohort_month AS cohort_month, offset_m, n_users, cohort_size,
        |  n_users::DOUBLE / cohort_size::DOUBLE AS retention_frac
        |FROM n JOIN sz USING (cohort_month)
        |ORDER BY 1, 2""".stripMargin,

    // PSI with reference-frozen equal-width bins, add-one smoothing,
    // per-bin terms floored to the 2^-40 grid (associative long sum);
    // the 'error' type's current window is planted *1.5
    "value_psi" ->
      """WITH ev AS (SELECT event_type, event_id, value FROM events),
        |ref AS (SELECT event_type, value::DOUBLE AS v FROM ev WHERE event_id % 2 = 0),
        |cur AS (SELECT event_type,
        |          (CASE WHEN event_type = 'error' THEN value * 1.5 ELSE value END)::DOUBLE AS v
        |        FROM ev WHERE event_id % 2 = 1),
        |ed AS MATERIALIZED (SELECT event_type AS key, min(v) AS mn, max(v) AS mx FROM ref GROUP BY 1),
        |rb AS (SELECT r.event_type AS key,
        |         CASE WHEN mx = mn THEN 0
        |              ELSE greatest(0, least(15, floor((v - mn) / ((mx - mn) / 16))::INTEGER)) END AS bin
        |       FROM ref r JOIN ed ON ed.key = r.event_type),
        |cb AS (SELECT c.event_type AS key,
        |         CASE WHEN mx = mn THEN 0
        |              ELSE greatest(0, least(15, floor((v - mn) / ((mx - mn) / 16))::INTEGER)) END AS bin
        |       FROM cur c JOIN ed ON ed.key = c.event_type),
        |rc AS (SELECT key, bin, count(*)::BIGINT AS c FROM rb GROUP BY 1, 2),
        |cc AS (SELECT key, bin, count(*)::BIGINT AS c FROM cb GROUP BY 1, 2),
        |grid AS (SELECT ed.key, i::INTEGER AS bin FROM ed, (SELECT unnest(range(0, 16)) AS i)),
        |wide AS (
        |  SELECT g.key, g.bin, coalesce(rc.c, 0) AS cr, coalesce(cc.c, 0) AS cn
        |  FROM grid g
        |  LEFT JOIN rc ON rc.key = g.key AND rc.bin = g.bin
        |  LEFT JOIN cc ON cc.key = g.key AND cc.bin = g.bin),
        |tot AS (SELECT key, sum(cr)::BIGINT AS nr, sum(cn)::BIGINT AS nc FROM wide GROUP BY key),
        |t AS (
        |  SELECT w.key, nr, nc,
        |    floor(((cr + 1)::DOUBLE / (nr::DOUBLE + 16.0) - (cn + 1)::DOUBLE / (nc::DOUBLE + 16.0))
        |      * ln(((cr + 1)::DOUBLE / (nr::DOUBLE + 16.0)) / ((cn + 1)::DOUBLE / (nc::DOUBLE + 16.0)))
        |      * 1099511627776.0)::BIGINT AS fp
        |  FROM wide w JOIN tot USING (key))
        |SELECT key AS event_type, max(nr)::BIGINT AS n_ref, max(nc)::BIGINT AS n_cur,
        |  (sum(fp)::DOUBLE / 1099511627776.0)::FLOAT AS psi,
        |  (sum(fp)::DOUBLE / 1099511627776.0)::FLOAT > 0.2 AS alert
        |FROM t GROUP BY key ORDER BY 1""".stripMargin,

    // hour buckets missing from each type's [first, last] span, runs
    // compacted by the islands trick (b - row_number constant per run)
    "event_gaps" ->
      """WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |obs AS (SELECT DISTINCT event_type AS key, epoch_us(ts) // 3600000000 AS b FROM e),
        |rng AS (SELECT key, min(b) AS b0, max(b) AS b1 FROM obs GROUP BY key),
        |grid AS (SELECT key, unnest(range(b0, b1 + 1)) AS b FROM rng),
        |miss AS (SELECT g.key, g.b FROM grid g
        |         LEFT JOIN obs o ON o.key = g.key AND o.b = g.b WHERE o.b IS NULL),
        |i AS (SELECT key, b,
        |        b - row_number() OVER (PARTITION BY key ORDER BY b) AS grp FROM miss)
        |SELECT key AS event_type,
        |  make_timestamp(min(b) * 3600000000) AS gap_start,
        |  make_timestamp((max(b) + 1) * 3600000000) AS gap_end,
        |  count(*)::INTEGER AS n_missing
        |FROM i GROUP BY key, grp ORDER BY 1, 2""".stripMargin,

    // planted delivery delay (every 10th event +500 arrival ids, every
    // 7th +30), per-user running-max high watermark along arrival
    // order, integer-second lateness, per-candidate drop counts
    "watermark_audit" ->
      """WITH e AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_id + CASE WHEN event_id % 10 = 0 THEN 500
        |                    WHEN event_id % 7 = 0 THEN 30 ELSE 0 END AS arrival
        |  FROM events),
        |h AS (SELECT ts, max(ts) OVER (PARTITION BY user_id ORDER BY arrival) AS hw FROM e),
        |l AS (SELECT (epoch_us(hw) - epoch_us(ts)) // 1000000 AS lateness_s FROM h),
        |d AS (SELECT unnest([0, 3600, 43200, 86400, 172800]::BIGINT[]) AS delay_s)
        |SELECT delay_s,
        |  sum(CASE WHEN lateness_s > delay_s THEN 1 ELSE 0 END)::BIGINT AS n_late,
        |  count(*)::BIGINT AS n_total,
        |  sum(CASE WHEN lateness_s > delay_s THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE AS late_frac
        |FROM d CROSS JOIN l GROUP BY delay_s ORDER BY delay_s""".stripMargin,

    "sessionize" ->
      s"""WITH g AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |         THEN 1 ELSE 0 END AS ns
         |  FROM $EV
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (
         |  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
         |  FROM g)
         |SELECT user_id, session_seq::BIGINT AS session_seq, count(*) AS n_events,
         |  min(ts) AS session_start, max(ts) AS session_end,
         |  (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_s,
         |  sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS total_value
         |FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,

    // islands-and-gaps: lag marks event_type changes, running sum
    // numbers the runs, lead back-fills valid_to from the next run
    "scd2_compact" ->
      s"""WITH g AS (
         |  SELECT user_id, event_id, ts, event_type,
         |    CASE WHEN lag(event_type) OVER w IS NULL
         |              OR lag(event_type) OVER w <> event_type
         |         THEN 1 ELSE 0 END AS chg
         |  FROM $EV
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |r AS (
         |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run_seq
         |  FROM g),
         |runs AS (
         |  SELECT user_id, run_seq::BIGINT AS run_seq, min(event_type) AS event_type,
         |    min(ts) AS valid_from, count(*) AS n_events
         |  FROM r GROUP BY user_id, run_seq)
         |SELECT user_id, run_seq, event_type, valid_from,
         |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_seq) AS valid_to,
         |  n_events,
         |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_seq) IS NULL AS is_current
         |FROM runs ORDER BY user_id, run_seq""".stripMargin,

    // the DSv2 connector round-trips events through TSV pages with the
    // value as raw IEEE bits, so the filtered/projected result is
    // bit-identical to filtering the parquet directly
    "dsv2_scan_pushdown" ->
      s"""SELECT event_id, ts, user_id, value FROM $EV
         |WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-15 00:00:00'
         |ORDER BY event_id""".stripMargin,

    // first-touch funnel: each stage matches its earliest eligible event
    // (min over the key), chain bounded to 24h of the stage-1 anchor —
    // the stepwise-join form is the closed form of the engine's chained
    // window mins
    "funnel_steps" ->
      s"""WITH e AS (SELECT user_id, ts, event_type FROM $EV),
         |s1 AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
         |s2 AS (SELECT e.user_id, max(t1) AS t1, min(ts) AS t2 FROM e JOIN s1 USING (user_id)
         |       WHERE event_type = 'click' AND ts >= t1
         |         AND epoch_us(ts) <= epoch_us(t1) + 86400000000 GROUP BY e.user_id),
         |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM e JOIN s2 USING (user_id)
         |       WHERE event_type = 'purchase' AND ts >= t2
         |         AND epoch_us(ts) <= epoch_us(s2.t1) + 86400000000 GROUP BY e.user_id)
         |SELECT s1.user_id,
         |  (CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END)::INTEGER AS funnel_level,
         |  s1.t1, t2, t3
         |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
         |ORDER BY s1.user_id""".stripMargin,

    // planted violations (negate value on %97, unknown type on %101,
    // null user on %103); one summary row per rule incl. zero-violation
    // rules; a rule passes only when its predicate is TRUE
    "quality_gate" ->
      s"""WITH p AS (
         |  SELECT event_id,
         |    CASE WHEN event_id % 101 = 0 THEN 'unknown_evt' ELSE event_type END AS event_type,
         |    CASE WHEN event_id % 103 = 0 THEN NULL ELSE user_id END AS user_id,
         |    CASE WHEN event_id % 97 = 0 THEN -value ELSE value END AS value
         |  FROM $EV),
         |n AS (SELECT count(*) AS n_rows FROM p)
         |SELECT rule, n_violations, n_rows,
         |  n_violations::DOUBLE / n_rows::DOUBLE AS violation_frac
         |FROM (
         |  SELECT 'value_nonnegative' AS rule,
         |    count(*) FILTER (WHERE NOT coalesce(value >= 0, FALSE)) AS n_violations FROM p
         |  UNION ALL
         |  SELECT 'known_event_type',
         |    count(*) FILTER (WHERE NOT coalesce(event_type IN ('click','error','purchase','signup','view'), FALSE)) FROM p
         |  UNION ALL
         |  SELECT 'has_user',
         |    count(*) FILTER (WHERE user_id IS NULL) FROM p
         |) CROSS JOIN n ORDER BY rule""".stripMargin,

    // row-level half of the gate: failed-rule names in check order,
    // CSV'd; only rows violating >= 1 rule appear
    "quality_quarantine" ->
      s"""WITH p AS (
         |  SELECT event_id,
         |    CASE WHEN event_id % 101 = 0 THEN 'unknown_evt' ELSE event_type END AS event_type,
         |    CASE WHEN event_id % 103 = 0 THEN NULL ELSE user_id END AS user_id,
         |    CASE WHEN event_id % 97 = 0 THEN -value ELSE value END AS value
         |  FROM $EV),
         |f AS (
         |  SELECT event_id, array_to_string(list_filter([
         |    CASE WHEN NOT coalesce(value >= 0, FALSE) THEN 'value_nonnegative' END,
         |    CASE WHEN NOT coalesce(event_type IN ('click','error','purchase','signup','view'), FALSE) THEN 'known_event_type' END,
         |    CASE WHEN user_id IS NULL THEN 'has_user' END
         |  ], x -> x IS NOT NULL), ',') AS failed_rules_csv
         |  FROM p)
         |SELECT event_id, failed_rules_csv FROM f
         |WHERE failed_rules_csv <> '' ORDER BY event_id""".stripMargin,

    // batch sessions again (the sessionize oracle's expressions); the
    // Spark side inner-joins the lag+sum sessions against the native
    // session_window aggregation, so parity failures break the compare —
    // the oracle just states what BOTH must equal (n_events twice: one
    // per implementation on the Spark side)
    "session_parity" ->
      s"""WITH g AS (
         |  SELECT user_id, event_id, ts,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |         THEN 1 ELSE 0 END AS ns
         |  FROM $EV
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (
         |  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
         |  FROM g)
         |SELECT user_id, session_seq::BIGINT AS session_seq,
         |  min(ts) AS session_start, max(ts) AS session_end,
         |  count(*) AS n_events, count(*) AS n_events_sw
         |FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,

    // verified against DuckDB's NATIVE ASOF JOIN — an independent
    // first-class implementation of the operator (inclusive >= bound,
    // matching the right-before-left tie order of the union-window form)
    "asof_join" ->
      s"""WITH p AS (SELECT user_id, event_id, ts FROM $EV WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts, event_id, value FROM $EV WHERE event_type = 'click')
         |SELECT p.user_id, p.event_id, p.ts,
         |  c.ts AS asof_ts, c.event_id AS asof_event_id, c.value AS asof_value,
         |  (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS secs_since_click
         |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
         |ORDER BY p.user_id, p.event_id""".stripMargin,

    // the custom AsOfMergeJoinExec physical operator vs the same native
    // DuckDB ASOF JOIN the composed form is checked against
    "asof_native" ->
      s"""WITH p AS (SELECT user_id, event_id, ts FROM $EV WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts, event_id, value FROM $EV WHERE event_type = 'click')
         |SELECT p.user_id, p.event_id, p.ts,
         |  c.ts AS asof_ts, c.event_id AS asof_event_id, c.value AS asof_value,
         |  (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS secs_since_click
         |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
         |ORDER BY p.user_id, p.event_id""".stripMargin,

    // forward as-of: DuckDB native ASOF with the comparison reversed
    "asof_forward" ->
      s"""WITH p AS (SELECT user_id, event_id, ts FROM $EV WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts, event_id, value FROM $EV WHERE event_type = 'click')
         |SELECT p.user_id, p.event_id, p.ts,
         |  c.ts AS asof_ts, c.event_id AS asof_event_id, c.value AS asof_value,
         |  (epoch_us(c.ts) - epoch_us(p.ts)) // 1000000 AS secs_until_click
         |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts
         |ORDER BY p.user_id, p.event_id""".stripMargin,

    // nearest as-of: both native ASOF directions + the identical
    // backward-on-tie pick rule (integer microsecond distances)
    "asof_nearest" ->
      s"""WITH p AS (SELECT user_id, event_id, ts FROM $EV WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts, event_id, value FROM $EV WHERE event_type = 'click'),
         |b AS (SELECT p.user_id, p.event_id, p.ts, c.ts AS bts, c.event_id AS bid, c.value AS bv
         |      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts),
         |f AS (SELECT p.user_id, p.event_id, c.ts AS fts, c.event_id AS fid, c.value AS fv
         |      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts),
         |n AS (
         |  SELECT b.user_id, b.event_id, b.ts,
         |    (bts IS NOT NULL AND (fts IS NULL
         |       OR (epoch_us(b.ts) - epoch_us(bts)) <= (epoch_us(fts) - epoch_us(b.ts)))) AS pb,
         |    bts, bid, bv, fts, fid, fv
         |  FROM b JOIN f ON b.user_id = f.user_id AND b.event_id = f.event_id)
         |SELECT user_id, event_id, ts,
         |  CASE WHEN pb THEN bts ELSE fts END AS asof_ts,
         |  CASE WHEN pb THEN bid ELSE fid END AS asof_event_id,
         |  CASE WHEN pb THEN bv ELSE fv END AS asof_value,
         |  abs(epoch_us(CASE WHEN pb THEN bts ELSE fts END) - epoch_us(ts)) // 1000000 AS secs_to_click
         |FROM n ORDER BY user_id, event_id""".stripMargin,

    // merge_asof(tolerance): matches staler than 6 h are masked to null
    // on every carried column — exact integer microsecond arithmetic
    "asof_tolerance" ->
      s"""WITH p AS (SELECT user_id, event_id, ts FROM $EV WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts, event_id, value FROM $EV WHERE event_type = 'click')
         |SELECT p.user_id, p.event_id, p.ts,
         |  CASE WHEN c.ts IS NOT NULL AND epoch_us(p.ts) - epoch_us(c.ts) <= 21600000000::BIGINT THEN c.ts END AS asof_ts,
         |  CASE WHEN c.ts IS NOT NULL AND epoch_us(p.ts) - epoch_us(c.ts) <= 21600000000::BIGINT THEN c.event_id END AS asof_event_id,
         |  CASE WHEN c.ts IS NOT NULL AND epoch_us(p.ts) - epoch_us(c.ts) <= 21600000000::BIGINT THEN c.value END AS asof_value,
         |  CASE WHEN c.ts IS NOT NULL AND epoch_us(p.ts) - epoch_us(c.ts) <= 21600000000::BIGINT THEN (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 END AS secs_since_click
         |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
         |ORDER BY p.user_id, p.event_id""".stripMargin,

    // the bucketed hot-key variant must produce the SAME rows — DuckDB's
    // native ASOF certifies the skew path directly
    "asof_join_bucketed" ->
      s"""WITH p AS (SELECT user_id, event_id, ts FROM $EV WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts, event_id, value FROM $EV WHERE event_type = 'click')
         |SELECT p.user_id, p.event_id, p.ts,
         |  c.ts AS asof_ts, c.event_id AS asof_event_id, c.value AS asof_value,
         |  (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS secs_since_click
         |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
         |ORDER BY p.user_id, p.event_id""".stripMargin,

    // sliding-window scan: now=2024-01-15T00:00:00Z − 2d, queues CLICK/
    // VIEW. The engine filters on the PARSED ms-truncated wire string;
    // filtering raw ts here is equivalent because the bound is
    // ms-aligned (truncation only moves values down, never across an
    // aligned bound). Wire format: Java XX prints 'Z' at zero offset,
    // mirrored as strftime %g milliseconds + literal Z.
    "window_scan" ->
      s"""SELECT event_type, count(*) AS n_recent,
         |  max(strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') || 'Z') AS max_updated
         |FROM $EV
         |WHERE ts >= TIMESTAMP '2024-01-13 00:00:00' AND upper(event_type) IN ('CLICK', 'VIEW')
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The pipeline-fixture corpus is deterministic (PipelineFixture), so
    // the REAL transform's expected output is a literal VALUES relation —
    // the driver verifies A1/P1–P5 end-to-end, not just the emulations.
    "pipeline_metrics" ->
      """SELECT * FROM (VALUES
        |  (TIMESTAMP '2024-01-09 13:00:00', 'TEST-1', 'in_progress', 2::INTEGER, 14400::BIGINT, '4h', 14400::BIGINT, '4h'),
        |  (TIMESTAMP '2024-01-09 11:00:00', 'TEST-1', 'open', 1, 3600, '1h', 3600, '1h'),
        |  (TIMESTAMP '2024-01-09 18:00:00', 'TEST-1', 'ready_for_release', 1, 3600, '1h', 3600, '1h'),
        |  (TIMESTAMP '2024-01-09 14:00:00', 'TEST-1', 'testing', 2, 7200, '2h', 7200, '2h'),
        |  (TIMESTAMP '2024-01-09 18:00:00', 'TEST-3', 'open', 1, 28800, '8h', 28800, '8h'),
        |  (TIMESTAMP '2024-01-09 12:00:00', 'TEST-4', 'selectedfordev', 1, 7200, '2h', 7200, '2h')
        |) AS t(last_seen, issue_key, status_name, status_transitions_count, duration,
        |       human_readable_duration, busdays_duration, human_readable_busdays_duration)
        |ORDER BY issue_key, status_name""".stripMargin,

    "pipeline_issues" ->
      """SELECT * FROM (VALUES
        |  ('TEST-1', 'TEST', 'Walkthrough', 'task', 'normal', 'closed', NULL::VARCHAR,
        |   'dev@example.com', 'myproject', true, false, false, false, 3.0::FLOAT,
        |   TIMESTAMP '2024-01-09 10:00:00', TIMESTAMP '2024-01-09 18:00:00', DATE '2024-01-11'),
        |  ('TEST-2', 'TEST', 'Walkthrough', 'task', 'normal', 'open', NULL,
        |   'dev@example.com', 'myproject', false, false, false, false, 3.0,
        |   TIMESTAMP '2024-01-09 10:00:00', NULL::TIMESTAMP, DATE '2024-01-11'),
        |  ('TEST-3', 'TEST', 'Walkthrough', 'task', 'normal', 'closed', 'fixed',
        |   'dev@example.com', 'myproject', true, true, false, false, 3.0,
        |   TIMESTAMP '2024-01-09 10:00:00', TIMESTAMP '2024-01-09 19:00:00', DATE '2024-01-11'),
        |  ('TEST-4', 'TEST', 'Walkthrough', 'task', 'normal', 'inprogress', NULL,
        |   'dev@example.com', 'myproject', false, false, false, false, 3.0,
        |   TIMESTAMP '2024-01-09 10:00:00', NULL::TIMESTAMP, DATE '2024-01-11'),
        |  ('TEST-5', 'TEST', 'Walkthrough', 'task', 'normal', 'open', NULL,
        |   'dev@example.com', 'myproject', false, false, false, false, 3.0,
        |   TIMESTAMP '2024-01-09 10:00:00', NULL::TIMESTAMP, DATE '2024-01-11')
        |) AS t(issue_key, queue, title, issue_type, priority, status, resolution, assignee,
        |       project, is_closed, is_resolved, is_subtask, was_moved, story_points,
        |       created_at, closed_at, deadline)
        |ORDER BY issue_key""".stripMargin,

    // The changelog transform over the same fixture: every stringifyVariant
    // arm appears — datetime-reformat + ref-name rows from the walkthrough
    // workflow events, and TEST-5's IssueUpdated event covering list join,
    // integral/fractional numbers, all four ref coalesce arms, >100-char
    // truncation, json passthrough, the id-fallback field name, and the
    // dropped both-empty / null-field rows.
    "pipeline_changelog" ->
      """SELECT * FROM (VALUES
        |  (TIMESTAMP '2024-01-09 11:00:00', 'TEST-1', 'TEST', 'IssueWorkflow', 'front', 'dev@example.com', 'Status', 'Open', 'In progress'),
        |  (TIMESTAMP '2024-01-09 11:00:00', 'TEST-1', 'TEST', 'IssueWorkflow', 'front', 'dev@example.com', 'Status start time', '', '2024-01-09T11:00:00.000'),
        |  (TIMESTAMP '2024-01-09 13:00:00', 'TEST-1', 'TEST', 'IssueWorkflow', 'front', 'dev@example.com', 'Status', 'In progress', 'Testing'),
        |  (TIMESTAMP '2024-01-09 13:00:00', 'TEST-1', 'TEST', 'IssueWorkflow', 'front', 'dev@example.com', 'Status start time', '2024-01-09T11:00:00.000', '2024-01-09T13:00:00.000'),
        |  (TIMESTAMP '2024-01-09 14:00:00', 'TEST-1', 'TEST', 'IssueWorkflow', 'front', 'dev@example.com', 'Status', 'Testing', 'In progress'),
        |  (TIMESTAMP '2024-01-09 14:00:00', 'TEST-1', 'TEST', 'IssueWorkflow', 'front', 'dev@example.com', 'Status start time', '2024-01-09T13:00:00.000', '2024-01-09T14:00:00.000'),
        |  (TIMESTAMP '2024-01-09 16:00:00', 'TEST-1', 'TEST', 'IssueWorkflow', 'front', 'dev@example.com', 'Status', 'In progress', 'Testing'),
        |  (TIMESTAMP '2024-01-09 16:00:00', 'TEST-1', 'TEST', 'IssueWorkflow', 'front', 'dev@example.com', 'Status start time', '2024-01-09T14:00:00.000', '2024-01-09T16:00:00.000'),
        |  (TIMESTAMP '2024-01-09 17:00:00', 'TEST-1', 'TEST', 'IssueWorkflow', 'front', 'dev@example.com', 'Status', 'Testing', 'Ready for release'),
        |  (TIMESTAMP '2024-01-09 17:00:00', 'TEST-1', 'TEST', 'IssueWorkflow', 'front', 'dev@example.com', 'Status start time', '2024-01-09T16:00:00.000', '2024-01-09T17:00:00.000'),
        |  (TIMESTAMP '2024-01-09 18:00:00', 'TEST-1', 'TEST', 'IssueWorkflow', 'front', 'dev@example.com', 'Status', 'Ready for release', 'Closed'),
        |  (TIMESTAMP '2024-01-09 18:00:00', 'TEST-1', 'TEST', 'IssueWorkflow', 'front', 'dev@example.com', 'Status start time', '2024-01-09T17:00:00.000', '2024-01-09T18:00:00.000'),
        |  (TIMESTAMP '2024-01-09 18:00:00', 'TEST-3', 'TEST', 'IssueWorkflow', 'front', 'dev@example.com', 'Status', 'Open', 'Closed'),
        |  (TIMESTAMP '2024-01-09 18:00:00', 'TEST-3', 'TEST', 'IssueWorkflow', 'front', 'dev@example.com', 'Status start time', '', '2024-01-09T18:00:00.000'),
        |  (TIMESTAMP '2024-01-09 12:00:00', 'TEST-4', 'TEST', 'IssueWorkflow', 'front', 'dev@example.com', 'Status', 'SelectedForDev', 'InProgress'),
        |  (TIMESTAMP '2024-01-09 12:00:00', 'TEST-4', 'TEST', 'IssueWorkflow', 'front', 'dev@example.com', 'Status start time', '', '2024-01-09T12:00:00.000'),
        |  (TIMESTAMP '2024-01-09 12:30:00', 'TEST-5', 'TEST', 'IssueUpdated', 'front', 'robot name', 'Assignee', 'Ref Name', '42'),
        |  (TIMESTAMP '2024-01-09 12:30:00', 'TEST-5', 'TEST', 'IssueUpdated', 'front', 'robot name', 'Deadline', '', '2024-01-09T12:00:00.000'),
        |  (TIMESTAMP '2024-01-09 12:30:00', 'TEST-5', 'TEST', 'IssueUpdated', 'front', 'robot name', 'Description', 'text too long, see history in UI', 'short text'),
        |  (TIMESTAMP '2024-01-09 12:30:00', 'TEST-5', 'TEST', 'IssueUpdated', 'front', 'robot name', 'Queue', 'OLDQ', 'new@owner.com'),
        |  (TIMESTAMP '2024-01-09 12:30:00', 'TEST-5', 'TEST', 'IssueUpdated', 'front', 'robot name', 'Story Points', '3', '5.5'),
        |  (TIMESTAMP '2024-01-09 12:30:00', 'TEST-5', 'TEST', 'IssueUpdated', 'front', 'robot name', 'Tags', 'a, b', 'a, b, c'),
        |  (TIMESTAMP '2024-01-09 12:30:00', 'TEST-5', 'TEST', 'IssueUpdated', 'front', 'robot name', 'meta', '{"k": 1}', '')
        |) AS t(event_time, issue_key, queue, event_type, transport, actor, changed_field, changed_from, changed_to)
        |ORDER BY issue_key, event_time, changed_field""".stripMargin,

    // S3 lookup: TEST-1's two comments (email author; name-fallback author
    // with null email; null updated_at) — TEST-3's comment excluded
    "pipeline_comments" ->
      """SELECT * FROM (VALUES
        |  ('TEST-1', '1001', 'LGTM, shipping', 'dev@example.com',
        |   TIMESTAMP '2024-01-09 12:00:00', TIMESTAMP '2024-01-09 12:30:00'),
        |  ('TEST-1', '1002', 're-opened for QA', 'robot name',
        |   TIMESTAMP '2024-01-09 15:00:00', NULL::TIMESTAMP)
        |) AS t(issue_key, comment_id, text, author, created_at, updated_at)
        |ORDER BY comment_id""".stripMargin,

    "pipeline_issues_extended" ->
      """SELECT * FROM (VALUES
        |  ('TEST-1', 'closed', 6::INTEGER, 'NORMAL'),
        |  ('TEST-2', 'open', 0, 'NORMAL'),
        |  ('TEST-3', 'closed', 1, 'NORMAL'),
        |  ('TEST-4', 'inprogress', 1, 'NORMAL'),
        |  ('TEST-5', 'open', 1, 'NORMAL')
        |) AS t(issue_key, status, changelog_events, priority_upper)
        |ORDER BY issue_key""".stripMargin,

    "pipeline_scale" -> {
      val trunc = "date_trunc('millisecond', %s)"
      s"""WITH iv AS (
         |  SELECT user_id, ts, lag(event_type) OVER w AS prev_type, lag(ts) OVER w AS prev_ts
         |  FROM $EV WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |), f AS (
         |  SELECT user_id, ${trunc.format("ts")} AS ts, prev_type, ${trunc.format("prev_ts")} AS prev_ts
         |  FROM iv WHERE prev_type IS NOT NULL
         |), f2 AS (
         |  SELECT user_id, ts, prev_type, prev_ts,
         |    abs((epoch_us(ts) - epoch_us(prev_ts)) // 1000000) AS dur,
         |    ${busSeconds("f.prev_ts", "f.ts")} AS bus
         |  FROM f
         |), g AS (
         |  SELECT 'U' || user_id::VARCHAR AS issue_key,
         |    ${snake("lower(prev_type)")} AS status_name,
         |    count(*)::INTEGER AS status_transitions_count,
         |    sum(dur)::BIGINT AS duration,
         |    sum(bus)::BIGINT AS busdays_duration,
         |    min(ts) AS last_seen
         |  FROM f2 GROUP BY 1, 2)
         |SELECT last_seen, issue_key, status_name, status_transitions_count, duration,
         |  ${humanTime("duration")} AS human_readable_duration,
         |  busdays_duration,
         |  ${humanTime("busdays_duration")} AS human_readable_busdays_duration
         |FROM g ORDER BY issue_key, status_name""".stripMargin
    },

    "dedup_exact" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
        |  min(doc_id) AS canonical_id, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin,

    "dedup_minhash" ->
      s"""WITH sh AS (${shingleSelect(3)})
         |SELECT a, b, jaccard FROM (
         |  SELECT x.doc_id AS a, y.doc_id AS b,
         |    len(list_intersect(x.sh, y.sh))::DOUBLE / len(list_distinct(list_concat(x.sh, y.sh)))::DOUBLE AS jaccard
         |  FROM sh x JOIN sh y ON x.doc_id < y.doc_id)
         |WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin,

    // exhaustive cross-set reference: every (train, eval) pair's exact
    // shingle Jaccard — matches the LSH path because this corpus's pair
    // similarities are bimodal (see dedup_minhash note)
    "dedup_decontaminate" ->
      s"""WITH sh AS MATERIALIZED (${shingleSelect(3)})
         |SELECT corpus_id, probe_id, jaccard FROM (
         |  SELECT c.doc_id AS corpus_id, p.doc_id AS probe_id,
         |    len(list_intersect(c.sh, p.sh))::DOUBLE / len(list_distinct(list_concat(c.sh, p.sh)))::DOUBLE AS jaccard
         |  FROM sh c JOIN sh p ON c.doc_id % 10 <> 7 AND p.doc_id % 10 = 7)
         |WHERE jaccard >= 0.5 ORDER BY corpus_id, probe_id""".stripMargin,

    "dedup_contaminated_ngrams" ->
      s"""WITH sh AS MATERIALIZED (${shingleSelect(13)}),
         |probe AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 10 = 7),
         |corp AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 10 <> 7)
         |SELECT c.doc_id AS corpus_id, count(*) AS n_shared_ngrams
         |FROM corp c JOIN probe USING (g)
         |GROUP BY corpus_id ORDER BY corpus_id""".stripMargin,

    // the Bloom-sieve path must be row-identical to the exact join (the
    // confirm join removes Bloom false positives), so it reuses the same
    // exact-gram oracle — DuckDB independently validates the sieve
    "dedup_contaminated_bloom" ->
      s"""WITH sh AS MATERIALIZED (${shingleSelect(13)}),
         |probe AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 10 = 7),
         |corp AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 10 <> 7)
         |SELECT c.doc_id AS corpus_id, count(*) AS n_shared_ngrams
         |FROM corp c JOIN probe USING (g)
         |GROUP BY corpus_id ORDER BY corpus_id""".stripMargin,

    // 8-grams shared by >= 2 docs are boilerplate; per-doc fraction of
    // distinct grams that are boilerplate (shingles are per-doc distinct,
    // so the per-gram row count is the distinct-document count)
    "text_boilerplate" ->
      s"""WITH sh AS MATERIALIZED (${shingleSelect(8)}),
         |g AS MATERIALIZED (SELECT doc_id, unnest(sh) AS gram FROM sh),
         |r AS (SELECT gram FROM (SELECT gram, count(*) AS c FROM g GROUP BY gram) WHERE c >= 2)
         |SELECT doc_id, count(*)::INTEGER AS n_grams,
         |  sum(CASE WHEN r.gram IS NOT NULL THEN 1 ELSE 0 END)::INTEGER AS n_boilerplate_grams,
         |  sum(CASE WHEN r.gram IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE AS boilerplate_frac
         |FROM g LEFT JOIN r ON g.gram = r.gram
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_ngram" ->
      s"""WITH g AS (${shingleSelect(2, ", lang, n_chars", " WHERE doc_id % 2 = 0")})
         |SELECT a, b, jaccard FROM (
         |  SELECT x.doc_id AS a, y.doc_id AS b,
         |    len(list_intersect(x.sh, y.sh))::DOUBLE / len(list_distinct(list_concat(x.sh, y.sh)))::DOUBLE AS jaccard
         |  FROM g x JOIN g y ON x.lang = y.lang AND x.doc_id < y.doc_id AND abs(x.n_chars - y.n_chars) <= 50)
         |WHERE jaccard >= 0.3 ORDER BY a, b""".stripMargin,

    // prefix-filtered exact Jaccard join: the oracle is the honest
    // quadratic all-pairs join over distinct word-token sets — any pair
    // the prefix filter missed would show up as a row-count mismatch
    "jaccard_join" ->
      s"""WITH g AS (${shingleSelect(3)}),
         |s AS MATERIALIZED (SELECT doc_id, sh AS toks, len(sh)::BIGINT AS sz FROM g WHERE len(sh) > 0),
         |p AS (SELECT x.doc_id AS a, y.doc_id AS b,
         |    len(list_intersect(x.toks, y.toks))::BIGINT AS n_common,
         |    x.sz + y.sz - len(list_intersect(x.toks, y.toks))::BIGINT AS n_union
         |  FROM s x JOIN s y ON x.doc_id < y.doc_id)
         |SELECT a, b, n_common, (n_common::DOUBLE / n_union::DOUBLE) AS jaccard
         |FROM p WHERE n_common * 2 >= n_union ORDER BY a, b""".stripMargin,

    // directed containment of the smaller shingle set in the larger:
    // lang-blocked, shingle floor 5 on the contained side (the size
    // direction makes the container's floor implied), string shingles
    // standing in for the engine's xxhash64 shingles (dedup_ngram's
    // collision caveat)
    "dedup_containment" ->
      s"""WITH g AS (${shingleSelect(2, ", lang", " WHERE doc_id % 2 = 1")})
         |SELECT a, b, containment FROM (
         |  SELECT x.doc_id AS a, y.doc_id AS b,
         |    len(list_intersect(x.sh, y.sh))::DOUBLE / len(x.sh)::DOUBLE AS containment
         |  FROM g x JOIN g y ON x.lang = y.lang AND x.doc_id <> y.doc_id
         |    AND (len(x.sh) < len(y.sh) OR (len(x.sh) = len(y.sh) AND x.doc_id < y.doc_id))
         |  WHERE len(x.sh) >= 5)
         |WHERE containment >= 0.8 ORDER BY a, b""".stripMargin,

    "dedup_simhash" ->
      s"""WITH ${simhashFp()}
         |SELECT a, b, hamming FROM (
         |  SELECT x.doc_id AS a, y.doc_id AS b, bit_count(xor(x.simhash, y.simhash))::INTEGER AS hamming
         |  FROM fp x JOIN fp y ON x.doc_id < y.doc_id)
         |WHERE hamming <= 3 ORDER BY a, b""".stripMargin,

    // Connected components by brute-force reachability closure: reach
    // enumerates every (node, reachable node) pair — exponentially more
    // work than the Spark side's star contraction, but exact, and the
    // UNION (not UNION ALL) recursion terminates on the closure fixpoint.
    // The pair graph is the same all-pairs Hamming≤3 set as the
    // dedup_simhash oracle.
    // dedup_clusters' closure + per-component argmax on (score desc,
    // doc_id asc) — the quality-canonical rule of bestPerCluster
    "dedup_cluster_best" ->
      s"""WITH RECURSIVE ${simhashFp()},
         |pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM fp x JOIN fp y ON x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3),
         |sym AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.id, sym.b FROM reach JOIN sym ON sym.a = reach.r),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |q AS (
         |  SELECT doc_id, len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS score
         |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents)),
         |j AS (SELECT comp.id AS doc_id, comp.component, q.score
         |      FROM comp JOIN q ON q.doc_id = comp.id),
         |r2 AS (
         |  SELECT *, count(*) OVER (PARTITION BY component) AS cluster_size,
         |    row_number() OVER (PARTITION BY component ORDER BY score DESC, doc_id) AS rn
         |  FROM j)
         |SELECT component, doc_id AS best_id, cluster_size::BIGINT AS cluster_size
         |FROM r2 WHERE rn = 1 ORDER BY component""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE ${simhashFp()},
         |pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM fp x JOIN fp y ON x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3),
         |sym AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.id, sym.b FROM reach JOIN sym ON sym.a = reach.r),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |sz AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
         |SELECT comp.id AS doc_id, comp.component, sz.cluster_size,
         |  comp.id = comp.component AS is_canonical
         |FROM comp JOIN sz USING (component) ORDER BY doc_id""".stripMargin,

    // Clusters over the exhaustive Jaccard >= 0.5 graph UNION the
    // same-normalized-text pairs (identical short docs have no shingles
    // but still belong to one cluster via the exact-fingerprint
    // contraction), resolved by the same reachability closure as
    // dedup_clusters.
    "dedup_minhash_clusters" ->
      s"""WITH RECURSIVE sh AS (${shingleSelect(3)}),
         |jp AS (
         |  SELECT a, b FROM (
         |    SELECT x.doc_id AS a, y.doc_id AS b,
         |      len(list_intersect(x.sh, y.sh))::DOUBLE / len(list_distinct(list_concat(x.sh, y.sh)))::DOUBLE AS jaccard
         |    FROM sh x JOIN sh y ON x.doc_id < y.doc_id)
         |  WHERE jaccard >= 0.5),
         |ft AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp FROM documents),
         |fpp AS (SELECT x.doc_id AS a, y.doc_id AS b FROM ft x JOIN ft y ON x.fp = y.fp AND x.doc_id < y.doc_id),
         |pairs AS (SELECT a, b FROM jp UNION SELECT a, b FROM fpp),
         |sym AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.id, sym.b FROM reach JOIN sym ON sym.a = reach.r),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |sz AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
         |SELECT comp.id AS doc_id, comp.component, sz.cluster_size,
         |  comp.id = comp.component AS is_canonical
         |FROM comp JOIN sz USING (component) ORDER BY doc_id""".stripMargin,

    // clusters over the same planted-corpus cosine >= 0.9 graph, by the
    // same reachability closure as the other cluster oracles
    "dedup_embedding_clusters" ->
      s"""WITH RECURSIVE corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000, list_transform(embedding, x -> (x * 2::FLOAT)::FLOAT)
         |  FROM embeddings WHERE vec_id < 25),
         |pairs AS (
         |  SELECT a, b FROM (
         |    SELECT x.vec_id AS a, y.vec_id AS b,
         |      ${dot("x.embedding", "y.embedding")} / (sqrt(${dot("x.embedding", "x.embedding")}) * sqrt(${dot("y.embedding", "y.embedding")})) AS cosine
         |    FROM corpus x JOIN corpus y ON x.vec_id < y.vec_id)
         |  WHERE cosine >= 0.9),
         |sym AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
         |reach(id, r) AS (
         |  SELECT vec_id, vec_id FROM corpus
         |  UNION
         |  SELECT reach.id, sym.b FROM reach JOIN sym ON sym.a = reach.r),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |sz AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
         |SELECT comp.id AS vec_id, comp.component, sz.cluster_size,
         |  comp.id = comp.component AS is_canonical
         |FROM comp JOIN sz USING (component) ORDER BY vec_id""".stripMargin,

    // all-pairs reference with the SAME left-fold double arithmetic as the
    // Spark side, so any pair both engines emit hash-matches bit-for-bit.
    // The corpus CTE mirrors the query's planted near-duplicates: an
    // id-offset copy of each vec_id < 25 scaled by 2.0f (float-exact, so
    // both engines see bit-identical vectors) — the oracle verifies 25
    // FOUND pairs, not an empty set.
    "dedup_embedding" ->
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000, list_transform(embedding, x -> (x * 2::FLOAT)::FLOAT)
         |  FROM embeddings WHERE vec_id < 25)
         |SELECT a, b, cosine FROM (
         |  SELECT x.vec_id AS a, y.vec_id AS b,
         |    ${dot("x.embedding", "y.embedding")} / (sqrt(${dot("x.embedding", "x.embedding")}) * sqrt(${dot("y.embedding", "y.embedding")})) AS cosine
         |  FROM corpus x JOIN corpus y ON x.vec_id < y.vec_id)
         |WHERE cosine >= 0.9 ORDER BY a, b""".stripMargin,

    // full mirror of Similarity.lshTopK(k=10, dim=64, planes=6, probes=6,
    // seed=42): the recursive CTE regenerates the minstd-LCG hyperplanes
    // (seed scramble + 8 burn-in steps, values 2·s/m − 1) exactly as
    // Similarity.hyperplanes does, buckets via the same left-fold dots,
    // multi-probe = bucket XOR {0, 1<<i}, then distinct + rank like the
    // Spark plan — so even the LSH candidate generation is oracle-checked
    "ann_lsh" ->
      s"""WITH RECURSIVE lcg(k, s) AS (
         |  SELECT 0, (42 * 2654435761) % 2147483646 + 1
         |  UNION ALL
         |  SELECT k + 1, (s * 48271) % 2147483647 FROM lcg WHERE k < ${8 + 6 * 64}
         |),
         |pl AS (
         |  SELECT (k - 9) // 64 AS i, list(s / 2147483647.0 * 2 - 1 ORDER BY k) AS plane
         |  FROM lcg WHERE k >= 9 GROUP BY 1
         |),
         |b AS (
         |  SELECT vec_id, sum(CASE WHEN d >= 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS bucket
         |  FROM (
         |    SELECT e.vec_id, p.i,
         |      list_reduce(list_transform(range(1, 65), j -> e.embedding[j]::DOUBLE * p.plane[j]), (x, y) -> x + y) AS d
         |    FROM embeddings e CROSS JOIN pl p)
         |  GROUP BY vec_id
         |),
         |eb AS (SELECT e.vec_id, e.embedding, b.bucket FROM embeddings e JOIN b USING (vec_id)),
         |qp AS (
         |  SELECT vec_id AS query_id, embedding AS qv, xor(bucket, f::BIGINT) AS bucket
         |  FROM eb CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8, 16, 32]) AS f)
         |  WHERE vec_id < 10
         |),
         |cand AS (
         |  SELECT DISTINCT query_id, qv, c.vec_id AS neighbor_id, c.embedding AS cv
         |  FROM qp JOIN eb c USING (bucket)
         |),
         |sc AS (SELECT query_id, neighbor_id,
         |  ${dot("qv", "cv")} / (sqrt(${dot("qv", "qv")}) * sqrt(${dot("cv", "cv")})) AS cosine
         |FROM cand)
         |SELECT query_id, neighbor_id, cosine, rank::INTEGER AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM sc)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "ann_ivf" -> ivfOracleSql,

    // radix prefix-cache savings: sorted-neighbor LCP trie identity;
    // list ORDER is element-wise binary UTF-8, shorter-prefix-first on
    // both engines (this row proves the collation agreement)
    "prompt_prefix_cache" ->
      """WITH t AS (
        |  SELECT lang, doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |s AS (
        |  SELECT lang, doc_id, toks,
        |    lag(toks) OVER (PARTITION BY lang ORDER BY toks, doc_id) AS prev
        |  FROM t),
        |l AS (
        |  SELECT lang, len(toks)::BIGINT AS n,
        |    CASE WHEN prev IS NULL THEN 0
        |     ELSE coalesce(
        |       list_min(list_filter(list_transform(range(1, least(len(toks), len(prev)) + 1),
        |         i -> CASE WHEN toks[i] IS DISTINCT FROM prev[i] THEN i END), x -> x IS NOT NULL)) - 1,
        |       least(len(toks), len(prev)))::BIGINT END AS lcp
        |  FROM s)
        |SELECT lang, count(*)::BIGINT AS n_prompts, sum(n)::BIGINT AS total_tokens,
        |  sum(lcp)::BIGINT AS cached_tokens,
        |  (sum(n) - sum(lcp))::BIGINT AS unique_trie_tokens,
        |  sum(lcp)::DOUBLE / sum(n)::DOUBLE AS hit_frac
        |FROM l GROUP BY lang ORDER BY lang""".stripMargin,

    // data-scaling curve: one token pass -> (term, bucket-flag counts);
    // three +1-smoothed unigram NLLs over the shared vocab; 3-point
    // log-log OLS slope with the engine's exact parenthesization
    // (FLOAT — the ln-chain discipline of the entropy rows)
    "lm_scaling_curve" -> {
      def nll(c: String, t: String): String =
        s"sum(ce * floor(-ln(($c + 1)::DOUBLE / ($t + v)::DOUBLE) * 1099511627776.0)::BIGINT)::BIGINT"
      val xy = (Seq(1, 2, 4) zip Seq(1, 2, 3)).map { case (k, i) =>
        s"ln(t$k::DOUBLE) AS x$i, ln(f$k::DOUBLE / (te * 1099511627776)::DOUBLE) AS y$i"
      }.mkString(", ")
      s"""WITH tok AS (
         |  SELECT ${md24("doc_id::VARCHAR")} % 8 AS b,
         |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
         |  FROM documents),
         |tc AS MATERIALIZED (
         |  SELECT term,
         |    sum(CASE WHEN b < 1 THEN 1 ELSE 0 END)::BIGINT AS c1,
         |    sum(CASE WHEN b < 2 THEN 1 ELSE 0 END)::BIGINT AS c2,
         |    sum(CASE WHEN b < 4 THEN 1 ELSE 0 END)::BIGINT AS c4,
         |    sum(CASE WHEN b = 7 THEN 1 ELSE 0 END)::BIGINT AS ce
         |  FROM tok GROUP BY term),
         |tot AS MATERIALIZED (
         |  SELECT sum(c1)::BIGINT AS t1, sum(c2)::BIGINT AS t2, sum(c4)::BIGINT AS t4,
         |    sum(ce)::BIGINT AS te, count(*)::BIGINT AS v
         |  FROM tc),
         |pv AS MATERIALIZED (
         |  SELECT ${nll("c1", "t1")} AS f1, ${nll("c2", "t2")} AS f2, ${nll("c4", "t4")} AS f4,
         |    max(t1) AS t1, max(t2) AS t2, max(t4) AS t4, max(te) AS te
         |  FROM tc, tot),
         |xys AS MATERIALIZED (SELECT *, $xy FROM pv),
         |sl AS MATERIALIZED (
         |  SELECT *,
         |    ((3.0 * ((x1 * y1 + x2 * y2) + x3 * y3) - ((x1 + x2) + x3) * ((y1 + y2) + y3))
         |     / (3.0 * ((x1 * x1 + x2 * x2) + x3 * x3) - ((x1 + x2) + x3) * ((x1 + x2) + x3)))::FLOAT AS slope
         |  FROM xys)
         |SELECT k_buckets, n_train_tokens, te AS n_eval_tokens, nll_fp,
         |  nll_fp::DOUBLE / (te * 1099511627776)::DOUBLE AS nll_per_token, slope
         |FROM (
         |  SELECT 1 AS k_buckets, t1 AS n_train_tokens, f1 AS nll_fp, te, slope FROM sl
         |  UNION ALL SELECT 2, t2, f2, te, slope FROM sl
         |  UNION ALL SELECT 4, t4, f4, te, slope FROM sl)
         |ORDER BY k_buckets""".stripMargin
    },

    // exact average precision of the hash-classifier score vs the
    // "long document" truth: every precision@k on the 2^40 grid, AP an
    // exact int64 sum, auprc one division
    "eval_auprc" ->
      s"""WITH w AS MATERIALIZED (
         |  SELECT i::INTEGER AS bucket, (${md24("'w:' || i::VARCHAR")} - 8388608)::BIGINT AS w_fp
         |  FROM (SELECT unnest(range(0, 4096)) AS i)),
         |t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |feats AS (
         |  SELECT doc_id, unnest(toks) AS f FROM t
         |  UNION ALL
         |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS f
         |  FROM t, unnest(range(1, len(toks))) AS v(i) WHERE len(toks) >= 2),
         |b AS (SELECT doc_id, (${md24("f")} % 4096)::INTEGER AS bucket FROM feats),
         |j AS (SELECT doc_id, w_fp FROM b JOIN w USING (bucket)),
         |sc AS (SELECT doc_id, sum(w_fp)::DOUBLE / (count(*)::DOUBLE * 8388608.0) AS score
         |  FROM j GROUP BY doc_id),
         |tr AS (SELECT doc_id, len(toks) >= 45 AS is_long FROM t),
         |r AS (
         |  SELECT CASE WHEN is_long THEN 1 ELSE 0 END AS y,
         |    row_number() OVER (ORDER BY score DESC, sc.doc_id) AS k,
         |    sum(CASE WHEN is_long THEN 1 ELSE 0 END)
         |      OVER (ORDER BY score DESC, sc.doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM sc JOIN tr USING (doc_id))
         |SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos,
         |  sum(y)::DOUBLE / count(*)::DOUBLE AS prevalence,
         |  sum(CASE WHEN y = 1 THEN (cum * 1099511627776) // k ELSE 0 END)::BIGINT AS ap_fp,
         |  sum(CASE WHEN y = 1 THEN (cum * 1099511627776) // k ELSE 0 END)::DOUBLE
         |    / (sum(y) * 1099511627776)::DOUBLE AS auprc
         |FROM r""".stripMargin,

    // MAD robust outlier gate: exact lower medians (rank (n+1)//2),
    // integer cross-multiplied modified z-score (6745*dev > 35000*mad)
    "quality_mad" ->
      """WITH v AS (SELECT lang, doc_id, n_chars::BIGINT AS x FROM documents),
        |m AS MATERIALIZED (
        |  SELECT lang, max(CASE WHEN rn = (cnt + 1) // 2 THEN x END) AS med FROM (
        |    SELECT lang, x, row_number() OVER (PARTITION BY lang ORDER BY x, doc_id) AS rn,
        |      count(*) OVER (PARTITION BY lang) AS cnt FROM v) GROUP BY lang),
        |d AS MATERIALIZED (
        |  SELECT v.lang, v.doc_id, abs(v.x - m.med) AS ad, m.med FROM v JOIN m USING (lang)),
        |md AS MATERIALIZED (
        |  SELECT lang, max(CASE WHEN rn = (cnt + 1) // 2 THEN ad END) AS mad FROM (
        |    SELECT lang, ad, row_number() OVER (PARTITION BY lang ORDER BY ad, doc_id) AS rn,
        |      count(*) OVER (PARTITION BY lang) AS cnt FROM d) GROUP BY lang)
        |SELECT d.lang, count(*)::BIGINT AS n, max(d.med)::BIGINT AS med,
        |  max(mad)::BIGINT AS mad,
        |  sum(CASE WHEN d.ad * 6745 > 35000 * mad THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
        |  sum(CASE WHEN d.ad * 6745 > 35000 * mad THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE AS outlier_frac
        |FROM d JOIN md USING (lang) GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "pack_bestfit" -> packBestFitSql,

    "pack_waste" -> packWasteSql,

    "ann_graph" -> annGraphSql("graph"),

    "ann_graph_topk" -> annGraphSql("topk"),

    "ann_graph_recall" -> annGraphSql("recall"),

    "ann_ivf_append" -> ivfAppendOracleSql,

    "emb_pq" -> pqOracleSql,

    "ann_pq" -> pqAdcOracleSql,

    "ann_ivfpq" -> ivfPqOracleSql,

    "ann_ivfpq_recall" -> ivfPqRecallOracleSql,

    "ann_ivfpq_residual" -> ivfPqResidualOracleSql,

    "ann_ivfpq_residual_recall" -> ivfPqResidualRecallOracleSql,

    "ann_pq_recall" -> pqRecallOracleSql,

    "ann_pq_refined" -> pqRefineOracleSql,

    // recall@10 of the LSH path against brute force: the lsh and brute
    // CTE chains are the ann_lsh / ann_brute oracles verbatim, joined on
    // (query, neighbor) and counted — integer-exact (n_hits of 10)
    "ann_recall" ->
      s"""WITH RECURSIVE lcg(k, s) AS (
         |  SELECT 0, (42 * 2654435761) % 2147483646 + 1
         |  UNION ALL
         |  SELECT k + 1, (s * 48271) % 2147483647 FROM lcg WHERE k < ${8 + 6 * 64}
         |),
         |pl AS (
         |  SELECT (k - 9) // 64 AS i, list(s / 2147483647.0 * 2 - 1 ORDER BY k) AS plane
         |  FROM lcg WHERE k >= 9 GROUP BY 1
         |),
         |b AS (
         |  SELECT vec_id, sum(CASE WHEN d >= 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS bucket
         |  FROM (
         |    SELECT e.vec_id, p.i,
         |      list_reduce(list_transform(range(1, 65), j -> e.embedding[j]::DOUBLE * p.plane[j]), (x, y) -> x + y) AS d
         |    FROM embeddings e CROSS JOIN pl p)
         |  GROUP BY vec_id
         |),
         |eb AS (SELECT e.vec_id, e.embedding, b.bucket FROM embeddings e JOIN b USING (vec_id)),
         |qp AS (
         |  SELECT vec_id AS query_id, embedding AS qv, xor(bucket, f::BIGINT) AS bucket
         |  FROM eb CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8, 16, 32]) AS f)
         |  WHERE vec_id < 10
         |),
         |cand AS (
         |  SELECT DISTINCT query_id, qv, c.vec_id AS neighbor_id, c.embedding AS cv
         |  FROM qp JOIN eb c USING (bucket)
         |),
         |sc AS (SELECT query_id, neighbor_id,
         |  ${dot("qv", "cv")} / (sqrt(${dot("qv", "qv")}) * sqrt(${dot("cv", "cv")})) AS cosine
         |FROM cand),
         |lsh AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM sc)
         |  WHERE rank <= 10),
         |bq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |bc AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |bs AS (SELECT query_id, neighbor_id,
         |  ${dot("qv", "cv")} / (sqrt(${dot("qv", "qv")}) * sqrt(${dot("cv", "cv")})) AS cosine
         |FROM bq CROSS JOIN bc),
         |brute AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM bs)
         |  WHERE rank <= 10)
         |SELECT b2.query_id, sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::INTEGER AS n_hits,
         |  ((sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100) // count(*))::INTEGER AS recall_pct
         |FROM brute b2 LEFT JOIN lsh l
         |  ON b2.query_id = l.query_id AND b2.neighbor_id = l.neighbor_id
         |GROUP BY b2.query_id ORDER BY b2.query_id""".stripMargin,

    "dedup_semantic" -> semanticOracleSql,

    // string spans stand in for the engine's xxhash64 span keys (counts
    // and coverage only cross the compare); 6-token windows, coverage =
    // union of duplicated-span positions
    "dedup_spans" ->
      s"""WITH ${spanCtes(6)},
         |cov AS (SELECT doc_id, count(DISTINCT pos + j) AS n_cov
         |        FROM d, unnest(range(0, 6)) AS v(j) GROUP BY doc_id),
         |nd AS (SELECT doc_id, count(*) AS n_dup FROM d GROUP BY doc_id),
         |tot AS (SELECT doc_id, len(toks)::INTEGER AS n_tokens,
         |        greatest(len(toks) - 5, 0)::INTEGER AS n_spans FROM t)
         |SELECT doc_id, n_tokens, n_spans,
         |  coalesce(n_dup, 0)::BIGINT AS n_dup_spans,
         |  coalesce(n_cov, 0)::BIGINT AS n_covered_tokens,
         |  coalesce(n_cov, 0)::DOUBLE / n_tokens::DOUBLE AS covered_frac
         |FROM tot LEFT JOIN nd USING (doc_id) LEFT JOIN cov USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // every position covered by any duplicated 6-token span is dropped;
    // reassembly via ordered list aggregation over the surviving tokens
    "dedup_span_scrub" ->
      s"""WITH ${spanCtes(6)},
         |cov AS (SELECT DISTINCT doc_id, pos + j AS idx FROM d, unnest(range(0, 6)) AS v(j)),
         |u AS (SELECT doc_id, i - 1 AS idx, toks[i] AS tok
         |      FROM t, unnest(range(1, len(toks) + 1)) AS w(i)),
         |kept AS (SELECT u.doc_id, u.idx, u.tok FROM u
         |         LEFT JOIN cov ON u.doc_id = cov.doc_id AND u.idx = cov.idx
         |         WHERE cov.doc_id IS NULL),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |        array_to_string(list(tok ORDER BY idx), ' ') AS txt
         |        FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, len(t.toks)::INTEGER AS n_tokens,
         |  coalesce(agg.n_kept, 0)::INTEGER AS n_kept,
         |  coalesce(agg.txt, '') AS scrubbed_text
         |FROM t LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // 2-token units, first occurrence (min position) wins, order kept
    "text_dedup_units" ->
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, toks, ((len(toks) + 1) // 2) AS nu FROM t),
        |u AS (SELECT doc_id, i, array_to_string(toks[(i - 1) * 2 + 1 : i * 2], ' ') AS unit
        |      FROM c, unnest(range(1, nu + 1)) AS v(i)),
        |f AS (SELECT doc_id, i, unit,
        |      row_number() OVER (PARTITION BY doc_id, unit ORDER BY i) AS rn FROM u)
        |SELECT c.doc_id, c.nu::INTEGER AS n_units, k.n_kept::INTEGER AS n_kept, k.txt AS text_deduped
        |FROM c JOIN (SELECT doc_id, count(*) AS n_kept,
        |             array_to_string(list(unit ORDER BY i), ' ') AS txt
        |             FROM f WHERE rn = 1 GROUP BY doc_id) k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // hash-derived weight table (md5-fixed-point, signed 24-bit), unigram
    // + bigram features, integer-grid score — sum(w_fp) is associative so
    // the score is partitioning-independent in both engines
    "quality_classifier" ->
      s"""WITH w AS MATERIALIZED (
         |  SELECT i::INTEGER AS bucket, (${md24("'w:' || i::VARCHAR")} - 8388608)::BIGINT AS w_fp
         |  FROM (SELECT unnest(range(0, 4096)) AS i)),
         |t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |feats AS (
         |  SELECT doc_id, unnest(toks) AS f FROM t
         |  UNION ALL
         |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS f
         |  FROM t, unnest(range(1, len(toks))) AS v(i) WHERE len(toks) >= 2),
         |b AS (SELECT doc_id, (${md24("f")} % 4096)::INTEGER AS bucket FROM feats),
         |j AS (SELECT doc_id, w_fp FROM b JOIN w USING (bucket))
         |SELECT doc_id, count(*)::INTEGER AS n_feats,
         |  sum(w_fp)::DOUBLE / (count(*)::DOUBLE * 8388608.0) AS score,
         |  sum(w_fp) > 0 AS label
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // reliability diagram over the same replayed hash-model scores,
    // binned width 0.25 on [-1,1]; truth = the 45-token rule; min/max
    // envelope instead of an order-sensitive mean
    "quality_calibration" ->
      s"""WITH w AS MATERIALIZED (
         |  SELECT i::INTEGER AS bucket, (${md24("'w:' || i::VARCHAR")} - 8388608)::BIGINT AS w_fp
         |  FROM (SELECT unnest(range(0, 4096)) AS i)),
         |t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |feats AS (
         |  SELECT doc_id, unnest(toks) AS f FROM t
         |  UNION ALL
         |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS f
         |  FROM t, unnest(range(1, len(toks))) AS v(i) WHERE len(toks) >= 2),
         |b AS (SELECT doc_id, (${md24("f")} % 4096)::INTEGER AS bucket FROM feats),
         |j AS (SELECT doc_id, w_fp FROM b JOIN w USING (bucket)),
         |sc AS (SELECT doc_id, sum(w_fp)::DOUBLE / (count(*)::DOUBLE * 8388608.0) AS score
         |  FROM j GROUP BY doc_id),
         |tr AS (SELECT doc_id, len(toks) >= 45 AS is_long FROM t),
         |x AS (SELECT sc.doc_id, score, is_long,
         |    least(greatest(floor((score + 1.0) * 4.0)::INTEGER, 0), 7) AS bin
         |  FROM sc JOIN tr USING (doc_id))
         |SELECT bin, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN is_long THEN 1 ELSE 0 END)::BIGINT AS n_true,
         |  min(score) AS min_score, max(score) AS max_score,
         |  sum(CASE WHEN is_long THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE AS true_rate
         |FROM x GROUP BY bin ORDER BY bin""".stripMargin,

    // batch-perceptron training replayed as 4 CTE layers — the
    // all-integer Rosenblatt update is associative, so the learned
    // weights (and hence the trace) are partitioning-independent
    "classifier_train" -> perceptronOracleSql(10),

    // 80/20 md5-coin holdout: train-side epochs, both sides scored
    // against the final weights — the generalization measurement
    "classifier_eval" -> perceptronEvalOracleSql(10),

    // full-corpus Lloyd refinement replayed as assignment/update CTE
    // layers on the 2^20 integer grid; final layer assignment-only
    "kmeans_train" -> kmeansOracleSql(8, 4),

    "bpe_merges" -> bpeOracleSql(8),
    "bpe_tokenize" -> bpeTokenizeOracleSql(8),

    // unigram-LM (SentencePiece-style) tokenizer: 2-round hard-EM fit
    // replayed with the Viterbi lattice DP unrolled to 8 position
    // layers per round — all-integer path costs on the 2^40 NLL grid
    "spm_train" -> spmTrainOracleSql,
    "spm_tokenize" -> spmTokenizeOracleSql,
    "spm_fertility" -> spmFertilityOracleSql,
    "spm_vocab_sweep" -> spmVocabSweepOracleSql(Seq(6, 12)),

    // pass@k as ratios of exact integer falling products (n fixed at
    // 10 per problem, so int64 never strains); n-c < k collapses to a
    // zero factor (pass = 1)
    "eval_pass_at_k" ->
      s"""WITH s AS (SELECT doc_id // 10 AS problem_id,
         |    CASE WHEN (${md24("'pass:' || doc_id::VARCHAR")}) % 4 = 0 THEN 1 ELSE 0 END AS ok
         |  FROM documents),
         |p AS (SELECT problem_id, count(*)::BIGINT AS n, sum(ok)::BIGINT AS c FROM s GROUP BY 1)
         |SELECT problem_id, n, c,
         |  CASE WHEN n < 1 THEN NULL
         |    ELSE 1.0 - greatest(n - c, 0)::DOUBLE / n::DOUBLE END AS pass_at_1,
         |  CASE WHEN n < 5 THEN NULL
         |    ELSE 1.0 - (greatest(n-c,0) * greatest(n-c-1,0) * greatest(n-c-2,0)
         |                 * greatest(n-c-3,0) * greatest(n-c-4,0))::DOUBLE
         |             / (n * (n-1) * (n-2) * (n-3) * (n-4))::DOUBLE END AS pass_at_5
         |FROM p ORDER BY problem_id""".stripMargin,

    // reliability diagram + corpus ECE: the ECE numerator is one exact
    // int64 sum of per-bin |c*2^24 - sum(conf)| gaps
    "eval_ece" ->
      s"""WITH preds AS (SELECT
         |    (${md24("'conf:' || doc_id::VARCHAR")}) AS conf_fp,
         |    CASE WHEN (${md24("'acc:' || doc_id::VARCHAR")}) < ((${md24("'conf:' || doc_id::VARCHAR")}) * 9) // 10
         |      THEN 1 ELSE 0 END AS ok
         |  FROM documents),
         |b AS (SELECT ((conf_fp * 10) // 16777216)::INTEGER AS bin,
         |    count(*)::BIGINT AS n, sum(ok)::BIGINT AS c, sum(conf_fp)::BIGINT AS sc
         |  FROM preds GROUP BY 1),
         |g AS (SELECT *, abs(c * 16777216 - sc)::BIGINT AS gap_num FROM b),
         |t AS (SELECT sum(n)::BIGINT AS tn, sum(gap_num)::BIGINT AS tg FROM g)
         |SELECT bin, n,
         |  c::DOUBLE / n::DOUBLE AS accuracy,
         |  sc::DOUBLE / (n * 16777216)::DOUBLE AS confidence,
         |  gap_num::DOUBLE / (n * 16777216)::DOUBLE AS gap,
         |  tg::DOUBLE / (tn * 16777216)::DOUBLE AS ece
         |FROM g, t ORDER BY bin""".stripMargin,

    // Cohen's kappa cleared to one integer numerator/denominator; the
    // HUGEINT cross moments are exactly double-representable (< 2^53)
    "eval_kappa" ->
      s"""WITH r AS (SELECT
         |    (${md24("'r1:' || doc_id::VARCHAR")}) % 3 AS r1,
         |    CASE WHEN (${md24("'agree:' || doc_id::VARCHAR")}) % 10 < 7
         |      THEN (${md24("'r1:' || doc_id::VARCHAR")}) % 3
         |      ELSE ((${md24("'r1:' || doc_id::VARCHAR")}) % 3 + 1
         |            + (${md24("'alt:' || doc_id::VARCHAR")}) % 2) % 3 END AS r2
         |  FROM documents),
         |nn AS (SELECT count(*)::BIGINT AS n,
         |    sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END)::BIGINT AS n_agree FROM r),
         |rm AS (SELECT r1 AS k, count(*)::BIGINT AS rk FROM r GROUP BY 1),
         |cm AS (SELECT r2 AS k, count(*)::BIGINT AS ck FROM r GROUP BY 1),
         |rc AS (SELECT coalesce(sum(coalesce(rk, 0)::HUGEINT * coalesce(ck, 0)::HUGEINT), 0) AS rc
         |  FROM rm FULL OUTER JOIN cm USING (k))
         |SELECT n, n_agree,
         |  n_agree::DOUBLE / n::DOUBLE AS po,
         |  rc::DOUBLE / (n::HUGEINT * n::HUGEINT)::DOUBLE AS pe,
         |  (n::HUGEINT * n_agree::HUGEINT - rc)::DOUBLE
         |    / (n::HUGEINT * n::HUGEINT - rc)::DOUBLE AS kappa
         |FROM nn, rc""".stripMargin,

    // MM fixpoint unrolled to 4 rounds on the 2^20 grid
    "eval_bradley_terry" -> bradleyTerryOracleSql(4),

    // power analysis: exact user-grain moments, z quantiles as the
    // SAME decimal literals the engine embeds, every float step one
    // fixed chain (the cuped discipline)
    "ab_power" ->
      s"""WITH u AS (SELECT user_id,
         |    sum(CAST(floor(value * 1048576) AS BIGINT))::HUGEINT AS x
         |  FROM events GROUP BY user_id),
         |m AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(x * x) AS sxx FROM u)
         |SELECT n AS n_users,
         |  sx::DOUBLE / (n::DOUBLE * 1048576.0) AS mean,
         |  (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
         |    / ((n::DOUBLE * (n::DOUBLE - 1.0)) * (1048576.0 * 1048576.0)) AS variance,
         |  0.05 * (sx::DOUBLE / (n::DOUBLE * 1048576.0)) AS mde,
         |  ceil(((2.0 * ((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
         |      / ((n::DOUBLE * (n::DOUBLE - 1.0)) * (1048576.0 * 1048576.0))))
         |    * (((1.959963984540054 + 0.8416212335729143))
         |       * ((1.959963984540054 + 0.8416212335729143))))
         |    / ((0.05 * (sx::DOUBLE / (n::DOUBLE * 1048576.0)))
         |       * (0.05 * (sx::DOUBLE / (n::DOUBLE * 1048576.0)))))::BIGINT AS n_per_arm
         |FROM m""".stripMargin,

    // scrub accounting: coverage = union of shared 8-windows — the
    // oracle marks covered positions with raw gram strings, no hashes
    "dedup_substring_scrub" ->
      s"""WITH tokd AS MATERIALIZED (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         |  FROM documents WHERE doc_id < 120),
         |st AS (
         |  SELECT d.doc_id + 100000 AS doc_id,
         |    d.toks[1:12] || p.toks[3 : 10 + (d.doc_id % 24)] || d.toks[13:20] AS toks
         |  FROM tokd d JOIN tokd p ON p.doc_id = d.doc_id + 4
         |  WHERE d.doc_id % 4 = 0),
         |corpus AS MATERIALIZED (SELECT * FROM tokd UNION ALL SELECT * FROM st),
         |wins AS MATERIALIZED (
         |  SELECT doc_id, i AS pos, array_to_string(toks[i : i + 7], ' ') AS g
         |  FROM corpus, range(1, 150) ri(i) WHERE i + 7 <= len(toks)),
         |sh AS (SELECT g FROM wins GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (SELECT doc_id, count(DISTINCT pos + off) AS n_covered
         |  FROM wins JOIN sh USING (g), range(0, 8) ro(off)
         |  GROUP BY doc_id)
         |SELECT c.doc_id, len(c.toks)::BIGINT AS n_tokens,
         |  coalesce(cov.n_covered, 0)::BIGINT AS n_covered,
         |  (len(c.toks) - coalesce(cov.n_covered, 0))::DOUBLE
         |    / len(c.toks)::DOUBLE AS keep_frac
         |FROM corpus c LEFT JOIN cov USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // k-truss peeling unrolled to 6 rounds over the sparsified
    // item-transition graph
    "graph_ktruss" -> ktrussOracleSql(5, 6),

    // the third DP primitive: clipped exact sum + the dp_counts
    // hash-Laplace noise, mean over the public count
    "dp_mean" ->
      s"""WITH g AS (SELECT lang, count(*)::BIGINT AS n,
         |    sum(least(greatest(n_chars, 0), 1000))::BIGINT AS sum_clipped
         |  FROM documents GROUP BY 1),
         |u AS (SELECT lang, n, sum_clipped,
         |    ((${md24("'dpm:' || lang")})::DOUBLE + 0.5) / 16777216.0 - 0.5 AS u FROM g)
         |SELECT lang, n, sum_clipped,
         |  floor(-1000.0 * sign(u) * ln(1.0 - 2.0 * abs(u)) * 1099511627776.0)::BIGINT AS noise_fp,
         |  ((sum_clipped::DOUBLE
         |    + floor(-1000.0 * sign(u) * ln(1.0 - 2.0 * abs(u)) * 1099511627776.0)::DOUBLE
         |      / 1099511627776.0) / n::DOUBLE)::FLOAT AS mean_noisy
         |FROM u ORDER BY lang""".stripMargin,

    // McNemar's continuity-corrected discordant-pair statistic
    "eval_mcnemar" ->
      s"""WITH p AS (SELECT
         |    (${md24("'conf:' || doc_id::VARCHAR")}) AS conf_fp,
         |    (${md24("'acc:' || doc_id::VARCHAR")}) AS a,
         |    (${md24("'accb:' || doc_id::VARCHAR")}) AS bb
         |  FROM documents),
         |x AS (SELECT (a < (conf_fp * 9) // 10) AS oka,
         |    (bb < (conf_fp * 8) // 10) AS okb FROM p),
         |g AS (SELECT count(*)::BIGINT AS n,
         |    sum(CASE WHEN oka THEN 1 ELSE 0 END)::BIGINT AS na,
         |    sum(CASE WHEN okb THEN 1 ELSE 0 END)::BIGINT AS nb,
         |    sum(CASE WHEN oka AND NOT okb THEN 1 ELSE 0 END)::BIGINT AS b,
         |    sum(CASE WHEN NOT oka AND okb THEN 1 ELSE 0 END)::BIGINT AS c
         |  FROM x)
         |SELECT n, na::DOUBLE / n::DOUBLE AS acc_a, nb::DOUBLE / n::DOUBLE AS acc_b,
         |  b, c,
         |  CASE WHEN b + c = 0 THEN 0.0
         |    ELSE (greatest(abs(b - c) - 1, 0) * greatest(abs(b - c) - 1, 0))::DOUBLE
         |      / (b + c)::DOUBLE END AS statistic
         |FROM g""".stripMargin,

    // post-stratification: exact cell sums, per-stratum terms as fixed
    // float chains, the cross-stratum fold pinned to STRATUM ORDER via
    // list(term ORDER BY stratum) + list_reduce (mirrors the engine's
    // driver-side reduceLeft — plain sum() would be order-free)
    "ab_poststrat" ->
      s"""WITH cells AS MATERIALIZED (SELECT
         |    (${md24("'ab:' || user_id::VARCHAR")}) % 2 AS arm,
         |    event_type AS stratum,
         |    count(*)::BIGINT AS n,
         |    sum(CAST(floor(value * 1048576) AS BIGINT))::BIGINT AS s
         |  FROM events GROUP BY 1, 2),
         |ns AS (SELECT stratum, sum(n)::BIGINT AS ns FROM cells GROUP BY 1),
         |nn AS (SELECT sum(n)::BIGINT AS bn FROM cells),
         |a AS (SELECT cells.arm,
         |    sum(cells.n)::BIGINT AS n_arm, sum(cells.s)::BIGINT AS s_arm,
         |    list_reduce(
         |      list((ns.ns::DOUBLE * cells.s::DOUBLE)
         |           / ((cells.n::DOUBLE * nn.bn::DOUBLE) * 1048576.0)
         |        ORDER BY cells.stratum),
         |      (x, y) -> x + y) AS adj
         |  FROM cells JOIN ns USING (stratum) CROSS JOIN nn
         |  GROUP BY cells.arm),
         |p0 AS (SELECT n_arm AS n0, s_arm::DOUBLE / (n_arm::DOUBLE * 1048576.0) AS mean_raw0,
         |  adj AS adj0 FROM a WHERE arm = 0),
         |p1 AS (SELECT n_arm AS n1, s_arm::DOUBLE / (n_arm::DOUBLE * 1048576.0) AS mean_raw1,
         |  adj AS adj1 FROM a WHERE arm = 1)
         |SELECT n0, n1, mean_raw0, mean_raw1, adj0, adj1,
         |  mean_raw1 - mean_raw0 AS diff_raw, adj1 - adj0 AS diff_adj
         |FROM p0, p1""".stripMargin,

    // median treatment effect: two exact per-arm rank statistics
    "ab_quantile_effect" ->
      s"""WITH v AS MATERIALIZED (SELECT
         |    (${md24("'ab:' || user_id::VARCHAR")}) % 2 AS arm,
         |    CAST(floor(value * 1048576) AS BIGINT) AS vfp FROM events),
         |n0 AS (SELECT count(*)::BIGINT AS n FROM v WHERE arm = 0),
         |n1 AS (SELECT count(*)::BIGINT AS n FROM v WHERE arm = 1),
         |r0 AS (SELECT vfp, row_number() OVER (ORDER BY vfp) AS rn FROM v WHERE arm = 0),
         |r1 AS (SELECT vfp, row_number() OVER (ORDER BY vfp) AS rn FROM v WHERE arm = 1),
         |m0 AS (SELECT n0.n AS n0, ((n0.n * 1 + 2 - 1) // 2)::BIGINT AS k0,
         |  (SELECT vfp FROM r0, n0 WHERE rn = (n0.n * 1 + 2 - 1) // 2) AS median0_fp FROM n0),
         |m1 AS (SELECT n1.n AS n1, ((n1.n * 1 + 2 - 1) // 2)::BIGINT AS k1,
         |  (SELECT vfp FROM r1, n1 WHERE rn = (n1.n * 1 + 2 - 1) // 2) AS median1_fp FROM n1)
         |SELECT n0, k0, median0_fp, n1, k1, median1_fp,
         |  (median1_fp - median0_fp)::DOUBLE / 1048576.0 AS effect
         |FROM m0, m1""".stripMargin,

    // exact order statistic: the bisection result must equal the
    // k-th smallest by direct rank (k = ceil(n/2))
    "quantile_bisect" ->
      s"""WITH v AS MATERIALIZED (
         |  SELECT CAST(floor(value * 1048576) AS BIGINT) AS vfp FROM events),
         |nn AS (SELECT count(*)::BIGINT AS n FROM v),
         |kk AS (SELECT n, ((n * 1 + 2 - 1) // 2)::BIGINT AS k FROM nn),
         |r AS (SELECT vfp, row_number() OVER (ORDER BY vfp) AS rn FROM v)
         |SELECT kk.n, kk.k, r.vfp AS value_fp FROM r JOIN kk ON r.rn = kk.k""".stripMargin,

    // RAG support: distinct answer 3-grams left-joined against the
    // deduped context grams of the deterministic 3-doc pair table
    "rag_support" ->
      s"""WITH t AS MATERIALIZED (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |q AS (SELECT doc_id AS query_id FROM documents WHERE doc_id % 20 = 7),
         |pairs AS (SELECT query_id, query_id + off AS ctx_id
         |  FROM q, unnest([1, 2, 3]) AS u(off)),
         |ag AS (SELECT DISTINCT q.query_id AS qid,
         |    array_to_string(toks[i : i + 2], ' ') AS gram
         |  FROM q JOIN t ON t.doc_id = q.query_id, range(1, 200) ri(i)
         |  WHERE i + 2 <= len(toks)),
         |cg AS (SELECT DISTINCT p.query_id AS qid,
         |    array_to_string(toks[i : i + 2], ' ') AS gram
         |  FROM pairs p JOIN t ON t.doc_id = p.ctx_id, range(1, 200) ri(i)
         |  WHERE i + 2 <= len(toks))
         |SELECT ag.qid AS query_id, count(*)::BIGINT AS n_grams,
         |  sum(CASE WHEN cg.qid IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_supported,
         |  sum(CASE WHEN cg.qid IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE AS support
         |FROM ag LEFT JOIN cg ON ag.qid = cg.qid AND ag.gram = cg.gram
         |GROUP BY ag.qid ORDER BY query_id""".stripMargin,

    // gate agreement matrix: one flags pass (gopher rules + hash
    // classifier + length), one counter aggregate, pair rows over it
    "selection_overlap" ->
      s"""WITH $gateFlagsCtes,
         |a AS (SELECT
         |    sum(CASE WHEN classifier THEN 1 ELSE 0 END)::BIGINT AS n_c,
         |    sum(CASE WHEN gopher THEN 1 ELSE 0 END)::BIGINT AS n_g,
         |    sum(CASE WHEN long250 THEN 1 ELSE 0 END)::BIGINT AS n_l,
         |    sum(CASE WHEN classifier AND gopher THEN 1 ELSE 0 END)::BIGINT AS nb_cg,
         |    sum(CASE WHEN classifier AND long250 THEN 1 ELSE 0 END)::BIGINT AS nb_cl,
         |    sum(CASE WHEN gopher AND long250 THEN 1 ELSE 0 END)::BIGINT AS nb_gl
         |  FROM flags)
         |SELECT * FROM (
         |  SELECT 'classifier' AS gate_a, 'gopher' AS gate_b, nb_cg AS n_both,
         |    (n_c - nb_cg) AS n_a_only, (n_g - nb_cg) AS n_b_only,
         |    CASE WHEN nb_cg + (n_c - nb_cg) + (n_g - nb_cg) = 0 THEN 0.0
         |      ELSE nb_cg::DOUBLE / (nb_cg + (n_c - nb_cg) + (n_g - nb_cg))::DOUBLE END AS jaccard
         |  FROM a
         |  UNION ALL
         |  SELECT 'classifier', 'long250', nb_cl, (n_c - nb_cl), (n_l - nb_cl),
         |    CASE WHEN nb_cl + (n_c - nb_cl) + (n_l - nb_cl) = 0 THEN 0.0
         |      ELSE nb_cl::DOUBLE / (nb_cl + (n_c - nb_cl) + (n_l - nb_cl))::DOUBLE END
         |  FROM a
         |  UNION ALL
         |  SELECT 'gopher', 'long250', nb_gl, (n_g - nb_gl), (n_l - nb_gl),
         |    CASE WHEN nb_gl + (n_g - nb_gl) + (n_l - nb_gl) = 0 THEN 0.0
         |      ELSE nb_gl::DOUBLE / (nb_gl + (n_g - nb_gl) + (n_l - nb_gl))::DOUBLE END
         |  FROM a)
         |ORDER BY gate_a, gate_b""".stripMargin,

    // selection-pressure: kept-set mean n_chars vs the corpus mean
    "selection_shift" ->
      s"""WITH $gateFlagsCtes,
         |a AS (SELECT count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS s,
         |    sum(CASE WHEN classifier THEN 1 ELSE 0 END)::BIGINT AS n_c,
         |    sum(CASE WHEN classifier THEN n_chars ELSE 0 END)::BIGINT AS s_c,
         |    sum(CASE WHEN gopher THEN 1 ELSE 0 END)::BIGINT AS n_g,
         |    sum(CASE WHEN gopher THEN n_chars ELSE 0 END)::BIGINT AS s_g,
         |    sum(CASE WHEN long250 THEN 1 ELSE 0 END)::BIGINT AS n_l,
         |    sum(CASE WHEN long250 THEN n_chars ELSE 0 END)::BIGINT AS s_l
         |  FROM flags)
         |SELECT *, mean_kept - mean_all AS shift FROM (
         |  SELECT 'classifier' AS gate, n AS n_total, n_c AS n_kept,
         |    s::DOUBLE / n::DOUBLE AS mean_all,
         |    CASE WHEN n_c = 0 THEN NULL ELSE s_c::DOUBLE / n_c::DOUBLE END AS mean_kept
         |  FROM a
         |  UNION ALL
         |  SELECT 'gopher', n, n_g, s::DOUBLE / n::DOUBLE,
         |    CASE WHEN n_g = 0 THEN NULL ELSE s_g::DOUBLE / n_g::DOUBLE END FROM a
         |  UNION ALL
         |  SELECT 'long250', n, n_l, s::DOUBLE / n::DOUBLE,
         |    CASE WHEN n_l = 0 THEN NULL ELSE s_l::DOUBLE / n_l::DOUBLE END FROM a)
         |ORDER BY gate""".stripMargin,

    // leave-one-source-out: decomposable-mean ablation from one
    // source aggregate
    "source_ablation" ->
      s"""WITH per AS (SELECT source, count(*)::BIGINT AS n_docs,
         |    sum(n_chars)::BIGINT AS s FROM documents GROUP BY source),
         |tot AS (SELECT sum(n_docs)::BIGINT AS n, sum(s)::BIGINT AS st FROM per)
         |SELECT source, n_docs,
         |  st::DOUBLE / n::DOUBLE AS mean_all,
         |  CASE WHEN n = n_docs THEN NULL
         |    ELSE (st - s)::DOUBLE / (n - n_docs)::DOUBLE END AS mean_without,
         |  CASE WHEN n = n_docs THEN NULL
         |    ELSE (st - s)::DOUBLE / (n - n_docs)::DOUBLE - st::DOUBLE / n::DOUBLE
         |    END AS delta
         |FROM per, tot ORDER BY source""".stripMargin,

    // Murphy decomposition: d1/d2 integer-exact, each squared ONCE in
    // double with the engine's exact parenthesization (the cuped
    // fixed-chain discipline)
    "eval_brier" ->
      s"""WITH preds AS (SELECT
         |    (${md24("'conf:' || doc_id::VARCHAR")}) AS conf_fp,
         |    CASE WHEN (${md24("'acc:' || doc_id::VARCHAR")}) < ((${md24("'conf:' || doc_id::VARCHAR")}) * 9) // 10
         |      THEN 1 ELSE 0 END AS ok
         |  FROM documents),
         |b AS (SELECT ((conf_fp * 10) // 16777216)::INTEGER AS bin,
         |    count(*)::BIGINT AS n, sum(ok)::BIGINT AS c, sum(conf_fp)::BIGINT AS sc
         |  FROM preds GROUP BY 1),
         |t AS (SELECT sum(n)::BIGINT AS nt, sum(c)::BIGINT AS ct FROM b)
         |SELECT bin, n,
         |  c::DOUBLE / n::DOUBLE AS accuracy,
         |  sc::DOUBLE / (n::DOUBLE * 16777216.0) AS confidence,
         |  ((sc - 16777216 * c)::DOUBLE * (sc - 16777216 * c)::DOUBLE)
         |    / ((n::DOUBLE * nt::DOUBLE) * 281474976710656.0) AS rel_term,
         |  ((c * nt - ct * n)::DOUBLE * (c * nt - ct * n)::DOUBLE)
         |    / (((n::DOUBLE * nt::DOUBLE) * nt::DOUBLE) * nt::DOUBLE) AS res_term,
         |  (ct * (nt - ct))::DOUBLE / (nt::DOUBLE * nt::DOUBLE) AS uncertainty
         |FROM b, t ORDER BY bin""".stripMargin,

    // split-conformal: the exact-rank order statistic (integer), then
    // one test-side count
    "eval_conformal" ->
      s"""WITH s AS (SELECT doc_id,
         |    (${md24("'nc:' || doc_id::VARCHAR")}) AS score,
         |    ((${md24("'cal:' || doc_id::VARCHAR")}) % 2 = 0) AS is_cal
         |  FROM documents),
         |cal AS (SELECT score, doc_id,
         |    row_number() OVER (ORDER BY score, doc_id) AS rk FROM s WHERE is_cal),
         |nc AS (SELECT count(*)::BIGINT AS n_cal FROM cal),
         |thr AS (SELECT n_cal, rk::BIGINT AS rank, score AS threshold FROM cal, nc
         |  WHERE rk = least(((n_cal + 1) * 9 + 9) // 10, n_cal)),
         |tst AS (SELECT count(*)::BIGINT AS n_test,
         |    sum(CASE WHEN score <= threshold THEN 1 ELSE 0 END)::BIGINT AS cov
         |  FROM s, thr WHERE NOT is_cal)
         |SELECT n_cal, n_test, rank, threshold,
         |  cov::DOUBLE / n_test::DOUBLE AS coverage, 0.9 AS target
         |FROM thr, tst""".stripMargin,

    // isotonic via the minimax closed form over 2^40-quantized pooled
    // accuracies — exact integer min/max over O(bins^3) segments
    "eval_isotonic" ->
      s"""WITH preds AS (SELECT
         |    (${md24("'conf:' || doc_id::VARCHAR")}) AS conf_fp,
         |    CASE WHEN (${md24("'acc:' || doc_id::VARCHAR")}) < ((${md24("'conf:' || doc_id::VARCHAR")}) * 9) // 10
         |      THEN 1 ELSE 0 END AS ok
         |  FROM documents),
         |b AS MATERIALIZED (SELECT ((conf_fp * 10) // 16777216)::INTEGER AS bin,
         |    count(*)::BIGINT AS n, sum(ok)::BIGINT AS c FROM preds GROUP BY 1),
         |seg AS MATERIALIZED (
         |  SELECT j.bin AS j, k.bin AS k,
         |    ((sum(m.c) * 1099511627776) // sum(m.n))::BIGINT AS q
         |  FROM b j JOIN b k ON j.bin <= k.bin
         |  JOIN b m ON m.bin BETWEEN j.bin AND k.bin
         |  GROUP BY 1, 2),
         |mn AS (SELECT i.bin AS i, seg.j, min(q) AS mn
         |  FROM seg JOIN b i ON seg.j <= i.bin AND i.bin <= seg.k GROUP BY 1, 2),
         |iso AS (SELECT i, max(mn)::BIGINT AS iso_fp FROM mn GROUP BY 1)
         |SELECT b.bin, b.n, c::DOUBLE / n::DOUBLE AS accuracy, iso_fp,
         |  iso_fp::DOUBLE / 1099511627776.0 AS iso_accuracy
         |FROM b JOIN iso ON b.bin = iso.i ORDER BY bin""".stripMargin,

    // dataset cartography: margins against every epoch snapshot of the
    // SAME perceptron layers as classifier_train, quantized by a
    // power-of-two FLOOR (floor matches across engines on negatives
    // where integer div would not); variability as an int64 numerator
    "classifier_datamap" -> classifierDatamapOracleSql(10),

    // most-restrictive-wins rollup over the chunk->shard scatter
    "license_propagation" ->
      s"""WITH c AS (
         |  SELECT doc_id, source, (${md24("'lic:' || source")}) % 4 AS rank, chunk,
         |    (${md24("'shard:' || doc_id::VARCHAR || ':' || chunk::VARCHAR")}) % 16 AS shard
         |  FROM documents, range(0, 4) rc(chunk))
         |SELECT shard, count(*)::BIGINT AS n_chunks,
         |  count(DISTINCT doc_id)::BIGINT AS n_docs,
         |  count(DISTINCT source)::BIGINT AS n_sources,
         |  max(rank)::BIGINT AS license_rank,
         |  (['public_domain', 'cc_by', 'cc_by_sa', 'proprietary'])[max(rank)::INTEGER + 1] AS license
         |FROM c GROUP BY shard ORDER BY shard""".stripMargin,

    // artifact round-trip is bit-equal to the fused fit, so the oracle
    // is the spm_tokenize replay
    "spm_tokenize_artifact" -> spmTokenizeOracleSql,

    // exact longest shared run per doc pair, verified QUADRATICALLY:
    // every substring of every derived doc (lengths 8..n), a raw
    // string-equality self-join, max length per pair — zero hashes, so
    // this is ground truth for the binary-lifted engine path
    "dedup_substring" ->
      s"""WITH tokd AS MATERIALIZED (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         |  FROM documents WHERE doc_id < 120),
         |st AS (
         |  SELECT d.doc_id + 100000 AS doc_id,
         |    d.toks[1:12] || p.toks[3 : 10 + (d.doc_id % 24)] || d.toks[13:20] AS toks
         |  FROM tokd d JOIN tokd p ON p.doc_id = d.doc_id + 4
         |  WHERE d.doc_id % 4 = 0),
         |corpus AS MATERIALIZED (SELECT * FROM tokd UNION ALL SELECT * FROM st),
         |runs AS MATERIALIZED (
         |  SELECT doc_id, l, array_to_string(toks[i : i + l - 1], ' ') AS r
         |  FROM corpus, range(8, 150) rl(l), range(1, 150) ri(i)
         |  WHERE i + l - 1 <= len(toks))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, max(a.l)::INTEGER AS run_len
         |FROM runs a JOIN runs b ON a.l = b.l AND a.r = b.r AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin,

    // posting-list intersection over md24(term)%64 buckets; dots are
    // exact int64 count products, the float cosine appears only in the
    // final projection, so top-k ranking is reduction-order-proof
    "ann_hash_embed" ->
      s"""WITH t AS MATERIALIZED (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term FROM documents),
         |b AS MATERIALIZED (SELECT doc_id, (${md24("term")} % 64)::INTEGER AS dim, count(*)::BIGINT AS cnt
         |      FROM t GROUP BY doc_id, dim),
         |n AS MATERIALIZED (SELECT doc_id, sum(cnt * cnt)::BIGINT AS n2 FROM b GROUP BY doc_id),
         |q AS (SELECT doc_id AS query_id, dim, cnt AS qcnt FROM b WHERE doc_id < 10),
         |pairs AS (
         |  SELECT query_id, b.doc_id AS neighbor_id, sum(qcnt * cnt)::BIGINT AS dot
         |  FROM q JOIN b USING (dim) WHERE b.doc_id <> query_id
         |  GROUP BY query_id, neighbor_id),
         |sc AS (
         |  SELECT query_id, neighbor_id,
         |    dot::DOUBLE / (sqrt(nq.n2::DOUBLE) * sqrt(nc.n2::DOUBLE)) AS cosine
         |  FROM pairs
         |  JOIN n nq ON nq.doc_id = query_id
         |  JOIN n nc ON nc.doc_id = neighbor_id)
         |SELECT query_id, neighbor_id, rank::INTEGER AS rank, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM sc)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // quality gate -> classifier (score > 0) -> span coverage <= 0.5
    // (FULL-corpus spans) -> exact canonical -> per-lang budget ranked
    // by classifier score; composes the quality_classifier and
    // dedup_spans CTEs with the corpus_curation gate expressions
    "curation_classifier" ->
      s"""WITH t AS MATERIALIZED (
         |  SELECT doc_id, lang, text, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |s AS MATERIALIZED (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i : i + 5], ' ') AS span
         |  FROM t, unnest(range(1, len(toks) - 6 + 2)) AS u(i) WHERE len(toks) >= 6),
         |cdup AS (SELECT span FROM (SELECT span, count(*) AS n FROM s GROUP BY span) WHERE n > 1),
         |d AS (SELECT s.doc_id, s.pos FROM s JOIN cdup USING (span)),
         |cov AS (SELECT doc_id, count(DISTINCT pos + j) AS ncov
         |        FROM d, unnest(range(0, 6)) AS v(j) GROUP BY doc_id),
         |covf AS (SELECT t.doc_id, coalesce(ncov, 0)::DOUBLE / len(t.toks)::DOUBLE AS covered_frac
         |         FROM t LEFT JOIN cov USING (doc_id)),
         |q AS MATERIALIZED (
         |  SELECT doc_id, lang, text, toks FROM t
         |  WHERE len(toks) >= 10 AND len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE > 0.2
         |    AND length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(toks)::DOUBLE < 15.0),
         |w AS MATERIALIZED (
         |  SELECT i::INTEGER AS bucket, (${md24("'w:' || i::VARCHAR")} - 8388608)::BIGINT AS w_fp
         |  FROM (SELECT unnest(range(0, 4096)) AS i)),
         |feats AS (
         |  SELECT doc_id, unnest(toks) AS f FROM q
         |  UNION ALL
         |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS f
         |  FROM q, unnest(range(1, len(toks))) AS v(i) WHERE len(toks) >= 2),
         |bk AS (SELECT doc_id, (${md24("f")} % 4096)::INTEGER AS bucket FROM feats),
         |cls AS (SELECT doc_id, sum(w_fp)::DOUBLE / (count(*)::DOUBLE * 8388608.0) AS score,
         |               sum(w_fp) > 0 AS lbl
         |        FROM bk JOIN w USING (bucket) GROUP BY doc_id),
         |g AS (SELECT q.doc_id, q.lang, q.text, cls.score, covf.covered_frac,
         |        len(regexp_extract_all(q.text, '[a-zA-Z0-9]+|[^a-zA-Z0-9]'))::INTEGER AS n_sel_tokens
         |      FROM q JOIN cls USING (doc_id) JOIN covf USING (doc_id)
         |      WHERE cls.lbl AND covf.covered_frac <= 0.5),
         |k AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS canon FROM g),
         |sel AS (SELECT doc_id, lang, score, covered_frac, n_sel_tokens,
         |          sum(n_sel_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id)::BIGINT AS cum_tokens
         |        FROM k WHERE doc_id = canon)
         |SELECT doc_id, lang, score, covered_frac, n_sel_tokens, cum_tokens
         |FROM sel WHERE cum_tokens <= 4000
         |ORDER BY lang, cum_tokens, doc_id""".stripMargin,

    // bucket-count histogram over md24(term) % 64, L2-normalized — the
    // squared-count sum is exact int64, so the one division matches
    "text_embed_hash" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term FROM documents),
         |b AS (SELECT doc_id, (${md24("term")} % 64)::INTEGER AS dim, count(*) AS cnt
         |      FROM t GROUP BY doc_id, dim),
         |n AS (SELECT doc_id, sum(cnt * cnt)::BIGINT AS n2 FROM b GROUP BY doc_id)
         |SELECT doc_id, dim, cnt::DOUBLE / sqrt(n2::DOUBLE) AS weight
         |FROM b JOIN n USING (doc_id)
         |ORDER BY doc_id, dim""".stripMargin,

    // centroid = componentwise int64 sum on the 2^20 grid (scale-
    // invariant for cosine); per-vector doubles emerge only from exact
    // integer dots, so the float is engine-identical
    "emb_centroid_cos" ->
      s"""WITH fp AS MATERIALIZED (SELECT vec_id, label,
         |  list_transform(embedding, x -> floor(x::DOUBLE * 1048576)::BIGINT) AS v FROM embeddings),
         |cd AS (SELECT label, i AS dim, sum(v[i]) AS s, count(*) AS n
         |       FROM fp, unnest(range(1, 65)) AS u(i) GROUP BY label, i),
         |cent AS (SELECT label, max(n)::INTEGER AS n_members, list(s ORDER BY dim) AS c FROM cd GROUP BY label)
         |SELECT vec_id, label, n_members,
         |  ${dotL("v", "c")}::DOUBLE
         |    / (sqrt(${dotL("v", "v")}::DOUBLE) * sqrt(${dotL("c", "c")}::DOUBLE)) AS centroid_cos
         |FROM fp JOIN cent USING (label)
         |ORDER BY vec_id""".stripMargin,

    // JL projection: regenerate the 16x64 LCG matrix exactly as
    // Similarity.hyperplanes (seed scramble + 8 burn-in, 2s/m - 1),
    // replay the left-fold dots; sqrt is IEEE-correctly-rounded in both
    // engines so the scale factor is bit-identical. One (vec_id, dim,
    // value) row per output dimension — scalar doubles the comparator
    // can sort, mirroring the Spark side's posexplode.
    "emb_project" ->
      s"""WITH RECURSIVE lcg(k, s) AS (
         |  SELECT 0, (42 * 2654435761) % 2147483646 + 1
         |  UNION ALL
         |  SELECT k + 1, (s * 48271) % 2147483647 FROM lcg WHERE k < ${8 + 16 * 64}
         |),
         |pl AS (
         |  SELECT (k - 9) // 64 AS i, list(s / 2147483647.0 * 2 - 1 ORDER BY k) AS plane
         |  FROM lcg WHERE k >= 9 GROUP BY 1
         |)
         |SELECT e.vec_id, p.i::INTEGER AS dim,
         |  list_reduce(list_transform(range(1, 65), j -> e.embedding[j]::DOUBLE * p.plane[j]), (x, y) -> x + y)
         |    * sqrt(3.0 / 16.0) AS value
         |FROM embeddings e CROSS JOIN pl p
         |ORDER BY e.vec_id, dim""".stripMargin,

    // BM25 with the Lucene +1-saturated idf; per-(query,doc) scores are
    // 2^-40 fixed-point LONG sums (associative, order-independent — a
    // double SUM is partition-order-dependent). The comparison is at
    // FLOAT precision: Math.log vs libm log differ by 1 ulp on some
    // inputs, so the last quantization step is not portable
    "bm25_topk" ->
      """WITH t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |q AS MATERIALIZED (SELECT doc_id AS query_id, unnest(list_distinct(toks[1:6])) AS term FROM t WHERE doc_id < 5),
        |qset AS MATERIALIZED (SELECT DISTINCT term FROM q),
        |tf AS MATERIALIZED (
        |  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl FROM (
        |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t) p
        |  JOIN qset USING (term) GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |stats AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM t),
        |contrib AS (
        |  SELECT tf.doc_id, tf.term,
        |    ln((n_docs::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5) + 1.0) *
        |    (tf::DOUBLE * 2.2) / (tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE))) AS contrib
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
        |sc AS (
        |  SELECT q.query_id, c.doc_id,
        |    sum(floor(c.contrib * 1099511627776.0)::BIGINT) AS score_fp
        |  FROM contrib c JOIN q USING (term)
        |  GROUP BY q.query_id, c.doc_id)
        |SELECT query_id, doc_id, (score_fp::DOUBLE / 1099511627776.0)::FLOAT AS score, rank::INTEGER AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_fp DESC, doc_id) AS rank FROM sc)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "rag_index" -> ragIndexOracleSql,

    // top-vs-bottom preference pairing on the exact diversity ratio;
    // rank i pairs with n+1-i, strict top half, margin floor 0.05
    "preference_pairs" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS score
        |  FROM (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)),
        |r AS (
        |  SELECT doc_id, lang, score,
        |    row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id)::BIGINT AS rn,
        |    count(*) OVER (PARTITION BY lang)::BIGINT AS n
        |  FROM b)
        |SELECT t.lang AS lang, t.doc_id AS chosen_id, u.doc_id AS rejected_id,
        |  t.score AS chosen_score, u.score AS rejected_score,
        |  t.score - u.score AS margin
        |FROM r t JOIN r u ON t.lang = u.lang AND u.rn = t.n - t.rn + 1
        |WHERE t.rn * 2 < t.n + 1 AND t.score - u.score >= 0.05
        |ORDER BY 1, 2""".stripMargin,

    // curriculum interleave: closed-form pos = within_rank * n_strata +
    // stratum_index (all integers, no global sort on either engine)
    "curriculum_order" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(string_split_regex(lower(trim(text)), '\s+'))::INTEGER AS difficulty
        |  FROM documents),
        |s AS (SELECT lang, (row_number() OVER (ORDER BY lang) - 1)::BIGINT AS sidx
        |      FROM (SELECT DISTINCT lang FROM t)),
        |n AS (SELECT count(*)::BIGINT AS ns FROM s),
        |r AS (SELECT doc_id, lang, difficulty,
        |        (row_number() OVER (PARTITION BY lang ORDER BY difficulty, doc_id) - 1)::BIGINT AS within_rank
        |      FROM t)
        |SELECT doc_id, lang, difficulty, within_rank,
        |  (within_rank * ns + sidx)::BIGINT AS pos
        |FROM r JOIN s USING (lang) CROSS JOIN n ORDER BY pos""".stripMargin,

    // hard-negative mining: bm25_topk CTEs at k=10, the (q,q) positive
    // pair removed, top-5 remaining candidates re-ranked
    // ColBERT MaxSim on the 2^20 grid: per (query, qtoken, doc) integer
    // dot, max over doc tokens, sum over query tokens — all int64
    "retrieval_maxsim" ->
      s"""WITH e AS (
         |  SELECT vec_id // 4 AS gid, vec_id % 4 AS ti,
         |    list_transform(embedding, x -> floor(x::DOUBLE * 1048576)::BIGINT) AS v
         |  FROM embeddings),
         |q AS (SELECT gid AS qid, ti AS qti, v AS qv FROM e WHERE gid < 5),
         |dcs AS (SELECT gid AS did, v AS dv FROM e WHERE gid >= 5),
         |dots AS (SELECT qid, qti, did, ${dotL("qv", "dv")} AS dot
         |  FROM q CROSS JOIN dcs),
         |mx AS (SELECT qid, qti, did, max(dot) AS m FROM dots GROUP BY 1, 2, 3),
         |sc AS (SELECT qid, did, sum(m)::BIGINT AS score_fp FROM mx GROUP BY 1, 2),
         |rk AS (SELECT qid, did, score_fp,
         |    row_number() OVER (PARTITION BY qid ORDER BY score_fp DESC, did) AS rank
         |  FROM sc)
         |SELECT qid, rank::INTEGER AS rank, did, score_fp
         |FROM rk WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    "retrieval_negatives" ->
      s"""WITH t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |q AS MATERIALIZED (SELECT doc_id AS query_id, unnest(list_distinct(toks[1:6])) AS term FROM t WHERE doc_id < 5),
         |qset AS MATERIALIZED (SELECT DISTINCT term FROM q),
         |tf AS MATERIALIZED (
         |  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl FROM (
         |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t) p
         |  JOIN qset USING (term) GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |stats AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM t),
         |contrib AS (
         |  SELECT tf.doc_id, tf.term,
         |    ln((n_docs::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5) + 1.0) *
         |    (tf::DOUBLE * 2.2) / (tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE))) AS contrib
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
         |sc AS (
         |  SELECT q.query_id, c.doc_id,
         |    sum(floor(c.contrib * 1099511627776.0)::BIGINT) AS score_fp
         |  FROM contrib c JOIN q USING (term)
         |  GROUP BY q.query_id, c.doc_id),
         |cand AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_fp DESC, doc_id) AS rank FROM sc)
         |  WHERE rank <= 10)
         |SELECT query_id, doc_id AS negative_id, rank::INTEGER AS bm25_rank, neg_rank::INTEGER AS neg_rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rank) AS neg_rank
         |  FROM cand WHERE doc_id <> query_id)
         |WHERE neg_rank <= 5 ORDER BY query_id, neg_rank""".stripMargin,

    // retrieve-then-rerank: the bm25_topk CTEs at k=20 propose, exact
    // token-set Jaccard re-ranks (shared-term counts via a relational
    // join — every score a ratio of exact integers, no float drift)
    "retrieval_rerank" ->
      s"""WITH t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |q AS MATERIALIZED (SELECT doc_id AS query_id, unnest(list_distinct(toks[1:6])) AS term FROM t WHERE doc_id < 5),
         |qset AS MATERIALIZED (SELECT DISTINCT term FROM q),
         |tf AS MATERIALIZED (
         |  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl FROM (
         |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t) p
         |  JOIN qset USING (term) GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |stats AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM t),
         |contrib AS (
         |  SELECT tf.doc_id, tf.term,
         |    ln((n_docs::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5) + 1.0) *
         |    (tf::DOUBLE * 2.2) / (tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE))) AS contrib
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
         |sc AS (
         |  SELECT q.query_id, c.doc_id,
         |    sum(floor(c.contrib * 1099511627776.0)::BIGINT) AS score_fp
         |  FROM contrib c JOIN q USING (term)
         |  GROUP BY q.query_id, c.doc_id),
         |cand AS MATERIALIZED (
         |  SELECT query_id, doc_id, rank AS bm25_rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_fp DESC, doc_id) AS rank FROM sc)
         |  WHERE rank <= 20),
         |qd AS (SELECT query_id, count(*)::BIGINT AS nd_q FROM q GROUP BY query_id),
         |dd AS MATERIALIZED (
         |  SELECT doc_id, unnest(list_distinct(toks)) AS term
         |  FROM t JOIN (SELECT DISTINCT doc_id FROM cand) USING (doc_id)),
         |ds AS (SELECT doc_id, count(*)::BIGINT AS nd_d FROM dd GROUP BY doc_id),
         |sh AS (SELECT q.query_id, dd.doc_id, count(*)::BIGINT AS n_shared
         |       FROM q JOIN dd USING (term) GROUP BY 1, 2),
         |j AS (
         |  SELECT cand.query_id, cand.doc_id, bm25_rank::INTEGER AS bm25_rank,
         |    coalesce(n_shared, 0)::DOUBLE
         |      / (nd_q + nd_d - coalesce(n_shared, 0))::DOUBLE AS jaccard
         |  FROM cand
         |  LEFT JOIN sh ON sh.query_id = cand.query_id AND sh.doc_id = cand.doc_id
         |  JOIN qd ON qd.query_id = cand.query_id
         |  JOIN ds ON ds.doc_id = cand.doc_id)
         |SELECT query_id, doc_id, bm25_rank, jaccard, rank::INTEGER AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY jaccard DESC, bm25_rank, doc_id) AS rank FROM j)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // RRF hybrid: the bm25_topk CTEs at k=20 + the ann_hash_embed CTEs
    // with the QUERY side hashed from the same 6-token truncation, fused
    // on sum(floor(2^40/(60+rank))) — an associative long sum, so the
    // fused score needs no float cast (exact int / power of two)
    "retrieval_rrf" ->
      s"""WITH t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |q AS MATERIALIZED (SELECT doc_id AS query_id, unnest(list_distinct(toks[1:6])) AS term FROM t WHERE doc_id < 5),
         |qset AS MATERIALIZED (SELECT DISTINCT term FROM q),
         |tf AS MATERIALIZED (
         |  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl FROM (
         |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t) p
         |  JOIN qset USING (term) GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |stats AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM t),
         |contrib AS (
         |  SELECT tf.doc_id, tf.term,
         |    ln((n_docs::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5) + 1.0) *
         |    (tf::DOUBLE * 2.2) / (tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE))) AS contrib
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
         |sc AS (
         |  SELECT q.query_id, c.doc_id, sum(floor(c.contrib * 1099511627776.0)::BIGINT) AS score_fp
         |  FROM contrib c JOIN q USING (term) GROUP BY q.query_id, c.doc_id),
         |sparse AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY score_fp DESC, doc_id) AS rank FROM sc)
         |  WHERE rank <= 20),
         |b AS MATERIALIZED (SELECT doc_id, (${md24("term")} % 64)::INTEGER AS dim, count(*)::BIGINT AS cnt
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY doc_id, dim),
         |n AS MATERIALIZED (SELECT doc_id, sum(cnt * cnt)::BIGINT AS n2 FROM b GROUP BY doc_id),
         |qb AS MATERIALIZED (SELECT query_id, (${md24("term")} % 64)::INTEGER AS dim, count(*)::BIGINT AS cnt
         |  FROM (SELECT doc_id AS query_id, unnest(toks[1:6]) AS term FROM t WHERE doc_id < 5) GROUP BY query_id, dim),
         |qn AS (SELECT query_id, sum(cnt * cnt)::BIGINT AS n2 FROM qb GROUP BY query_id),
         |pairs AS (
         |  SELECT query_id, b.doc_id AS doc_id, sum(qb.cnt * b.cnt)::BIGINT AS dot
         |  FROM qb JOIN b USING (dim) WHERE b.doc_id <> query_id GROUP BY query_id, doc_id),
         |dsc AS (
         |  SELECT query_id, pairs.doc_id AS doc_id,
         |    dot::DOUBLE / (sqrt(qn.n2::DOUBLE) * sqrt(nc.n2::DOUBLE)) AS cosine
         |  FROM pairs JOIN qn USING (query_id) JOIN n nc ON nc.doc_id = pairs.doc_id),
         |dense AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rank FROM dsc)
         |  WHERE rank <= 20),
         |fused AS (
         |  SELECT query_id, doc_id, sum(floor(1099511627776.0 / (60.0 + rank::DOUBLE))::BIGINT) AS rrf_fp
         |  FROM (SELECT * FROM sparse UNION ALL SELECT * FROM dense) GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, (rrf_fp::DOUBLE / 1099511627776.0) AS rrf_score, rank::INTEGER AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_fp DESC, doc_id) AS rank FROM fused)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "ann_brute" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |s AS (SELECT query_id, neighbor_id,
         |  ${dot("qv", "cv")} / (sqrt(${dot("qv", "qv")}) * sqrt(${dot("cv", "cv")})) AS cosine
         |FROM q CROSS JOIN c)
         |SELECT query_id, neighbor_id, rank::INTEGER AS rank, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM s)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "text_quality" ->
      """SELECT doc_id,
        |  len(toks)::INTEGER AS n_tokens,
        |  len(list_distinct(toks))::INTEGER AS n_distinct_tokens,
        |  length(text)::INTEGER AS n_chars_text,
        |  length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE / len(toks)::DOUBLE AS avg_token_len,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it')))::INTEGER AS stopword_hits,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it')))::DOUBLE / len(toks)::DOUBLE AS stopword_ratio,
        |  len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS distinct_ratio,
        |  len(regexp_extract_all(text, '[.,!?;:]'))::INTEGER AS punct_count,
        |  (len(toks) >= 10 AND len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE > 0.2
        |   AND length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE / len(toks)::DOUBLE < 15.0) AS is_quality
        |FROM (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // token-distribution Shannon entropy: ln(n) − Σ c·ln(c)/n over the
    // per-doc token counts; FLOAT on the entropies (order-sensitive
    // double sum + Math.log vs libm ln ulps — the bm25 discipline)
    "text_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, term, count(*) AS cnt
        |  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term FROM documents)
        |  GROUP BY doc_id, term),
        |a AS (
        |  SELECT doc_id, sum(cnt)::BIGINT AS n, count(*)::INTEGER AS nd,
        |    sum(cnt::DOUBLE * ln(cnt::DOUBLE)) AS h
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, n::INTEGER AS n_tokens, nd AS n_distinct_tokens,
        |  ((ln(n::DOUBLE) - h / n::DOUBLE) / ln(2.0))::FLOAT AS entropy,
        |  (CASE WHEN n > 1 THEN (ln(n::DOUBLE) - h / n::DOUBLE) / ln(n::DOUBLE) ELSE 0.0 END)::FLOAT AS norm_entropy
        |FROM a ORDER BY doc_id""".stripMargin,

    // vocabulary head: exact top-50 terms by corpus count, ties term asc
    "text_top_terms" ->
      """SELECT term, cnt, rank::INTEGER AS rank FROM (
        |  SELECT term, count(*)::BIGINT AS cnt,
        |    row_number() OVER (ORDER BY count(*) DESC, term) AS rank
        |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term FROM documents)
        |  GROUP BY term)
        |WHERE rank <= 50 ORDER BY rank""".stripMargin,

    // PMI collocations log-free: the ratio c_ab*N^2/(B*c_a*c_b) on a
    // 2^10 grid with the engine's exact division order (c_ab <= c_a
    // bounds the first quotient by N, keeping every step in int64)
    "text_collocations" ->
      """WITH tk AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS arr FROM documents),
        |uni AS (SELECT t, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(arr) AS t FROM tk) GROUP BY t),
        |tot AS (SELECT sum(c)::BIGINT AS n_tokens FROM uni),
        |bg AS (SELECT arr[i] AS a, arr[i + 1] AS b
        |  FROM tk, unnest(range(1, len(arr))) AS u(i)),
        |btot AS (SELECT count(*)::BIGINT AS n_bigrams FROM bg),
        |bgc AS (SELECT a, b, count(*)::BIGINT AS c_ab FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
        |j AS (SELECT a, b, c_ab, ua.c AS c_a, ub.c AS c_b
        |  FROM bgc JOIN uni ua ON bgc.a = ua.t JOIN uni ub ON bgc.b = ub.t)
        |SELECT a, b, c_ab, c_a, c_b,
        |  ((((c_ab * n_tokens) // c_a) * n_tokens * 1024) // (c_b * n_bigrams))::BIGINT AS score_fp
        |FROM j, tot, btot
        |ORDER BY score_fp DESC, a, b LIMIT 20""".stripMargin,

    // the histogram sketch as an admission threshold: score in basis
    // points (integer domain), width-64 bins, est p25 floor per lang
    "quality_histogram_gate" ->
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    floor(len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE * 10000)::BIGINT AS score_bp
        |  FROM (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)),
        |c AS (SELECT lang, score_bp // 64 AS bin, count(*)::BIGINT AS c FROM sc GROUP BY 1, 2),
        |cu AS (SELECT lang, bin,
        |    sum(c) OVER (PARTITION BY lang ORDER BY bin)::BIGINT AS cum,
        |    sum(c) OVER (PARTITION BY lang)::BIGINT AS n FROM c),
        |th AS (SELECT lang, (min(bin) * 64 + 63)::BIGINT AS threshold_bp
        |  FROM cu WHERE cum >= (n * 2500 + 9999) // 10000 GROUP BY lang)
        |SELECT sc.doc_id, sc.lang, sc.score_bp, th.threshold_bp
        |FROM sc JOIN th ON sc.lang = th.lang
        |WHERE sc.score_bp >= th.threshold_bp
        |ORDER BY sc.doc_id""".stripMargin,

    // NFC folded into exact dedup: each doc planted twice (precomposed
    // vs decomposed suffix); after nfc_normalize every pair is one
    // group of exactly 2
    "dedup_exact_nfc" ->
      """WITH corpus AS (
        |  SELECT doc_id, text || ' caf' || chr(233) AS text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, text || ' cafe' || chr(769) AS text FROM documents),
        |n AS (SELECT doc_id, nfc_normalize(text) AS text FROM corpus)
        |SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
        |  min(doc_id) AS canonical_id, count(*) AS n_docs
        |FROM n GROUP BY 1 ORDER BY fingerprint""".stripMargin,

    // Morton interleave replay: 16 shift/mask terms per dimension,
    // disjoint bit positions so addition == bitwise-or
    "zorder_code" ->
      """WITH c AS (
        |  SELECT doc_id, n_chars::BIGINT AS a,
        |    (list_reduce(list_transform(string_split(substr(md5(doc_id::VARCHAR), 1, 6), ''),
        |       ch -> strpos('0123456789abcdef', ch) - 1), (x, y) -> x * 16 + y)::BIGINT % 65536) AS dim_b
        |  FROM documents)
        |SELECT doc_id, a AS n_chars, dim_b,
        |  list_sum(list_transform(range(0, 16), i ->
        |    ((((a >> i) & 1) << (2 * i)) + (((dim_b >> i) & 1) << (2 * i + 1)))))::BIGINT AS zcode
        |FROM c ORDER BY doc_id""".stripMargin,

    // Hilbert walk replay: 16-level recursive CTE, one rotate/reflect
    // step per level (rx/ry from the level bit; ry=1 keeps the frame,
    // ry=0 swaps, rx=1 additionally reflects)
    "hilbert_code" ->
      """WITH RECURSIVE c AS (
        |  SELECT doc_id, n_chars::BIGINT AS n_chars,
        |    (list_reduce(list_transform(string_split(substr(md5(doc_id::VARCHAR), 1, 6), ''),
        |       ch -> strpos('0123456789abcdef', ch) - 1), (x, y) -> x * 16 + y)::BIGINT % 65536) AS dim_b
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, (n_chars & 65535) AS hx, dim_b AS hy, 0::BIGINT AS d, 32768::BIGINT AS s FROM c
        |  UNION ALL
        |  SELECT doc_id,
        |    CASE WHEN (hy & s) > 0 THEN hx & (s - 1)
        |         WHEN (hx & s) = 0 THEN hy & (s - 1)
        |         ELSE s - 1 - (hy & (s - 1)) END AS hx,
        |    CASE WHEN (hy & s) > 0 THEN hy & (s - 1)
        |         WHEN (hx & s) = 0 THEN hx & (s - 1)
        |         ELSE s - 1 - (hx & (s - 1)) END AS hy,
        |    d + s * s * xor(CASE WHEN (hx & s) > 0 THEN 3 ELSE 0 END,
        |                    CASE WHEN (hy & s) > 0 THEN 1 ELSE 0 END) AS d,
        |    s // 2 AS s
        |  FROM h WHERE s > 0)
        |SELECT doc_id, n_chars, dim_b, d AS hcode
        |FROM h JOIN c USING (doc_id) WHERE s = 0 ORDER BY doc_id""".stripMargin,

    // CUSUM closed form: prefix sum minus running min, n-scaled
    // integer deviations, planted post-Jan-20 doubling
    "event_cusum" ->
      s"""WITH pe AS (SELECT event_type, ts FROM $EV
         |  UNION ALL SELECT event_type, ts FROM $EV WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'),
         |c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bucket, count(*)::BIGINT AS n_events
         |  FROM pe GROUP BY 1, 2),
         |t AS (SELECT event_type, bucket, n_events,
         |    sum(n_events) OVER (PARTITION BY event_type) AS tot,
         |    count(*) OVER (PARTITION BY event_type) AS n FROM c),
         |p AS (SELECT event_type, bucket, n_events, tot,
         |    sum(n_events * n - tot - tot // 4) OVER (PARTITION BY event_type ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp FROM t)
         |SELECT event_type, bucket, n_events,
         |  (pp - least(min(pp) OVER (PARTITION BY event_type ORDER BY bucket
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0))::BIGINT AS cusum_fp,
         |  ((pp - least(min(pp) OVER (PARTITION BY event_type ORDER BY bucket
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)) > 5 * tot) AS alert
         |FROM p ORDER BY event_type, bucket""".stripMargin,

    // rolling z-score replay: integer (key, minute) counts, trailing
    // 10-bucket Σc/Σc² window sums (exact), single-division floats
    "event_anomaly" ->
      """WITH c AS (
        |  SELECT event_type, epoch_us(ts) // 60000000 AS bucket, count(*)::BIGINT AS n_events
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, bucket, n_events,
        |    count(*) OVER fr AS n_prev,
        |    sum(n_events) OVER fr AS sum_prev,
        |    sum(n_events * n_events) OVER fr AS sum2_prev
        |  FROM c WINDOW fr AS (PARTITION BY event_type ORDER BY bucket
        |                       ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
        |s AS (
        |  SELECT event_type, bucket::BIGINT AS bucket, n_events,
        |    sum_prev::DOUBLE / 10.0 AS mean_prev,
        |    sqrt(greatest((sum2_prev::DOUBLE - sum_prev::DOUBLE * sum_prev::DOUBLE / 10.0) / 10.0, 0.0)) AS std_prev
        |  FROM w WHERE n_prev = 10)
        |SELECT event_type, bucket, n_events, mean_prev, std_prev,
        |  CASE WHEN std_prev > 0 THEN (n_events::DOUBLE - mean_prev) / std_prev END AS z,
        |  coalesce(CASE WHEN std_prev > 0 THEN (n_events::DOUBLE - mean_prev) / std_prev END > 3.0,
        |    FALSE) AS is_anomaly
        |FROM s ORDER BY event_type, bucket""".stripMargin,

    // chunk->doc mean pooling on the 2^20 grid: per-dimension long
    // sums are associative (exact), the mean one float division
    "emb_pool" ->
      """WITH v AS (SELECT vec_id // 4 AS group_id,
        |    list_transform(embedding, x -> floor(x::DOUBLE * 1048576)::BIGINT) AS g
        |  FROM embeddings)
        |SELECT group_id, i::INTEGER - 1 AS dim, count(*)::INTEGER AS n_chunks,
        |  sum(g[i])::BIGINT AS sum_grid,
        |  sum(g[i])::DOUBLE / count(*)::DOUBLE AS mean_grid
        |FROM v CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
        |GROUP BY group_id, i ORDER BY group_id, dim""".stripMargin,

    // width-16 histogram percentile estimate vs exact discrete rank —
    // integer arithmetic end to end (HUGEINT window sums cast back)
    "quantile_sketch" ->
      """WITH v AS (SELECT lang, n_chars::BIGINT AS v FROM documents),
        |c AS (SELECT lang, v // 16 AS bin, count(*)::BIGINT AS c FROM v GROUP BY 1, 2),
        |cu AS (SELECT lang, bin,
        |    sum(c) OVER (PARTITION BY lang ORDER BY bin)::BIGINT AS cum,
        |    sum(c) OVER (PARTITION BY lang)::BIGINT AS n FROM c),
        |p AS (SELECT unnest([5000, 9000, 9900]) AS p_bp),
        |est AS (SELECT lang, p_bp, max(n)::BIGINT AS n_rows,
        |    (min(bin) * 16 + 15)::BIGINT AS est_value
        |  FROM cu CROSS JOIN p WHERE cum >= (n * p_bp + 9999) // 10000
        |  GROUP BY lang, p_bp),
        |r AS (SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS cnt FROM v),
        |ex AS (SELECT lang, p_bp,
        |    max(CASE WHEN rn = (cnt * p_bp + 9999) // 10000 THEN v END)::BIGINT AS exact_value
        |  FROM r CROSS JOIN p GROUP BY lang, p_bp)
        |SELECT est.lang, est.p_bp::INTEGER AS p_bp, est.n_rows, ex.exact_value,
        |  est.est_value, est.est_value - ex.exact_value AS err
        |FROM est JOIN ex ON est.lang = ex.lang AND est.p_bp = ex.p_bp
        |ORDER BY est.lang, est.p_bp""".stripMargin,

    // NFC + control-strip replay: utf8proc's nfc_normalize and Java's
    // Normalizer implement the same UAX #15 composition, so the
    // planted decomposed suffix (combining acute, Angstrom sign, BEL)
    // canonicalizes to identical bytes
    "text_normalize" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    nfc_normalize(text || ' cafe' || chr(769) || ' ' || chr(8491) || chr(7) || 'end'),
        |    '[\x00-\x08\x0B-\x1F\x7F]', '', 'g') AS text_norm,
        |  length(regexp_replace(
        |    nfc_normalize(text || ' cafe' || chr(769) || ' ' || chr(8491) || chr(7) || 'end'),
        |    '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'))::INTEGER AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    // md5-coin sharding replay + integer-exact balance arithmetic
    // (byte sums are exact, the share divisions single IEEE ops)
    "shard_balance" ->
      """WITH s AS (
        |  SELECT (list_reduce(list_transform(string_split(substr(md5(doc_id::VARCHAR), 1, 6), ''),
        |      c -> strpos('0123456789abcdef', c) - 1), (a, b) -> a * 16 + b)::BIGINT % 16)::INTEGER AS shard,
        |    n_chars FROM documents),
        |g AS (SELECT shard, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS n_tokens
        |      FROM s GROUP BY shard)
        |SELECT shard, n_docs, n_tokens,
        |  n_tokens::DOUBLE / (sum(n_tokens) OVER ())::DOUBLE AS token_share,
        |  n_tokens::DOUBLE / (sum(n_tokens) OVER ())::DOUBLE * 16.0 AS skew
        |FROM g ORDER BY shard""".stripMargin,

    // snapshot diff: previous = % 10 <> 9, current = % 10 <> 4 with an
    // edit marker on % 10 = 6 — every status arm planted
    "snapshot_diff" ->
      """WITH p AS (SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp_prev
        |  FROM documents WHERE doc_id % 10 <> 9),
        |c AS (SELECT doc_id,
        |    md5(lower(trim(regexp_replace(
        |      CASE WHEN doc_id % 10 = 6 THEN text || ' rev2' ELSE text END,
        |      '\s+', ' ', 'g')))) AS fp_cur
        |  FROM documents WHERE doc_id % 10 <> 4)
        |SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
        |  CASE WHEN p.fp_prev IS NULL THEN 'added'
        |       WHEN c.fp_cur IS NULL THEN 'removed'
        |       WHEN p.fp_prev <> c.fp_cur THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  p.fp_prev, c.fp_cur
        |FROM p FULL OUTER JOIN c ON p.doc_id = c.doc_id
        |ORDER BY doc_id""".stripMargin,

    // the UNSALTED join — the salted plan must be result-identical
    "skew_join" ->
      """WITH dim AS (SELECT user_id, count(*)::BIGINT AS n_user_events
        |             FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id, e.event_type, d.n_user_events
        |FROM events e JOIN dim d USING (user_id)
        |ORDER BY e.event_id""".stripMargin,

    // MinHash calibration harness: regenerates the minstd-LCG
    // permutation coefficients (the ann_lsh replay discipline), the
    // md5-coin shingle sets, the 128 (a·x+b) mod (2^31−1) signature
    // mins, the per-pair match counts, and the exact-Jaccard binning —
    // all integer arithmetic, so the compare is bit-for-bit. The
    // recursion nests inside ab (a WITH RECURSIVE outer scope would
    // disable the AS MATERIALIZED the twice-referenced sg needs).
    "minhash_accuracy" ->
      s"""WITH $minhashReplayCtes,
         |pr AS (
         |  SELECT
         |    len(list_filter(range(1, 129), j -> x.sig[j] = y.sig[j]))::INTEGER AS n_match,
         |    len(list_intersect(x.coins, y.coins))::DOUBLE
         |      / len(list_distinct(list_concat(x.coins, y.coins)))::DOUBLE AS exact_j
         |  FROM sg x JOIN sg y ON x.lang = y.lang AND x.doc_id < y.doc_id
         |)
         |SELECT bin::INTEGER AS bin, count(*)::BIGINT AS n_pairs, sum(n_match)::BIGINT AS total_matches,
         |  sum(n_match)::DOUBLE / (count(*) * 128)::DOUBLE AS mean_est,
         |  min(n_match)::DOUBLE / 128.0 AS min_est,
         |  max(n_match)::DOUBLE / 128.0 AS max_est
         |FROM (SELECT least(floor(exact_j * 10)::INTEGER, 9) AS bin, n_match FROM pr)
         |GROUP BY bin ORDER BY bin""".stripMargin,

    // answer-substring decontamination: 6-token interior runs of every
    // 25th doc probed verbatim against the whitespace/case-normalized
    // corpus; foreign hits = containing docs other than the source
    "decontam_answers" ->
      """WITH nd AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS ntext
        |  FROM documents),
        |ans AS (
        |  SELECT doc_id AS answer_id,
        |    array_to_string(string_split(ntext, ' ')[3:8], ' ') AS ans
        |  FROM nd WHERE doc_id % 25 = 0 AND len(string_split(ntext, ' ')) >= 8),
        |hits AS (
        |  SELECT answer_id, nd.doc_id
        |  FROM nd JOIN ans ON strpos(nd.ntext, ans.ans) > 0 AND length(ans.ans) > 0)
        |SELECT answer_id, count(*)::BIGINT AS n_hits,
        |  sum(CASE WHEN doc_id <> answer_id THEN 1 ELSE 0 END)::BIGINT AS n_foreign_hits
        |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin,

    // b-bit minwise: same replayed signatures, agreement on the lowest
    // bit only; J_est = 2A - 1 with the engine's operation order
    "minhash_bbit" ->
      s"""WITH $minhashReplayCtes,
         |pr AS (
         |  SELECT
         |    len(list_filter(range(1, 129), j -> (x.sig[j] & 1) = (y.sig[j] & 1)))::INTEGER AS n_agree,
         |    len(list_intersect(x.coins, y.coins))::DOUBLE
         |      / len(list_distinct(list_concat(x.coins, y.coins)))::DOUBLE AS exact_j
         |  FROM sg x JOIN sg y ON x.lang = y.lang AND x.doc_id < y.doc_id
         |)
         |SELECT bin::INTEGER AS bin, count(*)::BIGINT AS n_pairs, sum(n_agree)::BIGINT AS total_agree,
         |  sum(n_agree)::DOUBLE / (count(*) * 128)::DOUBLE AS mean_agree,
         |  sum(n_agree)::DOUBLE / (count(*) * 128)::DOUBLE * 2.0 - 1.0 AS mean_est_j
         |FROM (SELECT least(floor(exact_j * 10)::INTEGER, 9) AS bin, n_agree FROM pr)
         |GROUP BY bin ORDER BY bin""".stripMargin,

    // Gopher rule replay: same planted failure classes, same regex and
    // threshold arithmetic per rule
    "quality_gopher" ->
      """WITH p AS (
        |  SELECT doc_id, CASE doc_id % 10
        |    WHEN 1 THEN 'x1 x2'
        |    WHEN 2 THEN text || ' # # # # # # # # # #'
        |    WHEN 3 THEN text || ' 111 222 333 444 555 666 777 888 999 000'
        |    WHEN 4 THEN 'abcdefghijklmnop qrstuvwxyzabcdefgh ijklmnopqrstuvwx yzabcdefghijklmn'
        |    ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS toks FROM p),
        |m AS (SELECT doc_id,
        |    len(toks)::INTEGER AS n_words,
        |    length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE / len(toks)::DOUBLE AS mwl,
        |    len(regexp_extract_all(text, '[#…]'))::DOUBLE / len(toks)::DOUBLE AS symr,
        |    len(list_filter(toks, x -> regexp_matches(x, '[a-zа-яё]')))::DOUBLE / len(toks)::DOUBLE AS af,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it')))::INTEGER AS sh
        |  FROM t)
        |SELECT doc_id, n_words,
        |  (n_words >= 5 AND n_words <= 100000) AS r_word_count,
        |  (mwl >= 3.0 AND mwl <= 10.0) AS r_word_len,
        |  (symr <= 0.1) AS r_symbols,
        |  (af >= 0.8) AS r_alpha,
        |  (sh >= 2) AS r_stopwords,
        |  (n_words >= 5 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
        |    AND symr <= 0.1 AND af >= 0.8 AND sh >= 2) AS gopher_pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // the release-manifest composition: gate -> planted-dup canonical
    // dedup -> md5-coin split -> md5-coin shard -> totals, each stage
    // the same SQL its own row uses
    "corpus_manifest" ->
      """WITH corpus AS (
        |  SELECT doc_id, lang, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, lang, text FROM documents WHERE doc_id % 7 = 0),
        |b AS (
        |  SELECT doc_id, lang, text,
        |    len(string_split_regex(lower(trim(text)), '\s+'))::BIGINT AS n_toks,
        |    len(list_distinct(string_split_regex(lower(trim(text)), '\s+')))::DOUBLE
        |      / len(string_split_regex(lower(trim(text)), '\s+'))::DOUBLE AS score
        |  FROM corpus),
        |g AS (SELECT * FROM b WHERE score >= 0.5),
        |k AS (SELECT doc_id, lang, n_toks FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |    ORDER BY doc_id) AS rn FROM g) WHERE rn = 1),
        |sp AS (
        |  SELECT doc_id, lang, n_toks,
        |    CASE WHEN cl::DOUBLE / 16777216.0 < 0.9 THEN 'train'
        |         WHEN cl::DOUBLE / 16777216.0 < 0.95 THEN 'val'
        |         ELSE 'test' END AS split,
        |    (cl % 8)::INTEGER AS shard
        |  FROM (SELECT *,
        |      list_reduce(list_transform(string_split(substr(md5(doc_id::VARCHAR), 1, 6), ''),
        |        c -> strpos('0123456789abcdef', c) - 1), (a, b) -> a * 16 + b)::BIGINT AS cl
        |    FROM k))
        |SELECT split, shard, count(*)::BIGINT AS n_docs, sum(n_toks)::BIGINT AS n_tokens,
        |  count(DISTINCT lang)::BIGINT AS n_langs
        |FROM sp GROUP BY 1, 2 ORDER BY split, shard""".stripMargin,

    // count-min replay: the full 4x1024 counter matrix from md5
    // "row:term" coins, probe keys the same way, min over depth —
    // integer counts end to end
    "sketch_countmin" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term FROM documents),
        |top AS (SELECT term, cnt, rank FROM (
        |  SELECT term, count(*)::BIGINT AS cnt,
        |    row_number() OVER (ORDER BY count(*) DESC, term) AS rank
        |  FROM tok GROUP BY term) WHERE rank <= 20),
        |rows_ AS (SELECT unnest(range(0, 4)) AS row),
        |sk AS (
        |  SELECT row,
        |    list_reduce(list_transform(string_split(substr(md5(row::VARCHAR || ':' || term), 1, 6), ''),
        |      ch -> strpos('0123456789abcdef', ch) - 1), (a, b) -> a * 16 + b)::BIGINT % 1024 AS bucket,
        |    count(*)::BIGINT AS cnt
        |  FROM tok CROSS JOIN rows_ GROUP BY 1, 2),
        |pk AS (
        |  SELECT term, row,
        |    list_reduce(list_transform(string_split(substr(md5(row::VARCHAR || ':' || term), 1, 6), ''),
        |      ch -> strpos('0123456789abcdef', ch) - 1), (a, b) -> a * 16 + b)::BIGINT % 1024 AS bucket
        |  FROM top CROSS JOIN rows_),
        |est AS (
        |  SELECT term, min(coalesce(sk.cnt, 0))::BIGINT AS est_cnt
        |  FROM pk LEFT JOIN sk USING (row, bucket) GROUP BY term)
        |SELECT t.rank::INTEGER AS rank, t.term, t.cnt AS exact_cnt, e.est_cnt,
        |  e.est_cnt - t.cnt AS overest
        |FROM top t JOIN est e USING (term) ORDER BY rank""".stripMargin,

    // cross-run near-dup: exhaustive batch x store shingle Jaccard,
    // best match per batch doc (J desc, store id asc) at J >= 0.5
    "dedup_incremental_minhash" ->
      s"""WITH sh AS MATERIALIZED (${shingleSelect(3)}),
         |st AS (SELECT * FROM sh WHERE doc_id % 2 = 0),
         |bt AS (SELECT * FROM sh WHERE doc_id % 2 <> 0),
         |pairs AS (
         |  SELECT b.doc_id AS batch_id, s.doc_id AS store_id,
         |    len(list_intersect(b.sh, s.sh))::DOUBLE
         |      / len(list_distinct(list_concat(b.sh, s.sh)))::DOUBLE AS jaccard
         |  FROM bt b CROSS JOIN st s)
         |SELECT batch_id, store_id, jaccard FROM (
         |  SELECT *, row_number() OVER (PARTITION BY batch_id ORDER BY jaccard DESC, store_id) AS rn
         |  FROM pairs WHERE jaccard >= 0.5)
         |WHERE rn = 1 ORDER BY batch_id""".stripMargin,

    // simhash fidelity curve: 48-bit md5-token simhash hamming vs
    // exact shingle Jaccard over the same probe window — integer
    // hammings, one division per bin
    "simhash_accuracy" ->
      s"""WITH ${simhashFp(" WHERE doc_id < 1000")},
         |g AS (${shingleSelect(3, ", lang", " WHERE doc_id < 1000")}),
         |c AS (
         |  SELECT doc_id, lang,
         |    list_sort(list_distinct(list_transform(sh, x ->
         |      list_reduce(list_transform(string_split(substr(md5(x), 1, 6), ''),
         |        ch -> strpos('0123456789abcdef', ch) - 1), (a, b) -> a * 16 + b)::BIGINT))) AS coins
         |  FROM g WHERE len(sh) > 0
         |),
         |pr AS (
         |  SELECT
         |    bit_count(xor(fa.simhash, fb.simhash))::INTEGER AS hamming,
         |    len(list_intersect(x.coins, y.coins))::DOUBLE
         |      / len(list_distinct(list_concat(x.coins, y.coins)))::DOUBLE AS exact_j
         |  FROM c x JOIN c y ON x.lang = y.lang AND x.doc_id < y.doc_id
         |  JOIN fp fa ON fa.doc_id = x.doc_id
         |  JOIN fp fb ON fb.doc_id = y.doc_id)
         |SELECT bin::INTEGER AS bin, count(*)::BIGINT AS n_pairs,
         |  sum(hamming)::BIGINT AS total_hamming,
         |  sum(hamming)::DOUBLE / count(*)::DOUBLE AS mean_hamming,
         |  min(hamming)::INTEGER AS min_hamming, max(hamming)::INTEGER AS max_hamming
         |FROM (SELECT least(floor(exact_j * 10)::INTEGER, 9) AS bin, hamming FROM pr)
         |GROUP BY bin ORDER BY bin""".stripMargin,

    // banding S-curve: candidates from raw signature-slice band keys
    // (no engine-private hash), per exact-J bin the candidate fraction
    "minhash_banding" ->
      s"""WITH $minhashReplayCtes,
         |bd AS MATERIALIZED (
         |  SELECT lang, doc_id, b AS band,
         |    array_to_string(sig[(b * 4 + 1):(b * 4 + 4)], ',') AS key
         |  FROM sg CROSS JOIN (SELECT unnest(range(0, 32)) AS b)),
         |cd AS (
         |  SELECT DISTINCT x.lang, x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM bd x JOIN bd y ON x.lang = y.lang AND x.band = y.band
         |    AND x.key = y.key AND x.doc_id < y.doc_id),
         |pr AS (
         |  SELECT x.lang, x.doc_id AS a_id, y.doc_id AS b_id,
         |    len(list_intersect(x.coins, y.coins))::DOUBLE
         |      / len(list_distinct(list_concat(x.coins, y.coins)))::DOUBLE AS exact_j
         |  FROM sg x JOIN sg y ON x.lang = y.lang AND x.doc_id < y.doc_id),
         |jd AS (
         |  SELECT least(floor(p.exact_j * 10)::INTEGER, 9) AS bin,
         |    CASE WHEN c.a_id IS NULL THEN 0 ELSE 1 END AS is_cand
         |  FROM pr p LEFT JOIN cd c
         |    ON p.lang = c.lang AND p.a_id = c.a_id AND p.b_id = c.b_id)
         |SELECT bin::INTEGER AS bin, count(*)::BIGINT AS n_pairs, sum(is_cand)::BIGINT AS n_candidates,
         |  sum(is_cand)::DOUBLE / count(*)::DOUBLE AS candidate_rate
         |FROM jd GROUP BY bin ORDER BY bin""".stripMargin,

    // KMV(64) distinct-shingle sketch replay: the k-th smallest
    // md5-prefix coin per lang reproduces the engine's TreeSet-of-64
    // aggregate exactly (min-k of a set is order-independent), and the
    // (k-1)/h_k estimate is bit-identical because the 2^24 coin-space
    // division is exact in binary floating point
    // per-source dataset card: counts exact, diversity mean on the
    // 2^-40 integer grid, language mode with (count desc, lang) tiebreak
    "corpus_card" ->
      """WITH b AS (
        |  SELECT source, lang,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |    len(toks)::INTEGER AS n_toks,
        |    floor((len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE) * 1099511627776.0)::BIGINT AS div_fp
        |  FROM (SELECT source, lang, text, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)),
        |ps AS (
        |  SELECT source, count(*)::BIGINT AS n_docs, sum(n_toks)::BIGINT AS n_tokens,
        |    count(DISTINCT fp)::BIGINT AS n_distinct, sum(div_fp)::BIGINT AS sdiv
        |  FROM b GROUP BY source),
        |tl AS (
        |  SELECT source, lang AS top_lang, n_lang_docs FROM (
        |    SELECT source, lang, count(*)::BIGINT AS n_lang_docs,
        |      row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, lang) AS rn
        |    FROM b GROUP BY source, lang)
        |  WHERE rn = 1)
        |SELECT ps.source AS source, n_docs, n_tokens, n_distinct,
        |  1.0 - n_distinct::DOUBLE / n_docs::DOUBLE AS dup_frac,
        |  (sdiv::DOUBLE / 1099511627776.0) / n_docs::DOUBLE AS mean_diversity,
        |  top_lang, n_lang_docs AS top_lang_docs,
        |  n_lang_docs::DOUBLE / n_docs::DOUBLE AS top_lang_share
        |FROM ps JOIN tl ON tl.source = ps.source
        |ORDER BY 1""".stripMargin,

    // KMV pairwise set operations over the planted-mirror corpus:
    // per-source 16-min sketch, pair union = 16 smallest of the merged
    // sketches, intersection by inclusion-exclusion floored at 0; the
    // estimator expressions mirror sketch_distinct's replay exactly
    "sketch_overlap" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 700000, 'mirror' || (doc_id % 3)::VARCHAR, text
         |  FROM documents WHERE doc_id < 200),
         |coins AS MATERIALIZED (
         |  SELECT DISTINCT source, ${md24("lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))")} AS coin
         |  FROM all_docs),
         |r AS (SELECT source, coin,
         |    row_number() OVER (PARTITION BY source ORDER BY coin) AS rk,
         |    count(*) OVER (PARTITION BY source) AS n FROM coins),
         |ps AS MATERIALIZED (
         |  SELECT source, max(n)::BIGINT AS n_exact,
         |    CASE WHEN max(n) < 16 THEN max(n)::DOUBLE
         |         ELSE 15.0 / ((max(CASE WHEN rk = 16 THEN coin END) + 1)::DOUBLE / 16777216.0) END AS est
         |  FROM r GROUP BY source),
         |sk AS MATERIALIZED (SELECT source, coin FROM r WHERE rk <= 16),
         |pl AS MATERIALIZED (
         |  SELECT a.source AS source_a, a.n_exact AS exact_a, a.est AS est_a,
         |         b.source AS source_b, b.n_exact AS exact_b, b.est AS est_b
         |  FROM ps a, ps b WHERE a.source < b.source),
         |uc AS (
         |  SELECT DISTINCT source_a, source_b, coin FROM (
         |    SELECT pl.source_a, pl.source_b, sk.coin FROM pl JOIN sk ON sk.source = pl.source_a
         |    UNION ALL
         |    SELECT pl.source_a, pl.source_b, sk.coin FROM pl JOIN sk ON sk.source = pl.source_b)),
         |ur AS (SELECT source_a, source_b, coin,
         |    row_number() OVER (PARTITION BY source_a, source_b ORDER BY coin) AS rk,
         |    count(*) OVER (PARTITION BY source_a, source_b) AS nu FROM uc),
         |ue AS (SELECT source_a, source_b,
         |    CASE WHEN max(nu) < 16 THEN max(nu)::DOUBLE
         |         ELSE 15.0 / ((max(CASE WHEN rk = 16 THEN coin END) + 1)::DOUBLE / 16777216.0) END AS est_union
         |  FROM ur GROUP BY 1, 2),
         |xi AS (SELECT a.source AS source_a, b.source AS source_b, count(*)::BIGINT AS exact_inter
         |  FROM coins a JOIN coins b ON a.coin = b.coin AND a.source < b.source GROUP BY 1, 2)
         |SELECT pl.source_a AS source_a, pl.source_b AS source_b, exact_a, exact_b,
         |  coalesce(xi.exact_inter, 0)::BIGINT AS exact_inter,
         |  est_a, est_b, ue.est_union AS est_union,
         |  greatest(0.0, est_a + est_b - ue.est_union) AS est_inter
         |FROM pl JOIN ue USING (source_a, source_b)
         |LEFT JOIN xi ON xi.source_a = pl.source_a AND xi.source_b = pl.source_b
         |ORDER BY 1, 2""".stripMargin,

    "sketch_distinct" ->
      s"""WITH g AS (${shingleSelect(3, ", lang")}),
         |c AS (SELECT DISTINCT lang,
         |    list_reduce(list_transform(string_split(substr(md5(sh), 1, 6), ''),
         |      ch -> strpos('0123456789abcdef', ch) - 1), (a, b) -> a * 16 + b)::BIGINT AS coin
         |  FROM (SELECT lang, unnest(sh) AS sh FROM g)),
         |r AS (SELECT lang, coin,
         |    row_number() OVER (PARTITION BY lang ORDER BY coin) AS rk,
         |    count(*) OVER (PARTITION BY lang) AS n_exact FROM c),
         |e AS (SELECT lang, max(n_exact)::BIGINT AS exact_distinct,
         |    CASE WHEN max(n_exact) < 64 THEN max(n_exact)::DOUBLE
         |         ELSE 63.0 / ((max(CASE WHEN rk = 64 THEN coin END) + 1)::DOUBLE / 16777216.0)
         |    END AS est_distinct
         |  FROM r GROUP BY lang)
         |SELECT lang, exact_distinct, est_distinct,
         |  (abs(est_distinct - exact_distinct::DOUBLE) / exact_distinct::DOUBLE)::FLOAT AS rel_err
         |FROM e ORDER BY lang""".stripMargin,

    // HyperLogLog registers replayed from the 56-bit md5 coin: register
    // index = top 8 bits, rank rho = 49 - bitlen(low 48 bits) (49 when
    // zero), max per register; denominator on the 2^49 integer grid;
    // the estimate constant is ((alpha_256*256)*256)*2^49 printed as a
    // round-trip double literal. The ALL row merges the per-type
    // registers by max — same register algebra the engine's merge uses.
    "sketch_hll" ->
      """WITH c AS (
        |  SELECT DISTINCT event_type, user_id,
        |    list_reduce(list_transform(string_split(substr(md5('hll:' || user_id), 1, 14), ''),
        |      ch -> strpos('0123456789abcdef', ch) - 1), (a, b) -> a * 16 + b)::BIGINT AS coin
        |  FROM events),
        |r0 AS (SELECT event_type, coin >> 48 AS j,
        |    CASE WHEN (coin & 281474976710655) = 0 THEN 49
        |         ELSE 49 - length(bin(coin & 281474976710655)) END AS rho
        |  FROM c),
        |reg AS (SELECT event_type, j, max(rho) AS mr FROM r0 GROUP BY 1, 2),
        |grid AS (SELECT et.event_type, gs.j
        |  FROM (SELECT DISTINCT event_type FROM events) et
        |  CROSS JOIN unnest(range(0, 256)) AS gs(j)),
        |fullr AS (SELECT g.event_type, g.j, coalesce(mr, 0) AS mr
        |  FROM grid g LEFT JOIN reg ON g.event_type = reg.event_type AND g.j = reg.j),
        |pg AS (SELECT event_type AS grp,
        |    sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END)::BIGINT AS v_zero,
        |    sum(1::BIGINT << (49 - mr))::BIGINT AS s_scaled
        |  FROM fullr GROUP BY 1),
        |ex AS (SELECT event_type AS grp, count(DISTINCT user_id)::BIGINT AS exact_distinct
        |  FROM events GROUP BY 1),
        |rall AS (SELECT j, max(rho) AS mr FROM r0 GROUP BY 1),
        |fall AS (SELECT gs.j, coalesce(mr, 0) AS mr
        |  FROM unnest(range(0, 256)) AS gs(j) LEFT JOIN rall ON gs.j = rall.j),
        |pall AS (SELECT 'ALL' AS grp,
        |    sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END)::BIGINT AS v_zero,
        |    sum(1::BIGINT << (49 - mr))::BIGINT AS s_scaled FROM fall),
        |exall AS (SELECT 'ALL' AS grp, count(DISTINCT user_id)::BIGINT AS exact_distinct FROM events),
        |u AS (
        |  SELECT e.grp, exact_distinct, v_zero, s_scaled FROM pg p JOIN ex e USING (grp)
        |  UNION ALL
        |  SELECT e.grp, exact_distinct, v_zero, s_scaled FROM pall p JOIN exall e USING (grp))
        |SELECT grp, exact_distinct, v_zero, s_scaled,
        |  floor(2.6499581405668102e19 / s_scaled::DOUBLE * 1024.0)::BIGINT AS est_q10
        |FROM u ORDER BY grp""".stripMargin,

    // Jensen-Shannon drift between even-id (reference) and odd-id
    // (current) unigram distributions per lang; FLOAT on the divergence
    // (order-sensitive double sums — the bm25 discipline)
    "corpus_drift" ->
      """WITH tk AS (
        |  SELECT lang AS s, doc_id % 2 = 0 AS is_ref,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |c AS (
        |  SELECT s, term,
        |    sum(CASE WHEN is_ref THEN 1 ELSE 0 END)::BIGINT AS cref,
        |    sum(CASE WHEN is_ref THEN 0 ELSE 1 END)::BIGINT AS ccur
        |  FROM tk GROUP BY s, term),
        |n AS (
        |  SELECT s, sum(cref)::BIGINT AS nref, sum(ccur)::BIGINT AS ncur
        |  FROM c GROUP BY s HAVING sum(cref) > 0 AND sum(ccur) > 0),
        |d AS (
        |  SELECT c.s, cref, ccur, nref, ncur,
        |    cref::DOUBLE / nref::DOUBLE AS p, ccur::DOUBLE / ncur::DOUBLE AS q,
        |    (cref::DOUBLE / nref::DOUBLE + ccur::DOUBLE / ncur::DOUBLE) / 2.0 AS mm
        |  FROM c JOIN n USING (s))
        |SELECT s AS lang, nref AS n_ref_tokens, ncur AS n_cur_tokens, count(*)::INTEGER AS n_terms,
        |  (((sum(CASE WHEN cref > 0 THEN p * ln(p / mm) ELSE 0.0 END)
        |    + sum(CASE WHEN ccur > 0 THEN q * ln(q / mm) ELSE 0.0 END)) * 0.5) / ln(2.0))::FLOAT AS js_divergence
        |FROM d GROUP BY s, nref, ncur ORDER BY lang""".stripMargin,

    "text_langid" -> langidSql,

    // confusion matrix over the same prediction SQL: counts per
    // (true, predicted) pair + the pair's share of the true language
    "langid_confusion" ->
      s"""WITH l AS ($langidSql),
         |g AS (SELECT lang_true, lang_pred, count(*) AS n_docs FROM l GROUP BY 1, 2)
         |SELECT lang_true, lang_pred, n_docs,
         |  n_docs::DOUBLE / sum(n_docs) OVER (PARTITION BY lang_true)::DOUBLE AS frac_of_true
         |FROM g ORDER BY lang_true, lang_pred""".stripMargin,

    // the approx (percentile-probe admission floor) path must equal the
    // exact window — same oracle as select_token_budget
    "select_token_budget_approx" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS score,
        |    len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9]'))::INTEGER AS n_sel_tokens
        |  FROM (SELECT doc_id, lang, text, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)),
        |c AS (SELECT *, sum(n_sel_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id)::BIGINT AS cum_tokens FROM b)
        |SELECT doc_id, lang, score, n_sel_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 4000 ORDER BY lang, cum_tokens, doc_id""".stripMargin,

    // mirror order exactly: score desc, doc_id asc; DuckDB's default
    // RANGE window frame equals Spark's because the (score, doc_id)
    // ordering is tie-free (doc_id unique)
    "select_token_budget" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS score,
        |    len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9]'))::INTEGER AS n_sel_tokens
        |  FROM (SELECT doc_id, lang, text, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)),
        |c AS (SELECT *, sum(n_sel_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id)::BIGINT AS cum_tokens FROM b)
        |SELECT doc_id, lang, score, n_sel_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 4000 ORDER BY lang, cum_tokens, doc_id""".stripMargin,

    // mixture weights 40/25/15/12/8 of 16000 -> per-language budgets
    // 6400/4000/2400/1920/1280 (round(w/Σw·total), matching the Scala
    // side's arithmetic); selection expressions mirror select_token_budget
    "select_mixture" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS score,
        |    len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9]'))::INTEGER AS n_sel_tokens
        |  FROM (SELECT doc_id, lang, text, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)),
        |wt AS (SELECT * FROM (VALUES ('en', 6400), ('ru', 4000), ('de', 2400), ('fr', 1920), ('es', 1280)) AS t(lang, stratum_budget)),
        |c AS (
        |  SELECT doc_id, lang, score, n_sel_tokens, stratum_budget,
        |    sum(n_sel_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id)::BIGINT AS cum_tokens
        |  FROM b JOIN wt USING (lang))
        |SELECT doc_id, lang, score, n_sel_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= stratum_budget ORDER BY lang, cum_tokens, doc_id""".stripMargin,

    // DSIR importance resampling: add-one-smoothed hashed-n-gram bucket
    // distributions for target (source = src0) vs the raw pool, per-
    // bucket log ratio floored once to the 2^-40 grid in the 4096-row
    // model table (so per-doc sums are integer-associative), top-100 by
    // the float32 mean ratio with doc_id tiebreak
    "select_dsir" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, n_feats, weight,
         |  row_number() OVER (ORDER BY weight DESC, doc_id)::INTEGER AS rank
         |FROM w QUALIFY rank <= 100 ORDER BY rank""".stripMargin,

    // Gumbel-top-k resampling: id-derived md5 coin -> -ln(-ln(u)) noise
    // floored to the 2^-40 grid; sort key = exact double sum
    "select_dsir_sample" ->
      s"""WITH $dsirCtes,
         |g AS (
         |  SELECT doc_id, n_feats, weight,
         |    floor(-ln(-ln((${md24("'g:' || doc_id::VARCHAR")} + 1)::DOUBLE / 16777217.0))
         |      * 1099511627776.0) / 1099511627776.0 AS gumbel
         |  FROM w),
         |s AS (SELECT doc_id, n_feats, weight, gumbel,
         |        weight::DOUBLE + gumbel AS sample_key FROM g)
         |SELECT doc_id, n_feats, weight, gumbel, sample_key,
         |  row_number() OVER (ORDER BY sample_key DESC, doc_id)::INTEGER AS rank
         |FROM s QUALIFY rank <= 100 ORDER BY rank""".stripMargin,

    // quality gate -> exact-dedup canonical -> per-language token budget:
    // each stage mirrors its standalone oracle's expressions exactly
    "corpus_curation" ->
      """WITH b AS (
        |  SELECT doc_id, lang, text,
        |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS score,
        |    len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9]'))::INTEGER AS n_sel_tokens
        |  FROM (SELECT doc_id, lang, text, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)
        |  WHERE len(toks) >= 10 AND len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE > 0.2
        |    AND length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE / len(toks)::DOUBLE < 15.0),
        |k AS (
        |  SELECT *, min(doc_id) OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS canon
        |  FROM b),
        |c AS (
        |  SELECT doc_id, lang, score, n_sel_tokens,
        |    sum(n_sel_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id)::BIGINT AS cum_tokens
        |  FROM k WHERE doc_id = canon)
        |SELECT doc_id, lang, score, n_sel_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 4000 ORDER BY lang, cum_tokens, doc_id""".stripMargin,

    // adaptive-threshold curation: the quality_percentile_gate CTEs (p60)
    // feeding corpus_curation's canonical-dedup + budget-window stages
    "curation_adaptive" ->
      """WITH b AS MATERIALIZED (
        |  SELECT doc_id, lang, text,
        |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS score,
        |    len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9]'))::INTEGER AS n_sel_tokens
        |  FROM (SELECT doc_id, lang, text, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY lang ORDER BY score) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM b),
        |t AS (SELECT lang, max(CASE WHEN rn = (cnt * 6000 + 9999) // 10000 THEN score END) AS threshold_score
        |  FROM r GROUP BY lang),
        |g AS (SELECT b.*, threshold_score FROM b JOIN t USING (lang) WHERE score >= threshold_score),
        |k AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS canon
        |  FROM g),
        |c AS (SELECT doc_id, lang, score, threshold_score, n_sel_tokens,
        |    sum(n_sel_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id)::BIGINT AS cum_tokens
        |  FROM k WHERE doc_id = canon)
        |SELECT doc_id, lang, score, threshold_score, n_sel_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 4000 ORDER BY lang, cum_tokens, doc_id""".stripMargin,

    // corpus_curation + the repetition gate: the dup-2-gram fraction is
    // recomputed from string n-grams (vs the kernel's hashes — the
    // standard hashed-text contract) and ANDed into the quality gate
    "curation_pipeline" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, lang, text, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |c2 AS (SELECT doc_id, count(*) AS c FROM (
        |    SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS g
        |    FROM t WHERE len(toks) >= 2) GROUP BY doc_id, g),
        |s2 AS (SELECT doc_id, sum(c) AS total, coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS dup FROM c2 GROUP BY doc_id),
        |b AS (
        |  SELECT doc_id, lang, text,
        |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS score,
        |    len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9]'))::INTEGER AS n_sel_tokens
        |  FROM t JOIN s2 USING (doc_id)
        |  WHERE len(toks) >= 10 AND len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE > 0.2
        |    AND length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE / len(toks)::DOUBLE < 15.0
        |    AND dup::DOUBLE / total::DOUBLE <= 0.1),
        |k AS (
        |  SELECT *, min(doc_id) OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS canon
        |  FROM b),
        |c AS (
        |  SELECT doc_id, lang, score, n_sel_tokens,
        |    sum(n_sel_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id)::BIGINT AS cum_tokens
        |  FROM k WHERE doc_id = canon)
        |SELECT doc_id, lang, score, n_sel_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 4000 ORDER BY lang, cum_tokens, doc_id""".stripMargin,

    // the five-gate chain: curation_pipeline's gates + the unigram-nll
    // perplexity gate (text_perplexity's model replayed inline) + PII
    // plant/scrub on the budget survivors (text_pii's expressions)
    "curation_full" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, lang, text, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |p AS MATERIALIZED (SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS term FROM t),
        |c AS MATERIALIZED (SELECT term, count(*) AS cnt FROM p GROUP BY term),
        |kept AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 24),
        |s AS MATERIALIZED (SELECT sum(cnt)::BIGINT AS total FROM c),
        |tn AS MATERIALIZED (
        |  SELECT term, floor(-ln(cnt::DOUBLE / total::DOUBLE) * 1099511627776.0)::BIGINT AS fp
        |  FROM kept CROSS JOIN s),
        |nl AS (
        |  SELECT doc_id,
        |    ((sum(coalesce(tn.fp, (SELECT floor(-ln(0.5 / total::DOUBLE) * 1099511627776.0)::BIGINT FROM s)))::DOUBLE
        |      / 1099511627776.0) / any_value(n_tokens)::DOUBLE)::FLOAT AS nll_per_token
        |  FROM p LEFT JOIN tn USING (term) GROUP BY doc_id),
        |c2 AS (SELECT doc_id, count(*) AS c FROM (
        |    SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS g
        |    FROM t WHERE len(toks) >= 2) GROUP BY doc_id, g),
        |s2 AS (SELECT doc_id, sum(c) AS total, coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS dup FROM c2 GROUP BY doc_id),
        |b AS (
        |  SELECT doc_id, lang, text,
        |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS score,
        |    len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9]'))::INTEGER AS n_sel_tokens,
        |    nll_per_token
        |  FROM t JOIN s2 USING (doc_id) JOIN nl USING (doc_id)
        |  WHERE len(toks) >= 10 AND len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE > 0.2
        |    AND length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE / len(toks)::DOUBLE < 15.0
        |    AND dup::DOUBLE / total::DOUBLE <= 0.1
        |    AND nll_per_token <= 5.5),
        |k AS (
        |  SELECT *, min(doc_id) OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS canon
        |  FROM b),
        |sel AS (
        |  SELECT doc_id, lang, text, score, n_sel_tokens, nll_per_token,
        |    sum(n_sel_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id)::BIGINT AS cum_tokens
        |  FROM k WHERE doc_id = canon),
        |pii AS (
        |  SELECT doc_id, lang, score, n_sel_tokens, nll_per_token, cum_tokens, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' reach user' || doc_id::VARCHAR || '@example.com or admin@test.org'
        |         WHEN doc_id % 3 = 1 THEN ' from host 10.0.' || (doc_id % 256)::VARCHAR || '.7'
        |         ELSE ' call +1555' || (doc_id % 10000 + 1000000)::VARCHAR END AS pt
        |  FROM sel WHERE cum_tokens <= 4000)
        |SELECT doc_id, lang, score, n_sel_tokens, nll_per_token, cum_tokens,
        |  (len(regexp_extract_all(pt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |   + len(regexp_extract_all(pt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |   + len(regexp_extract_all(pt, '\+\d{7,15}\b')))::INTEGER AS n_pii,
        |  regexp_replace(regexp_replace(regexp_replace(pt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{7,15}\b', '<PHONE>', 'g') AS redacted
        |FROM pii ORDER BY lang, cum_tokens, doc_id""".stripMargin,

    // the six-gate chain: curation_full's five gates on the train split
    // (doc_id % 10 <> 7) + exact 13-gram decontamination against the
    // eval split (dedup_contaminated_ngrams' expressions) before the
    // budget window
    "curation_decontam" ->
      s"""WITH t AS MATERIALIZED (
        |  SELECT doc_id, lang, text, string_split_regex(lower(trim(text)), '\\s+') AS toks
        |  FROM documents WHERE doc_id % 10 <> 7),
        |p AS MATERIALIZED (SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS term FROM t),
        |c AS MATERIALIZED (SELECT term, count(*) AS cnt FROM p GROUP BY term),
        |kept AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 24),
        |s AS MATERIALIZED (SELECT sum(cnt)::BIGINT AS total FROM c),
        |tn AS MATERIALIZED (
        |  SELECT term, floor(-ln(cnt::DOUBLE / total::DOUBLE) * 1099511627776.0)::BIGINT AS fp
        |  FROM kept CROSS JOIN s),
        |nl AS (
        |  SELECT doc_id,
        |    ((sum(coalesce(tn.fp, (SELECT floor(-ln(0.5 / total::DOUBLE) * 1099511627776.0)::BIGINT FROM s)))::DOUBLE
        |      / 1099511627776.0) / any_value(n_tokens)::DOUBLE)::FLOAT AS nll_per_token
        |  FROM p LEFT JOIN tn USING (term) GROUP BY doc_id),
        |c2 AS (SELECT doc_id, count(*) AS c FROM (
        |    SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS g
        |    FROM t WHERE len(toks) >= 2) GROUP BY doc_id, g),
        |s2 AS (SELECT doc_id, sum(c) AS total, coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS dup FROM c2 GROUP BY doc_id),
        |sh AS MATERIALIZED (${shingleSelect(13)}),
        |probe AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 10 = 7),
        |contam AS (SELECT DISTINCT doc_id FROM
        |  (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 10 <> 7) cg JOIN probe USING (g)),
        |b AS (
        |  SELECT doc_id, lang, text,
        |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS score,
        |    len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9]'))::INTEGER AS n_sel_tokens,
        |    nll_per_token
        |  FROM t JOIN s2 USING (doc_id) JOIN nl USING (doc_id)
        |  WHERE len(toks) >= 10 AND len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE > 0.2
        |    AND length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(toks)::DOUBLE < 15.0
        |    AND dup::DOUBLE / total::DOUBLE <= 0.1
        |    AND nll_per_token <= 5.5),
        |k AS (
        |  SELECT *, min(doc_id) OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS canon
        |  FROM b),
        |sel AS (
        |  SELECT doc_id, lang, text, score, n_sel_tokens, nll_per_token,
        |    sum(n_sel_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id)::BIGINT AS cum_tokens
        |  FROM k WHERE doc_id = canon AND doc_id NOT IN (SELECT doc_id FROM contam)),
        |pii AS (
        |  SELECT doc_id, lang, score, n_sel_tokens, nll_per_token, cum_tokens, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' reach user' || doc_id::VARCHAR || '@example.com or admin@test.org'
        |         WHEN doc_id % 3 = 1 THEN ' from host 10.0.' || (doc_id % 256)::VARCHAR || '.7'
        |         ELSE ' call +1555' || (doc_id % 10000 + 1000000)::VARCHAR END AS pt
        |  FROM sel WHERE cum_tokens <= 4000)
        |SELECT doc_id, lang, score, n_sel_tokens, nll_per_token, cum_tokens,
        |  (len(regexp_extract_all(pt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
        |   + len(regexp_extract_all(pt, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
        |   + len(regexp_extract_all(pt, '\\+\\d{7,15}\\b')))::INTEGER AS n_pii,
        |  regexp_replace(regexp_replace(regexp_replace(pt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
        |    '\\+\\d{7,15}\\b', '<PHONE>', 'g') AS redacted
        |FROM pii ORDER BY lang, cum_tokens, doc_id""".stripMargin,

    // URL planting mirrored from the Spark side; eTLD+1 = last two host
    // labels, or three when the trailing pair is a two-part suffix
    // canonicalization replay: same regex/array arithmetic as
    // UrlFilter.canonicalizeUrl — fragment drop, scheme+host lowercase,
    // default-port strip, trailing-slash strip, tracking-param filter,
    // byte-wise query sort; planted clean/messy pairs must all land in
    // groups of exactly 2
    "url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' || CASE WHEN doc_id % 2 = 0 THEN 'www' ELSE 'cdn' END || '.' ||
        |    ['example.com','badsite.io','shop.example.co.uk','spam-tracker.net','news.example.org'][(doc_id % 5 + 1)::INTEGER] ||
        |    '/p/' || doc_id::VARCHAR || '?a=1&b=2' AS url
        |  FROM documents),
        |corpus AS (
        |  SELECT doc_id, url FROM u
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id,
        |    upper(regexp_extract(url, '^[^/]*://[^/?]*')) || ':443' ||
        |    regexp_extract(url, '^[^/]*://[^/?]*([^?]*)', 1) || '/' ||
        |    '?b=2&utm_source=x&a=1#frag' AS url
        |  FROM u),
        |c1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS nf FROM corpus),
        |c2 AS (SELECT doc_id, nf, regexp_extract(nf, '^[^/]*://[^/?]*') AS pre FROM c1),
        |c3 AS (SELECT doc_id,
        |    regexp_replace(lower(pre), ':(80|443)$', '') AS pren,
        |    substr(nf, length(pre) + 1) AS rest FROM c2),
        |c4 AS (SELECT doc_id, pren,
        |    regexp_replace(regexp_extract(rest, '^[^?]*'), '/$', '') AS path,
        |    regexp_extract(rest, '^[^?]*\?(.*)', 1) AS q FROM c3),
        |c5 AS (SELECT doc_id, pren || path ||
        |    CASE WHEN qn = '' THEN '' ELSE '?' || qn END AS canonical_url FROM (
        |      SELECT doc_id, pren, path,
        |        array_to_string(list_sort(list_filter(string_split(q, '&'),
        |          p -> NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)=') AND p <> '')), '&') AS qn
        |      FROM c4))
        |SELECT canonical_url, min(doc_id) AS canonical_id, count(*) AS n_urls
        |FROM c5 GROUP BY 1 ORDER BY canonical_url""".stripMargin,

    "url_filter" ->
      """WITH u AS (
        |  SELECT doc_id, lang,
        |    'https://' || CASE WHEN doc_id % 2 = 0 THEN 'www' ELSE 'cdn' END || '.' ||
        |    ['example.com','badsite.io','shop.example.co.uk','spam-tracker.net','news.example.org'][(doc_id % 5 + 1)::INTEGER] ||
        |    '/p/' || doc_id::VARCHAR AS url
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang, url,
        |    string_split(string_split(regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1), '@')[-1], ':')[1] AS host
        |  FROM u),
        |r AS (
        |  SELECT doc_id, lang, url, host, string_split(host, '.') AS labels FROM h),
        |rd AS (
        |  SELECT doc_id, lang, url, host,
        |    CASE WHEN len(labels) >= 3 AND array_to_string(labels[len(labels)-1:], '.') IN
        |           ('co.uk','org.uk','ac.uk','gov.uk','co.jp','ne.jp','or.jp','com.au','net.au',
        |            'org.au','co.in','co.za','com.br','com.cn','com.mx','com.tr','co.kr','co.nz')
        |         THEN array_to_string(labels[len(labels)-2:], '.')
        |         ELSE array_to_string(labels[greatest(len(labels)-1, 1):], '.') END AS registered_domain
        |  FROM r)
        |SELECT doc_id, lang, url, host, registered_domain FROM rd
        |WHERE registered_domain NOT IN ('badsite.io', 'spam-tracker.net')
        |ORDER BY doc_id""".stripMargin,

    // per-domain quota over the same planted URLs: the one-window
    // row_number form — the engine's salted two-phase top-N must be
    // result-identical to it
    // C4/RefinedWeb line dedup: fixed 10-token lines, corpus-global
    // counts, per-doc reassembly fingerprint
    "dedup_lines" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |x AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
         |      FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
         |l AS MATERIALIZED (SELECT doc_id, (pos // 10)::INTEGER AS chunk_idx,
         |      string_agg(tok, ' ' ORDER BY pos) AS chunk_text FROM x GROUP BY 1, 2),
         |c AS (SELECT chunk_text, count(*)::BIGINT AS n FROM l GROUP BY 1)
         |SELECT doc_id, count(*)::BIGINT AS n_lines,
         |  sum(CASE WHEN n >= 3 THEN 1 ELSE 0 END)::BIGINT AS n_removed,
         |  md5(coalesce(string_agg(CASE WHEN n < 3 THEN chunk_text END, ' ' ORDER BY chunk_idx), '')) AS clean_fp
         |FROM l JOIN c USING (chunk_text)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // politeness schedule over the planted frontier: domain -> md5-coin
    // worker, per-domain serial 5s slots
    "crawl_schedule" ->
      s"""WITH u AS (
         |  SELECT doc_id,
         |    'https://' || CASE WHEN doc_id % 2 = 0 THEN 'www' ELSE 'cdn' END || '.' ||
         |    ['example.com','badsite.io','shop.example.co.uk','spam-tracker.net','news.example.org'][(doc_id % 5 + 1)::INTEGER] ||
         |    '/p/' || doc_id::VARCHAR AS url
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, string_split(string_split(regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1), '@')[-1], ':')[1] AS host
         |  FROM u),
         |r AS (SELECT doc_id, string_split(host, '.') AS labels FROM h),
         |rd AS (
         |  SELECT doc_id,
         |    CASE WHEN len(labels) >= 3 AND array_to_string(labels[len(labels)-1:], '.') IN
         |           ('co.uk','org.uk','ac.uk','gov.uk','co.jp','ne.jp','or.jp','com.au','net.au',
         |            'org.au','co.in','co.za','com.br','com.cn','com.mx','com.tr','co.kr','co.nz')
         |         THEN array_to_string(labels[len(labels)-2:], '.')
         |         ELSE array_to_string(labels[greatest(len(labels)-1, 1):], '.') END AS registered_domain
         |  FROM r)
         |SELECT doc_id, registered_domain,
         |  (${md24("registered_domain")}) % 4 AS worker,
         |  (row_number() OVER (PARTITION BY registered_domain ORDER BY doc_id) - 1) * 5 AS slot_seconds
         |FROM rd ORDER BY doc_id""".stripMargin,

    "url_domain_cap" ->
      """WITH u AS (
        |  SELECT doc_id, lang,
        |    'https://' || CASE WHEN doc_id % 2 = 0 THEN 'www' ELSE 'cdn' END || '.' ||
        |    ['example.com','badsite.io','shop.example.co.uk','spam-tracker.net','news.example.org'][(doc_id % 5 + 1)::INTEGER] ||
        |    '/p/' || doc_id::VARCHAR AS url
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang, url,
        |    string_split(string_split(regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1), '@')[-1], ':')[1] AS host
        |  FROM u),
        |r AS (
        |  SELECT doc_id, lang, url, string_split(host, '.') AS labels FROM h),
        |rd AS (
        |  SELECT doc_id, lang, url,
        |    CASE WHEN len(labels) >= 3 AND array_to_string(labels[len(labels)-1:], '.') IN
        |           ('co.uk','org.uk','ac.uk','gov.uk','co.jp','ne.jp','or.jp','com.au','net.au',
        |            'org.au','co.in','co.za','com.br','com.cn','com.mx','com.tr','co.kr','co.nz')
        |         THEN array_to_string(labels[len(labels)-2:], '.')
        |         ELSE array_to_string(labels[greatest(len(labels)-1, 1):], '.') END AS registered_domain
        |  FROM r),
        |c AS (
        |  SELECT *, row_number() OVER (PARTITION BY registered_domain ORDER BY doc_id)::INTEGER AS domain_rank
        |  FROM rd)
        |SELECT doc_id, lang, url, registered_domain, domain_rank FROM c
        |WHERE domain_rank <= 60 ORDER BY doc_id""".stripMargin,

    // per-gate survivor counts of the six-gate chain; every stage is
    // recomputed independently here, so a count can only match if the
    // engine's gate population is exactly right at that stage
    "curation_funnel" ->
      s"""WITH t AS MATERIALIZED (
        |  SELECT doc_id, lang, text, string_split_regex(lower(trim(text)), '\\s+') AS toks
        |  FROM documents WHERE doc_id % 10 <> 7),
        |p AS MATERIALIZED (SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS term FROM t),
        |c AS MATERIALIZED (SELECT term, count(*) AS cnt FROM p GROUP BY term),
        |kept AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 24),
        |s AS MATERIALIZED (SELECT sum(cnt)::BIGINT AS total FROM c),
        |tn AS MATERIALIZED (
        |  SELECT term, floor(-ln(cnt::DOUBLE / total::DOUBLE) * 1099511627776.0)::BIGINT AS fp
        |  FROM kept CROSS JOIN s),
        |nl AS (
        |  SELECT doc_id,
        |    ((sum(coalesce(tn.fp, (SELECT floor(-ln(0.5 / total::DOUBLE) * 1099511627776.0)::BIGINT FROM s)))::DOUBLE
        |      / 1099511627776.0) / any_value(n_tokens)::DOUBLE)::FLOAT AS nll_per_token
        |  FROM p LEFT JOIN tn USING (term) GROUP BY doc_id),
        |c2 AS (SELECT doc_id, count(*) AS c FROM (
        |    SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS g
        |    FROM t WHERE len(toks) >= 2) GROUP BY doc_id, g),
        |s2 AS (SELECT doc_id, sum(c) AS total, coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS dup FROM c2 GROUP BY doc_id),
        |sh AS MATERIALIZED (${shingleSelect(13)}),
        |probe AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 10 = 7),
        |contam AS (SELECT DISTINCT doc_id FROM
        |  (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 10 <> 7) cg JOIN probe USING (g)),
        |q1 AS MATERIALIZED (
        |  SELECT * FROM t
        |  WHERE len(toks) >= 10 AND len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE > 0.2
        |    AND length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(toks)::DOUBLE < 15.0),
        |q2 AS MATERIALIZED (
        |  SELECT q1.* FROM q1 JOIN s2 USING (doc_id) WHERE dup::DOUBLE / total::DOUBLE <= 0.1),
        |q3 AS MATERIALIZED (
        |  SELECT q2.doc_id, q2.lang, q2.text,
        |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS score,
        |    len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9]'))::INTEGER AS n_sel_tokens
        |  FROM q2 JOIN nl USING (doc_id) WHERE nll_per_token <= 5.5),
        |q4 AS MATERIALIZED (
        |  SELECT * FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS canon
        |    FROM q3) WHERE doc_id = canon),
        |q5 AS MATERIALIZED (SELECT * FROM q4 WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
        |q6 AS (
        |  SELECT * FROM (
        |    SELECT *, sum(n_sel_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id)::BIGINT AS cum_tokens
        |    FROM q5) WHERE cum_tokens <= 4000)
        |SELECT stage, n_docs FROM (
        |  SELECT '00_input' AS stage, count(*) AS n_docs FROM t
        |  UNION ALL SELECT '01_quality', count(*) FROM q1
        |  UNION ALL SELECT '02_repetition', count(*) FROM q2
        |  UNION ALL SELECT '03_perplexity', count(*) FROM q3
        |  UNION ALL SELECT '04_dedup', count(*) FROM q4
        |  UNION ALL SELECT '05_decontam', count(*) FROM q5
        |  UNION ALL SELECT '06_budget', count(*) FROM q6)
        |ORDER BY stage""".stripMargin,

    "pack_sequences" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9]'))::INTEGER AS n_seq_tokens
        |  FROM documents),
        |c AS (SELECT *,
        |  (sum(n_seq_tokens) OVER (PARTITION BY lang ORDER BY doc_id) - n_seq_tokens)::BIGINT AS start_offset
        |FROM b)
        |SELECT doc_id, lang, n_seq_tokens, start_offset,
        |  start_offset // 2048 AS seq_id,
        |  greatest(start_offset, start_offset + n_seq_tokens - 1) // 2048 AS end_seq_id
        |FROM c ORDER BY lang, doc_id""".stripMargin,

    // md5-coin importance sampling: first 6 md5 hex digits folded to an
    // integer (exact double division by 16^6), keep iff coin < weight
    // 90/5/5 by the md5 coin; the last arm is unconditional (float-sum
    // boundary safety), matching the Scala fold
    // Tukey fences on exact discrete per-lang quartiles of token count;
    // outliers only, with the fences and the violated side
    "quality_outliers" ->
      """WITH b AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS score
        |  FROM (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY lang ORDER BY score) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM b),
        |f AS (SELECT lang,
        |    max(CASE WHEN rn = (cnt * 2500 + 9999) // 10000 THEN score END) AS q1,
        |    max(CASE WHEN rn = (cnt * 7500 + 9999) // 10000 THEN score END) AS q3
        |  FROM r GROUP BY lang)
        |SELECT doc_id, lang, score, q1, q3,
        |  CASE WHEN score < q1 - 1.5 * (q3 - q1) THEN 'low'
        |       WHEN score > q3 + 1.5 * (q3 - q1) THEN 'high' END AS side
        |FROM b JOIN f USING (lang)
        |WHERE score < q1 - 1.5 * (q3 - q1)
        |   OR score > q3 + 1.5 * (q3 - q1)
        |ORDER BY doc_id""".stripMargin,

    // adaptive per-language admission at the exact discrete p75 (the
    // corpus_stats rank rule: value at row ceil(p*n), integer-exact)
    "quality_percentile_gate" ->
      """WITH b AS MATERIALIZED (
        |  SELECT doc_id, lang, len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS score
        |  FROM (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY lang ORDER BY score) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM b),
        |t AS (SELECT lang, max(CASE WHEN rn = (cnt * 7500 + 9999) // 10000 THEN score END) AS threshold_score
        |  FROM r GROUP BY lang)
        |SELECT doc_id, lang, score, threshold_score FROM b JOIN t USING (lang)
        |WHERE score >= threshold_score ORDER BY doc_id""".stripMargin,

    // embedding health: left-fold sum of squares (the dot discipline:
    // same element order in both engines, bit-identical doubles)
    "emb_norms" ->
      """SELECT vec_id, len(embedding)::INTEGER AS dim,
        |  sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) AS l2_norm,
        |  len(list_filter(embedding, x -> x = 0.0))::INTEGER AS n_zero,
        |  list_max(list_transform(embedding, x -> abs(x))) AS max_abs,
        |  (list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y) = 0.0) AS is_zero
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    // alpha-sampling at 0.3: probabilities at FLOAT (pow libm ulps +
    // the #strata-sized double denominator sum)
    "sample_temperature" ->
      """WITH a AS (
        |  SELECT lang, sum(len(string_split_regex(lower(trim(text)), '\s+')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY lang),
        |t AS (SELECT sum(n_tokens)::BIGINT AS tot, sum(pow(n_tokens::DOUBLE, 0.3)) AS powsum FROM a)
        |SELECT lang, n_tokens,
        |  (n_tokens::DOUBLE / tot::DOUBLE)::FLOAT AS p_raw,
        |  (pow(n_tokens::DOUBLE, 0.3) / powsum)::FLOAT AS p_alpha,
        |  ((pow(n_tokens::DOUBLE, 0.3) / powsum) / (n_tokens::DOUBLE / tot::DOUBLE))::FLOAT AS boost
        |FROM a CROSS JOIN t ORDER BY lang""".stripMargin,

    // DoReMi-lite reweighting: targets are exact binary fractions
    // summing to 1, so the (target/observed) division operates on
    // identical doubles in both engines; es absent -> weight 0
    "mixture_weights" ->
      """WITH a AS (
        |  SELECT lang, count(*)::INTEGER AS n_docs,
        |    sum(len(string_split_regex(lower(trim(text)), '\s+')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT sum(n_tokens)::BIGINT AS tot FROM a),
        |t AS (SELECT lang, tf::DOUBLE AS target_frac FROM (VALUES ('en', 0.5), ('ru', 0.25), ('de', 0.125), ('fr', 0.125)) AS v(lang, tf))
        |SELECT a.lang, n_docs, n_tokens,
        |  n_tokens::DOUBLE / tot::DOUBLE AS current_frac,
        |  coalesce(target_frac, 0.0) AS target_frac,
        |  CASE WHEN target_frac IS NULL THEN 0.0
        |       ELSE least(10.0, target_frac / (n_tokens::DOUBLE / tot::DOUBLE)) END AS weight
        |FROM a CROSS JOIN tot LEFT JOIN t USING (lang) ORDER BY lang""".stripMargin,

    // cross-split leakage: the dedup_simhash pair set x the split_assign
    // md5 coin — pairs whose members landed in different splits
    "split_leakage" ->
      s"""WITH ${simhashFp()},
         |sp AS (
         |  SELECT doc_id, CASE WHEN coin < 0.9 THEN 'train' WHEN coin < 0.95 THEN 'val' ELSE 'test' END AS split
         |  FROM (
         |    SELECT doc_id,
         |      list_reduce(list_transform(string_split(substr(md5(doc_id::VARCHAR), 1, 6), ''),
         |        c -> strpos('0123456789abcdef', c) - 1), (a, b) -> a * 16 + b)::DOUBLE
         |        / 16777216.0 AS coin
         |    FROM documents)),
         |pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, bit_count(xor(x.simhash, y.simhash))::INTEGER AS hamming
         |  FROM fp x JOIN fp y ON x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3)
         |SELECT a, b, sa.split AS split_a, sb.split AS split_b, hamming
         |FROM pairs JOIN sp sa ON sa.doc_id = a JOIN sp sb ON sb.doc_id = b
         |WHERE sa.split <> sb.split ORDER BY a, b""".stripMargin,

    "split_assign" ->
      """SELECT doc_id, lang,
        |  CASE WHEN coin < 0.9 THEN 'train' WHEN coin < 0.95 THEN 'val' ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, lang,
        |    list_reduce(list_transform(string_split(substr(md5(doc_id::VARCHAR), 1, 6), ''),
        |      c -> strpos('0123456789abcdef', c) - 1), (a, b) -> a * 16 + b)::DOUBLE
        |      / 16777216.0 AS coin
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "sample_weighted" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS weight,
        |    list_reduce(list_transform(string_split(substr(md5(doc_id::VARCHAR), 1, 6), ''),
        |      c -> strpos('0123456789abcdef', c) - 1), (a, b) -> a * 16 + b)::DOUBLE
        |      / 16777216.0 AS sample_coin
        |  FROM (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents))
        |SELECT doc_id, lang, weight, sample_coin FROM b
        |WHERE sample_coin < weight ORDER BY doc_id""".stripMargin,

    "sample_stratified" ->
      """SELECT doc_id, lang, sample_rank FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id)::INTEGER AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 20 ORDER BY lang, sample_rank""".stripMargin,

    // sliding 32-token window, stride 24: last chunk index is integer
    // ceil(max(0, n-32)/24); DuckDB list slices are 1-based inclusive
    // and clamp the tail exactly like Spark's slice(start, length)
    "text_chunks" ->
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |  CASE WHEN len(toks) <= 32 THEN 0 ELSE (len(toks) - 32 + 23) // 24 END AS last_idx FROM t),
        |e AS (SELECT doc_id, toks, unnest(range(0, last_idx + 1)) AS chunk_idx FROM c)
        |SELECT doc_id, chunk_idx::INTEGER AS chunk_idx,
        |  len(toks[(chunk_idx * 24 + 1) : (chunk_idx * 24 + 32)])::INTEGER AS n_chunk_tokens,
        |  array_to_string(toks[(chunk_idx * 24 + 1) : (chunk_idx * 24 + 32)], ' ') AS chunk_text
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    // tf·ln(N/df) on the 2^-40 fixed-point grid, ranked on the exact
    // integer (term asc tie-break), FLOAT output — the bm25 contract
    "text_keywords" ->
      """WITH t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM t),
        |sc AS (
        |  SELECT doc_id, term, tf,
        |    floor(tf::DOUBLE * ln(n_docs::DOUBLE / df::DOUBLE) * 1099511627776.0)::BIGINT AS score_fp
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, (score_fp::DOUBLE / 1099511627776.0)::FLOAT AS score, rank::INTEGER AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_fp DESC, term) AS rank FROM sc)
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    // scale = max|v|/127 in double; q = floor(v/scale + 0.5) — floor is
    // exact in both engines where round() half-cases are not. Embedding
    // dim is fixed 64 (the ann oracle convention)
    "emb_quantize" ->
      """WITH b AS (SELECT vec_id, embedding,
        |  list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale FROM embeddings)
        |SELECT vec_id, scale, i::INTEGER - 1 AS dim,
        |  CASE WHEN scale = 0 THEN 0 ELSE floor(embedding[i]::DOUBLE / scale + 0.5)::INTEGER END AS q
        |FROM b CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
        |ORDER BY vec_id, dim""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |  len(string_split_regex(lower(trim(text)), '\s+'))::INTEGER AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9]'))::INTEGER AS n_bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_image_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text))::INTEGER AS n_bytes,
        |  (64 + octet_length(encode(text)) % 1217)::INTEGER AS width,
        |  (64 + (octet_length(encode(text)) * 31) % 689)::INTEGER AS height,
        |  (['jpeg', 'png', 'webp'])[(octet_length(encode(text)) % 3) + 1] AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_frame_sample" ->
      """WITH b AS (SELECT doc_id, encode(text) AS p FROM documents WHERE n_chars >= 64),
        |s AS (SELECT doc_id, upper(hex(p)) AS h, floor((octet_length(p) - 8) / 3)::INTEGER AS st FROM b)
        |SELECT doc_id, i::INTEGER AS frame_idx, substr(h, (i * st * 2 + 1)::BIGINT, 16) AS frame_hex
        |FROM s, unnest([0, 1, 2, 3]) AS t(i)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // scene cuts: 8 frames, byte-sum intensity per frame (hex-domain
    // byte parse), lag delta > 40, running scene index
    "mm_scene_cuts" ->
      """WITH b AS (SELECT doc_id, encode(text) AS p FROM documents WHERE n_chars >= 64),
        |s AS (SELECT doc_id, upper(hex(p)) AS h, floor((octet_length(p) - 8) / 7)::INTEGER AS st
        |      FROM b WHERE octet_length(p) >= 8),
        |f AS (SELECT doc_id, i::INTEGER AS frame_idx, substr(h, (i * st * 2 + 1)::BIGINT, 16) AS fh
        |  FROM s, unnest(range(0, 8)) AS t(i)),
        |x AS (SELECT doc_id, frame_idx,
        |    list_sum(list_transform(range(0, 8), j ->
        |      list_reduce(list_transform(string_split(substr(fh, (j * 2 + 1)::BIGINT, 2), ''),
        |        ch -> strpos('0123456789ABCDEF', ch) - 1), (a, b2) -> a * 16 + b2)))::BIGINT AS intensity
        |  FROM f),
        |y AS (SELECT doc_id, frame_idx, intensity,
        |    lag(intensity) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev FROM x),
        |z AS (SELECT doc_id, frame_idx, intensity,
        |    (prev IS NOT NULL AND abs(intensity - prev) > 40) AS is_cut FROM y)
        |SELECT doc_id, frame_idx, intensity, is_cut,
        |  (sum(CASE WHEN is_cut THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::INTEGER AS scene_idx
        |FROM z ORDER BY doc_id, frame_idx""".stripMargin,

    // 8 kHz mono 16-bit PCM -> 64-byte windows every 32 bytes; hex-domain
    // slicing (2 chars/byte), md5 of the hex slice as the window digest
    "mm_audio_windows" ->
      """WITH b AS (SELECT doc_id, encode(text) AS p FROM documents),
        |s AS (SELECT doc_id, upper(hex(p)) AS h, octet_length(p)::BIGINT AS nb FROM b
        |      WHERE octet_length(p) >= 64),
        |w AS (SELECT doc_id, h, unnest(range(0, ((nb - 64) // 32) + 1)) AS wi FROM s)
        |SELECT doc_id, wi::INTEGER AS window_idx, (wi * 32)::BIGINT AS start_byte,
        |  64::INTEGER AS n_bytes, md5(substr(h, (wi * 64 + 1)::BIGINT, 128)) AS window_md5
        |FROM w ORDER BY doc_id, window_idx""".stripMargin,

    "mm_decode_batched" ->
      """SELECT doc_id AS id,
        |  octet_length(encode(text))::INTEGER AS "nBytes",
        |  'decoded:' || octet_length(encode(text))::VARCHAR || ':' || lower(substr(hex(encode(text)), 1, 8)) AS head
        |FROM documents ORDER BY id""".stripMargin,

    // discrete percentiles via the same rank-window definition (value at
    // row ceil(p*n) of the stratum's sorted lengths) — integer-exact, no
    // engine-specific quantile interpolation
    "corpus_stats" ->
      """WITH b AS MATERIALIZED (
        |  SELECT lang AS stratum,
        |    len(toks)::INTEGER AS n_ws_tokens,
        |    len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9]'))::INTEGER AS n_bpeish,
        |    length(text)::INTEGER AS n_chars_text,
        |    (len(toks) >= 10 AND len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE > 0.2
        |      AND length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE / len(toks)::DOUBLE < 15.0) AS is_quality
        |  FROM (SELECT lang, text, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY stratum ORDER BY n_ws_tokens) AS rn,
        |    count(*) OVER (PARTITION BY stratum) AS cnt
        |  FROM b)
        |SELECT stratum,
        |  count(*) AS n_docs,
        |  sum(n_bpeish)::BIGINT AS total_bpeish_tokens,
        |  sum(n_ws_tokens)::DOUBLE / count(*)::DOUBLE AS mean_ws_tokens,
        |  sum(n_chars_text)::DOUBLE / count(*)::DOUBLE AS mean_chars,
        |  sum(CASE WHEN is_quality THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE AS quality_frac,
        |  max(CASE WHEN rn = (cnt * 5000 + 9999) // 10000 THEN n_ws_tokens END) AS p50_ws_tokens,
        |  max(CASE WHEN rn = (cnt * 9000 + 9999) // 10000 THEN n_ws_tokens END) AS p90_ws_tokens
        |FROM r GROUP BY stratum ORDER BY stratum""".stripMargin,

    // unigram LM replayed exactly: same vocab cap + OOV floor, per-token
    // nll on the same 2^-40 fixed-point grid summed as BIGINT, FLOAT
    // output absorbing ulp-level ln() divergence
    "text_perplexity" ->
      """WITH t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |p AS MATERIALIZED (SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS term FROM t),
        |c AS MATERIALIZED (SELECT term, count(*) AS cnt FROM p GROUP BY term),
        |kept AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 24),
        |s AS MATERIALIZED (SELECT sum(cnt)::BIGINT AS total FROM c),
        |tn AS MATERIALIZED (
        |  SELECT term, floor(-ln(cnt::DOUBLE / total::DOUBLE) * 1099511627776.0)::BIGINT AS fp
        |  FROM kept CROSS JOIN s),
        |sc AS (
        |  SELECT doc_id, any_value(n_tokens) AS n_tokens,
        |    sum(coalesce(tn.fp, (SELECT floor(-ln(0.5 / total::DOUBLE) * 1099511627776.0)::BIGINT FROM s))) AS sfp
        |  FROM p LEFT JOIN tn USING (term) GROUP BY doc_id)
        |SELECT doc_id, n_tokens::INTEGER AS n_tokens,
        |  ((sfp::DOUBLE / 1099511627776.0) / n_tokens::DOUBLE)::FLOAT AS nll_per_token
        |FROM sc ORDER BY doc_id""".stripMargin,

    // stupid-backoff bigram LM: every position is a (context, target)
    // bigram with a <s> sentinel context at position 1; model = top-512
    // bigrams of the corpus itself, backoff = -ln(0.4 * p(target)); all
    // counts derive from ONE bigram aggregate (context counts = c2
    // grouped by w1, target counts by w2, total = all positions)
    // Kneser-Ney bigram: closed rational probabilities (discount 3/4,
    // continuation counts), one log per distinct bigram on the 2^-40
    // grid, integer doc sums
    "text_perplexity_kn" ->
      """WITH t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, CASE WHEN i = 1 THEN '<s>' ELSE toks[i - 1] END AS w1, toks[i] AS w2
        |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
        |c2 AS MATERIALIZED (SELECT w1, w2, count(*)::BIGINT AS c FROM bg GROUP BY w1, w2),
        |cv AS MATERIALIZED (SELECT w1, sum(c)::BIGINT AS cv, count(*)::BIGINT AS n1v FROM c2 GROUP BY w1),
        |nw AS MATERIALIZED (SELECT w2, count(*)::BIGINT AS n1w FROM c2 GROUP BY w2),
        |nd AS (SELECT count(*)::BIGINT AS ndd FROM c2),
        |fp AS MATERIALIZED (
        |  SELECT c2.w1, c2.w2,
        |    floor(-ln((greatest(4 * c - 3, 0) * ndd + 3 * n1v * n1w)::DOUBLE
        |              / (4 * cv * ndd)::DOUBLE) * 1099511627776.0)::BIGINT AS fp
        |  FROM c2 JOIN cv USING (w1) JOIN nw USING (w2) CROSS JOIN nd)
        |SELECT bg.doc_id, count(*)::INTEGER AS n_tokens,
        |  ((sum(fp)::DOUBLE / 1099511627776.0) / count(*)::DOUBLE)::FLOAT AS nll_per_token
        |FROM bg JOIN fp ON bg.w1 = fp.w1 AND bg.w2 = fp.w2
        |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin,

    // diagonal whitening: 64-row stats, IEEE-sqrt sigma floored on
    // both engines, per-vector z profile
    "emb_whiten" ->
      """WITH q AS MATERIALIZED (
        |  SELECT vec_id, d AS dim, floor(embedding[d + 1]::DOUBLE * 1048576.0)::BIGINT AS v
        |  FROM embeddings, unnest(range(0, 64)) AS t(d)),
        |st AS MATERIALIZED (SELECT dim,
        |    floor(sum(v)::DOUBLE / count(*)::DOUBLE)::BIGINT AS mu,
        |    greatest(1, floor(sqrt((count(*) * sum(v * v) - sum(v) * sum(v))::DOUBLE
        |                           / (count(*) * count(*))::DOUBLE))::BIGINT) AS sigma
        |  FROM q GROUP BY dim),
        |z AS (SELECT vec_id, floor(((v - mu) * 1024)::DOUBLE / sigma::DOUBLE)::BIGINT AS z
        |      FROM q JOIN st USING (dim))
        |SELECT vec_id, count(*)::INTEGER AS n_dims, sum(z)::BIGINT AS z_sum_q10,
        |  min(z)::BIGINT AS z_min_q10, max(z)::BIGINT AS z_max_q10
        |FROM z GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "text_perplexity2" ->
      """WITH t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, CASE WHEN i = 1 THEN '<s>' ELSE toks[i - 1] END AS w1, toks[i] AS w2
        |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
        |c2 AS MATERIALIZED (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
        |c1 AS MATERIALIZED (SELECT w1, sum(c) AS cc FROM c2 GROUP BY w1),
        |kept AS (SELECT w1, w2, c FROM c2 ORDER BY c DESC, w1, w2 LIMIT 512),
        |k2 AS MATERIALIZED (
        |  SELECT k.w1, k.w2, floor(-ln(k.c::DOUBLE / c1.cc::DOUBLE) * 1099511627776.0)::BIGINT AS fp2
        |  FROM kept k JOIN c1 USING (w1)),
        |tot AS MATERIALIZED (SELECT sum(c)::BIGINT AS t FROM c2),
        |bo AS MATERIALIZED (
        |  SELECT w2, floor(-ln(0.4 * sum(c)::DOUBLE / (SELECT t FROM tot)::DOUBLE) * 1099511627776.0)::BIGINT AS fpbo
        |  FROM c2 GROUP BY w2),
        |sc AS (
        |  SELECT bg.doc_id,
        |    count(*) AS n_tokens,
        |    sum(CASE WHEN k2.fp2 IS NULL THEN 1 ELSE 0 END) AS n_backoff,
        |    sum(coalesce(k2.fp2, bo.fpbo)) AS sfp
        |  FROM bg
        |  LEFT JOIN k2 ON bg.w1 = k2.w1 AND bg.w2 = k2.w2
        |  JOIN bo ON bg.w2 = bo.w2
        |  GROUP BY bg.doc_id)
        |SELECT doc_id, n_tokens::INTEGER AS n_tokens, n_backoff::INTEGER AS n_backoff,
        |  ((sfp::DOUBLE / 1099511627776.0) / n_tokens::DOUBLE)::FLOAT AS nll_per_token
        |FROM sc ORDER BY doc_id""".stripMargin,

    // counts from n-gram STRINGS where the kernel counts xxhash64 hashes:
    // values agree absent 64-bit collisions (the usual hashed-text
    // contract), so the hash compare also certifies collision-freeness
    "text_repetition" ->
      """WITH t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |c2 AS (SELECT doc_id, count(*) AS c FROM (
        |    SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS g
        |    FROM t WHERE len(toks) >= 2) GROUP BY doc_id, g),
        |s2 AS (SELECT doc_id, sum(c) AS total, max(c) AS top,
        |    coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS dup FROM c2 GROUP BY doc_id),
        |c3 AS (SELECT doc_id, count(*) AS c FROM (
        |    SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]) AS g
        |    FROM t WHERE len(toks) >= 3) GROUP BY doc_id, g),
        |s3 AS (SELECT doc_id, sum(c) AS total, max(c) AS top,
        |    coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS dup FROM c3 GROUP BY doc_id)
        |SELECT t.doc_id,
        |  s2.total::INTEGER AS n_2grams,
        |  s2.top::DOUBLE / s2.total::DOUBLE AS top_2gram_frac,
        |  s2.dup::DOUBLE / s2.total::DOUBLE AS dup_2gram_frac,
        |  s3.total::INTEGER AS n_3grams,
        |  s3.top::DOUBLE / s3.total::DOUBLE AS top_3gram_frac,
        |  s3.dup::DOUBLE / s3.total::DOUBLE AS dup_3gram_frac,
        |  1.0 - len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS dup_token_frac
        |FROM t LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // planted-PII construction mirrors LlmQueries.textPii exactly; the
    // patterns avoid every Java-vs-RE2 divergence (no lookaround /
    // backreferences, ASCII \b, greedy bounded quantifiers)
    "text_pii" ->
      """WITH p AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' reach user' || doc_id::VARCHAR || '@example.com or admin@test.org'
        |       WHEN doc_id % 3 = 1 THEN ' from host 10.0.' || (doc_id % 256)::VARCHAR || '.7'
        |       ELSE ' call +1555' || (doc_id % 10000 + 1000000)::VARCHAR END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INTEGER AS n_email,
        |  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::INTEGER AS n_ipv4,
        |  len(regexp_extract_all(t, '\+\d{7,15}\b'))::INTEGER AS n_phone,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{7,15}\b', '<PHONE>', 'g') AS redacted
        |FROM p ORDER BY doc_id""".stripMargin,

    // DuckDB md5 takes VARCHAR; payload = UTF-8(text), so hashing the
    // concatenated STRING hashes the same bytes the stub digests
    "mm_resize" ->
      """SELECT doc_id AS id,
        |  octet_length(encode(text))::INTEGER AS "srcBytes",
        |  64 AS width, 48 AS height,
        |  md5(text || '64x48') AS "resizedMd5"
        |FROM documents ORDER BY id""".stripMargin,

    "text_winnow" ->
      s"""WITH $winnowCtes
         |SELECT doc_id, any_value(n_kgrams) AS n_kgrams, count(*)::INTEGER AS n_fps,
         |  count(*)::DOUBLE / any_value(n_kgrams)::DOUBLE AS density
         |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_winnow" ->
      s"""WITH $winnowCtes,
         |fps AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM sel),
         |ok AS (SELECT fp FROM (SELECT fp, count(*) AS d FROM fps GROUP BY fp)
         |       WHERE d BETWEEN 2 AND 50),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::INTEGER AS n_shared
         |  FROM fps a JOIN ok USING (fp) JOIN fps b USING (fp)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_shared FROM p WHERE n_shared >= 2
         |ORDER BY doc_a, doc_b""".stripMargin,

    // quantile-normalized signal blend: percent_rank is (rank-1)/(n-1)
    // in both engines, and both signals are exact integer ratios, so
    // ranks and the blend compare exactly
    "quality_blend" ->
      s"""WITH $winnowCtes,
         |wd AS (SELECT doc_id, count(*)::DOUBLE / any_value(n_kgrams)::DOUBLE AS wdensity
         |       FROM sel GROUP BY doc_id),
         |b AS (SELECT doc_id, lang,
         |        len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS diversity
         |      FROM (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents)),
         |j AS (SELECT b.doc_id, lang, diversity, wdensity FROM b JOIN wd USING (doc_id)),
         |p AS (SELECT doc_id, lang, diversity, wdensity,
         |        percent_rank() OVER (PARTITION BY lang ORDER BY diversity) AS pr_diversity,
         |        percent_rank() OVER (PARTITION BY lang ORDER BY wdensity) AS pr_wdensity
         |      FROM j),
         |q AS (SELECT *, (pr_diversity + pr_wdensity) / 2.0 AS blend,
         |        row_number() OVER (PARTITION BY lang
         |          ORDER BY (pr_diversity + pr_wdensity) / 2.0 DESC, doc_id)::INTEGER AS rk
         |      FROM p)
         |SELECT doc_id, lang, diversity, wdensity, pr_diversity, pr_wdensity, blend, rk
         |FROM q WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,

    // winnow pair graph -> reachability closure (nested WITH RECURSIVE
    // so the outer MATERIALIZED CTEs stay materialized), min-id
    // canonical, singleton docs label themselves
    "dedup_winnow_clusters" ->
      s"""WITH $winnowCtes,
         |fps AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM sel),
         |ok AS (SELECT fp FROM (SELECT fp, count(*) AS d FROM fps GROUP BY fp)
         |       WHERE d BETWEEN 2 AND 50),
         |p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_shared
         |  FROM fps a JOIN ok USING (fp) JOIN fps b USING (fp)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |prs AS (SELECT a, b FROM p WHERE n_shared >= 2),
         |sym AS MATERIALIZED (SELECT a, b FROM prs UNION ALL SELECT b, a FROM prs),
         |comp AS (
         |  SELECT id, min(r) AS component FROM (
         |    WITH RECURSIVE reach(id, r) AS (
         |      SELECT doc_id, doc_id FROM documents
         |      UNION
         |      SELECT reach.id, sym.b FROM reach JOIN sym ON sym.a = reach.r)
         |    SELECT id, r FROM reach) GROUP BY id),
         |sz AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
         |SELECT comp.id AS doc_id, comp.component, sz.cluster_size,
         |  comp.id = comp.component AS is_canonical
         |FROM comp JOIN sz USING (component) ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split_regex(lower(trim(text)), '\s+'), x -> length(x)::BIGINT)), (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling
        |FROM documents ORDER BY doc_id""".stripMargin,

    // k-anonymity ladder (k=4 over lang×source): ONE pair-domain count,
    // coarser levels roll up from it; levels 0/1/2 = exact / source
    // suppressed / full suppression, set size measured vs the full
    // corpus at the released level
    "kanon_suppress" ->
      """WITH c0 AS (SELECT lang, source, count(*)::BIGINT AS c0 FROM documents GROUP BY 1, 2),
        |c1 AS (SELECT lang, sum(c0)::BIGINT AS c1 FROM c0 GROUP BY 1),
        |c2 AS (SELECT sum(c0)::BIGINT AS c2 FROM c0),
        |lv AS (
        |  SELECT d.doc_id, d.lang, d.source, c0.c0, c1.c1, c2.c2,
        |    CASE WHEN c0.c0 >= 4 THEN 0 WHEN c1.c1 >= 4 THEN 1 ELSE 2 END AS lvl
        |  FROM documents d
        |  JOIN c0 ON c0.lang = d.lang AND c0.source = d.source
        |  JOIN c1 ON c1.lang = d.lang, c2)
        |SELECT doc_id,
        |  CASE WHEN lvl = 2 THEN '*' ELSE lang END AS anon_q1,
        |  CASE WHEN lvl = 0 THEN source ELSE '*' END AS anon_q2,
        |  lvl::INTEGER AS anon_level,
        |  (CASE WHEN lvl = 0 THEN c0 WHEN lvl = 1 THEN c1 ELSE c2 END)::BIGINT AS anon_set_size
        |FROM lv ORDER BY doc_id""".stripMargin,

    // right-to-be-forgotten: tombstones = every 13th user; one left-join
    // flag pass into per-type before/deleted/after counts
    "deletion_audit" ->
      """WITH t AS (SELECT DISTINCT user_id FROM events WHERE user_id % 13 = 0)
        |SELECT event_type,
        |  count(*)::BIGINT AS n_before,
        |  sum(CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_deleted,
        |  (count(*) - sum(CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END))::BIGINT AS n_after
        |FROM events e LEFT JOIN t ON e.user_id = t.user_id
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // ε-DP Laplace counts (ε=1): u derived from md24('dp:'||lang)
    // centered into (−½, ½), noise −sign(u)·ln(1−2|u|) floored to the
    // 2^-40 grid — the reproducible-noise discipline of select_dsir
    "dp_counts" ->
      s"""WITH g AS (SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY 1),
         |u AS (SELECT lang, n,
         |        ((${md24("'dp:' || lang")})::DOUBLE + 0.5) / 16777216.0 - 0.5 AS u FROM g)
         |SELECT lang, n,
         |  floor(-1.0 * sign(u) * ln(1.0 - 2.0 * abs(u)) * 1099511627776.0)::BIGINT AS noise_fp,
         |  (n::DOUBLE
         |   + floor(-1.0 * sign(u) * ln(1.0 - 2.0 * abs(u)) * 1099511627776.0)::DOUBLE
         |     / 1099511627776.0)::FLOAT AS n_noisy
         |FROM u ORDER BY lang""".stripMargin,

    // blocked record linkage: block on the head noun (last token), pairs
    // within block by partkey order, Levenshtein ≤ 3, rolled up to
    // distinct name pairs (dist symmetric, so canonical order keeps it)
    "fuzzy_match" ->
      """WITH p AS (
        |  SELECT p_partkey AS id, p_name AS name,
        |    list_extract(string_split_regex(lower(trim(p_name)), '\s+'), -1) AS blk
        |  FROM part)
        |SELECT least(a.name, b.name) AS name_a, greatest(a.name, b.name) AS name_b,
        |  levenshtein(a.name, b.name)::INTEGER AS dist, count(*)::BIGINT AS n_pairs
        |FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
        |WHERE levenshtein(a.name, b.name) <= 3
        |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin,

    // content-defined chunking (divisor 16): boundary AFTER tokens with
    // md24 ≡ 0 (mod 16); chunk id = boundaries strictly before the
    // position; chunk fingerprints are md24 of the reassembled text and
    // n_docs_sharing counts distinct docs per fingerprint
    "chunk_cdc" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |x AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
         |      FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
         |f AS (SELECT doc_id, pos, tok,
         |        CASE WHEN (${md24("tok")}) % 16 = 0 THEN 1 ELSE 0 END AS cut FROM x),
         |c AS (SELECT doc_id, pos, tok,
         |        coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::INTEGER AS chunk_idx
         |      FROM f),
         |g AS (SELECT doc_id, chunk_idx, min(pos)::INTEGER AS start_pos,
         |        count(*)::INTEGER AS n_chunk_tokens,
         |        string_agg(tok, ' ' ORDER BY pos) AS ctext
         |      FROM c GROUP BY 1, 2),
         |h AS MATERIALIZED (SELECT doc_id, chunk_idx, start_pos, n_chunk_tokens,
         |        (${md24("ctext")}) AS chunk_fp FROM g),
         |sh AS (SELECT chunk_fp, count(DISTINCT doc_id)::INTEGER AS n_docs_sharing
         |       FROM h GROUP BY 1)
         |SELECT doc_id, chunk_idx, start_pos, n_chunk_tokens, h.chunk_fp, n_docs_sharing
         |FROM h JOIN sh USING (chunk_fp) ORDER BY doc_id, chunk_idx""".stripMargin,

    // orthant-cell coverage (12 sign dims): integer fold acc·2+bit over
    // the first 12 components, entropy via ln n − Σ c·ln c / n (the
    // text_entropy identity), FLOAT on the order-sensitive double sums
    "emb_coverage" ->
      """WITH cells AS (
        |  SELECT label,
        |    list_reduce(list_transform(embedding[1:12],
        |      x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END), (a, b) -> a * 2 + b)::BIGINT AS cell
        |  FROM embeddings),
        |c AS (SELECT label, cell, count(*)::BIGINT AS c FROM cells GROUP BY 1, 2),
        |a AS (SELECT label, sum(c)::BIGINT AS n_vecs, count(*)::INTEGER AS n_cells,
        |        sum(c::DOUBLE * ln(c::DOUBLE)) AS h FROM c GROUP BY 1)
        |SELECT label, n_vecs, n_cells,
        |  ((ln(n_vecs::DOUBLE) - h / n_vecs::DOUBLE) / ln(2.0))::FLOAT AS cell_entropy,
        |  (CASE WHEN least(n_vecs, 4096) > 1
        |        THEN (ln(n_vecs::DOUBLE) - h / n_vecs::DOUBLE) / ln(least(n_vecs, 4096)::DOUBLE)
        |        ELSE 0.0 END)::FLOAT AS norm_cell_entropy
        |FROM a ORDER BY label""".stripMargin,

    // OOV audit vs the exact top-24 corpus vocabulary (count desc, term
    // asc ties); per-source token totals from the (source, term) counts
    "vocab_oov" ->
      """WITH gt AS (
        |  SELECT source AS g, term, count(*)::BIGINT AS c
        |  FROM (SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |tc AS (SELECT term, sum(c)::BIGINT AS tc FROM gt GROUP BY 1),
        |v AS (SELECT term FROM (
        |        SELECT term, row_number() OVER (ORDER BY tc DESC, term) AS r FROM tc)
        |      WHERE r <= 24)
        |SELECT g AS source, sum(c)::BIGINT AS n_tokens,
        |  sum(CASE WHEN v.term IS NULL THEN c ELSE 0 END)::BIGINT AS n_oov,
        |  (sum(CASE WHEN v.term IS NULL THEN c ELSE 0 END)::DOUBLE
        |    / sum(c)::DOUBLE)::FLOAT AS oov_rate
        |FROM gt LEFT JOIN v ON gt.term = v.term
        |GROUP BY g ORDER BY g""".stripMargin,

    // stitched-doc detection: planted twins (id+100000) whose text
    // starts with the origin's 10-token tail; pairs join tail = head
    "dedup_stitch" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |planted AS (
         |  SELECT doc_id + 100000 AS doc_id,
         |    array_to_string(string_split_regex(lower(trim(text)), '\\s+')[-10:], ' ')
         |      || ' continuation payload of the stitched crawl page' AS text
         |  FROM base WHERE doc_id % 25 = 0),
         |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
         |t AS MATERIALIZED (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM corpus),
         |ok AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 10),
         |tails AS (SELECT doc_id AS doc_a, array_to_string(toks[-10:], ' ') AS b FROM ok),
         |heads AS (SELECT doc_id AS doc_b, array_to_string(toks[1:10], ' ') AS b FROM ok)
         |SELECT doc_a, doc_b, (${md24("b")}) AS boundary_fp
         |FROM tails JOIN heads USING (b)
         |WHERE doc_a <> doc_b ORDER BY doc_a, doc_b""".stripMargin,

    // padding-waste audit (batch 32): arrival vs length-sorted assembly;
    // per-batch max·count − sum, integer-exact, one final division
    "pack_efficiency" ->
      """WITH d AS (
        |  SELECT doc_id AS id,
        |    len(string_split_regex(lower(trim(text)), '\s+'))::BIGINT AS l
        |  FROM documents),
        |arr AS (SELECT l, (row_number() OVER (ORDER BY id) - 1) // 32 AS b FROM d),
        |srt AS (SELECT l, (row_number() OVER (ORDER BY l DESC, id) - 1) // 32 AS b FROM d),
        |pa AS (SELECT b, count(*) AS n, max(l) AS mx, sum(l) AS s FROM arr GROUP BY b),
        |ps AS (SELECT b, count(*) AS n, max(l) AS mx, sum(l) AS s FROM srt GROUP BY b),
        |ra AS (SELECT 'arrival' AS strategy, count(*)::BIGINT AS n_batches,
        |         sum(s)::BIGINT AS total_tokens, sum(mx * n - s)::BIGINT AS padded_cells FROM pa),
        |rs AS (SELECT 'sorted' AS strategy, count(*)::BIGINT AS n_batches,
        |         sum(s)::BIGINT AS total_tokens, sum(mx * n - s)::BIGINT AS padded_cells FROM ps)
        |SELECT strategy, n_batches, total_tokens, padded_cells,
        |  padded_cells::DOUBLE / (padded_cells + total_tokens)::DOUBLE AS waste_frac
        |FROM (SELECT * FROM ra UNION ALL SELECT * FROM rs) ORDER BY strategy""".stripMargin,

    // ROLLUP star query: revenue at every level of region→nation→segment
    // from one pass; DECIMAL sums; rollup NULLs label 'ALL'
    "sales_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        |  coalesce(c_mktsegment, 'ALL') AS segment,
        |  count(*)::BIGINT AS n_items,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))::DOUBLE AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name, c_mktsegment)
        |ORDER BY region, nation, segment""".stripMargin,

    // data-echo epoch plan: all arithmetic on the 2^-10 integer grid
    // with the engine's division order; 400% budget pushes zh/de/fr
    // past the 4-epoch cap, en/es stay under
    "mixture_epochs" ->
      """WITH per AS (SELECT lang AS stratum, sum(n_chars)::BIGINT AS n_tokens FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n_tokens)::BIGINT AS total_tokens FROM per),
        |x AS (SELECT stratum, n_tokens,
        |    (CASE stratum WHEN 'en' THEN 40 WHEN 'zh' THEN 20 WHEN 'de' THEN 15
        |                  WHEN 'fr' THEN 15 WHEN 'es' THEN 10 ELSE 0 END)::BIGINT AS weight_pct,
        |    ((total_tokens * 400) // 100)::BIGINT AS budget
        |  FROM per, tot),
        |y AS (SELECT stratum, n_tokens, weight_pct,
        |    ((budget * weight_pct) // 100)::BIGINT AS target_tokens FROM x),
        |z AS (SELECT stratum, n_tokens, weight_pct, target_tokens,
        |    least(4096, (target_tokens * 1024) // n_tokens)::BIGINT AS repeat_q10 FROM y)
        |SELECT stratum, n_tokens, weight_pct, target_tokens, repeat_q10,
        |  ((repeat_q10 + 1023) // 1024)::INTEGER AS epochs,
        |  ((n_tokens * repeat_q10) // 1024)::BIGINT AS planned_tokens,
        |  repeat_q10 = 4096 AS capped
        |FROM z ORDER BY stratum""".stripMargin,

    "sales_cube" ->
      """SELECT coalesce(r_name, 'ALL') AS region,
        |  coalesce(c_mktsegment, 'ALL') AS segment,
        |  count(*)::BIGINT AS n_items,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))::DOUBLE AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE(r_name, c_mktsegment)
        |ORDER BY region, segment""".stripMargin,

    // Poisson bootstrap (32 replicas): hash-derived Poisson(1) weights
    // via inverse CDF against hard-coded cumulative literals; replica
    // means exact integer sums, cross-replica summary FLOAT
    "bootstrap_ci" ->
      s"""WITH x AS (
         |  SELECT doc_id, n_chars::BIGINT AS v, i AS r
         |  FROM documents, unnest(range(0, 32)) AS t(i)),
         |uw AS (
         |  SELECT r, v,
         |    ((${md24("'boot:' || doc_id || ':' || r")})::DOUBLE + 0.5) / 16777216.0 AS u
         |  FROM x),
         |w AS (
         |  SELECT r, v,
         |    (CASE WHEN u < 0.36787944117144233 THEN 0
         |          WHEN u < 0.7357588823428847 THEN 1
         |          WHEN u < 0.9196986029286058 THEN 2
         |          WHEN u < 0.9810118431238462 THEN 3
         |          WHEN u < 0.9963401531726563 THEN 4
         |          ELSE 5 END)::BIGINT AS w
         |  FROM uw),
         |p AS (
         |  SELECT r::INTEGER AS replica, sum(w)::BIGINT AS n_eff,
         |    sum(w * v)::DOUBLE / sum(w)::DOUBLE AS mean
         |  FROM w GROUP BY r),
         |s AS (
         |  SELECT (sum(mean) / 32.0)::FLOAT AS boot_mean,
         |    sqrt(greatest((sum(mean * mean) - sum(mean) * sum(mean) / 32.0) / 31.0, 0.0))::FLOAT AS boot_std
         |  FROM p)
         |SELECT replica, n_eff, mean, boot_mean, boot_std
         |FROM p, s ORDER BY replica""".stripMargin,

    // blob dedup per stub format: md5 of the UTF-8 payload (the text's
    // own bytes), every 20th doc's payload planted twice
    "mm_dedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |planted AS (SELECT doc_id + 100000 AS doc_id, text FROM base WHERE doc_id % 20 = 0),
        |allb AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
        |f AS (
        |  SELECT (['jpeg', 'png', 'webp'])[(octet_length(encode(text)) % 3) + 1] AS format,
        |    md5(text) AS fp
        |  FROM allb),
        |c AS (SELECT format, fp, count(*)::BIGINT AS c FROM f GROUP BY 1, 2)
        |SELECT format, sum(c)::BIGINT AS n_blobs, count(*)::BIGINT AS n_distinct,
        |  sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_groups,
        |  sum(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS n_dup_copies
        |FROM c GROUP BY format ORDER BY format""".stripMargin,

    // T5 span corruption: hash-chosen masks (md24 % 3), masked runs
    // via the islands trick, sentinel input + span-listing target —
    // every piece replayed string-for-string
    "t5_spans" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |x AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
         |      FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
         |m AS (SELECT doc_id, pos, tok,
         |        (${md24("'mask:' || doc_id || ':' || pos")}) % 3 = 0 AS mk FROM x),
         |g AS MATERIALIZED (SELECT doc_id, pos, tok, mk,
         |        CASE WHEN mk THEN pos - row_number() OVER (PARTITION BY doc_id, mk ORDER BY pos) END AS grp
         |      FROM m),
         |sp AS (SELECT doc_id, grp, min(pos) AS sp_start FROM g WHERE mk GROUP BY 1, 2),
         |ki AS (SELECT doc_id, grp,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY sp_start) - 1 AS k FROM sp),
         |p AS MATERIALIZED (
         |  SELECT g.doc_id, g.pos, g.tok, g.mk, ki.k,
         |    CASE WHEN NOT mk THEN tok
         |         WHEN row_number() OVER (PARTITION BY g.doc_id, g.grp ORDER BY g.pos) = 1
         |           THEN '<extra_id_' || ki.k || '>' END AS in_piece
         |  FROM g LEFT JOIN ki ON ki.doc_id = g.doc_id AND ki.grp = g.grp),
         |inp AS (SELECT doc_id, count(*)::INTEGER AS n_tokens,
         |          string_agg(in_piece, ' ' ORDER BY pos) FILTER (WHERE in_piece IS NOT NULL) AS input_text
         |        FROM p GROUP BY 1),
         |tg1 AS (SELECT doc_id, k, string_agg(tok, ' ' ORDER BY pos) AS span_text
         |        FROM p WHERE mk GROUP BY 1, 2),
         |tg AS (SELECT doc_id, count(*)::INTEGER AS n_spans,
         |         string_agg('<extra_id_' || k || '> ' || span_text, ' ' ORDER BY k) AS target_text
         |       FROM tg1 GROUP BY 1)
         |SELECT i.doc_id, n_tokens, coalesce(n_spans, 0)::INTEGER AS n_spans, input_text,
         |  coalesce(target_text, '') AS target_text
         |FROM inp i LEFT JOIN tg ON tg.doc_id = i.doc_id ORDER BY i.doc_id""".stripMargin,

    // Heaps growth curve: global token index = per-doc offset + pos
    // (one doc-count window, never a token sort); firsts are one
    // aggregate; the curve a 10x explode over vocabulary rows
    "vocab_growth" ->
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |l AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM t),
        |o AS (SELECT doc_id, toks,
        |        coalesce(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |      FROM l),
        |x AS MATERIALIZED (SELECT off + i - 1 AS gi, toks[i] AS term
        |      FROM o, unnest(range(1, len(toks) + 1)) AS u(i)),
        |f AS (SELECT term, min(gi) AS first FROM x GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS total FROM x)
        |SELECT decile::INTEGER AS decile,
        |  max((total * decile) // 10)::BIGINT AS n_tokens_cum,
        |  count(*)::BIGINT AS n_distinct_terms
        |FROM f, tot, unnest(range(1, 11)) AS d(decile)
        |WHERE first < (total * decile) // 10
        |GROUP BY decile ORDER BY decile""".stripMargin,

    // closed-form census of the planted ragged JSON: amount double on
    // every event, uid long on every 2nd, label string on every 3rd,
    // flag bool on every 5th — the oracle knows the generator, so no
    // double re-rendering ever crosses engines
    "json_profile" ->
      """SELECT * FROM (
        |  SELECT 'amount' AS key, count(*)::BIGINT AS n_present, 0::BIGINT AS n_bool,
        |    0::BIGINT AS n_long, count(*)::BIGINT AS n_double, 0::BIGINT AS n_string
        |  FROM events
        |  UNION ALL
        |  SELECT 'flag', count(*)::BIGINT, count(*)::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT
        |  FROM events WHERE event_id % 5 = 0
        |  UNION ALL
        |  SELECT 'label', count(*)::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT, count(*)::BIGINT
        |  FROM events WHERE event_id % 3 = 0
        |  UNION ALL
        |  SELECT 'uid', count(*)::BIGINT, 0::BIGINT, count(*)::BIGINT, 0::BIGINT, 0::BIGINT
        |  FROM events WHERE event_id % 2 = 0)
        |ORDER BY key""".stripMargin,

    // set algebra over content fingerprints between snapshot halves
    "set_ops" ->
      """WITH d AS (SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents),
        |a AS (SELECT fp FROM d WHERE doc_id % 2 = 0),
        |b AS (SELECT fp FROM d WHERE doc_id % 2 = 1)
        |SELECT * FROM (
        |  SELECT 'both' AS side, fp FROM (SELECT fp FROM a INTERSECT SELECT fp FROM b)
        |  UNION ALL
        |  SELECT 'only_even' AS side, fp FROM (SELECT fp FROM a EXCEPT SELECT fp FROM b))
        |ORDER BY side, fp""".stripMargin,

    // ntile(10) per event type (value, event_id order) with per-decile
    // count/min/max; both engines place the larger buckets first
    "value_deciles" ->
      """WITH t AS (
        |  SELECT event_type, value,
        |    ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile
        |  FROM events)
        |SELECT event_type, decile::INTEGER AS decile, count(*)::BIGINT AS n,
        |  min(value) AS lo, max(value) AS hi
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // hourly grid per user over the purchase stream, last observation
    // per bucket (ts desc, event_id desc), forward-filled via
    // last_value IGNORE NULLS over the grid
    "resample_ffill" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS b,
        |    value, CAST(ts AS TIMESTAMP) AS ts, event_id
        |  FROM events WHERE event_type = 'purchase'),
        |obs AS (
        |  SELECT user_id, b, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, b ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM e) WHERE rn = 1),
        |rng AS (SELECT user_id, min(b) AS b0, max(b) AS b1 FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS b FROM rng),
        |j AS (SELECT g.user_id, g.b, o.value AS v
        |      FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.b = g.b)
        |SELECT user_id, make_timestamp(b * 3600000000) AS bucket_ts,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |  v IS NULL AS is_gap
        |FROM j ORDER BY user_id, bucket_ts""".stripMargin,

    // SCD1 merge: per-key latest change wins (upsert replaces, delete
    // drops, untouched snapshot rows keep), with the action audit
    "cdc_merge" ->
      """WITH snap AS (
        |  SELECT user_id, value FROM (
        |    SELECT user_id, value,
        |      row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |    FROM events WHERE user_id % 4 <> 3) WHERE rn = 1),
        |ch AS (
        |  SELECT user_id,
        |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events WHERE user_id % 2 = 1),
        |latest AS (SELECT user_id, op, value FROM ch WHERE rn = 1),
        |m AS (
        |  SELECT coalesce(s.user_id, l.user_id) AS user_id,
        |    s.user_id IS NOT NULL AS in_snap, l.op, s.value AS sv, l.value AS cv
        |  FROM snap s FULL OUTER JOIN latest l ON s.user_id = l.user_id)
        |SELECT user_id,
        |  CASE WHEN op = 'upsert' THEN cv ELSE sv END AS value,
        |  CASE WHEN op IS NULL THEN 'kept' WHEN in_snap THEN 'updated'
        |       ELSE 'inserted' END AS merge_action
        |FROM m WHERE op IS NULL OR op <> 'delete' ORDER BY user_id""".stripMargin,

    // point-in-interval: error events open 1-hour windows, same-user
    // purchases attribute in; the oracle writes the containment join
    // directly (DuckDB plans the inequality natively)
    "interval_join" ->
      """WITH inc AS (
        |  SELECT user_id, event_id AS incident_id, CAST(ts AS TIMESTAMP) AS ws,
        |    CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS we
        |  FROM events WHERE event_type = 'error'),
        |pur AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, event_id, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT incident_id,
        |  count(*)::BIGINT AS n_purchases,
        |  min(event_id) AS first_purchase_id,
        |  max(event_id) AS last_purchase_id,
        |  sum(CAST(value AS DECIMAL(18,4)))::DOUBLE AS total_value
        |FROM inc JOIN pur USING (user_id)
        |WHERE pts >= ws AND pts < we
        |GROUP BY incident_id ORDER BY incident_id""".stripMargin,

    // Markov transitions with the START sentinel; row-normalized exact
    // long divisions
    "event_markov" ->
      """WITH t AS (
        |  SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |           'START') AS from_type,
        |    event_type AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM t GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(n)::BIGINT AS tot FROM c GROUP BY 1)
        |SELECT from_type, to_type, n, n::DOUBLE / tot::DOUBLE AS p
        |FROM c JOIN tot USING (from_type) ORDER BY from_type, to_type""".stripMargin,

    // degree-oriented triangle count over the pagerank edge set: each
    // triangle survives as ONE wedge at its (deg, node)-minimum apex
    "graph_triangles" ->
      """WITH ev AS (SELECT user_id, ts, event_id,
        |    json_extract_string(props, '$.k')::BIGINT AS k FROM events),
        |e0 AS (SELECT src, dst FROM (
        |    SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src, k AS dst FROM ev)
        |  WHERE src IS NOT NULL AND dst IS NOT NULL),
        |raw AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM e0 WHERE src <> dst),
        |deg AS MATERIALIZED (
        |  SELECT node, count(*)::BIGINT AS deg FROM (
        |    SELECT u AS node FROM raw UNION ALL SELECT v AS node FROM raw) GROUP BY 1),
        |o AS MATERIALIZED (
        |  SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS lo,
        |         CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS hi
        |  FROM (SELECT u, v, d1.deg AS du, d2.deg AS dv
        |        FROM raw JOIN deg d1 ON d1.node = u JOIN deg d2 ON d2.node = v)),
        |w AS (SELECT a.lo, a.hi AS b, c.hi AS c
        |      FROM o a JOIN o c ON a.lo = c.lo WHERE a.hi < c.hi),
        |tri AS (SELECT count(*)::BIGINT AS n_triangles FROM w
        |        JOIN o ON (w.b = o.lo AND w.c = o.hi) OR (w.c = o.lo AND w.b = o.hi))
        |SELECT (SELECT count(*)::BIGINT FROM deg) AS n_nodes,
        |  (SELECT count(*)::BIGINT FROM raw) AS n_edges,
        |  n_triangles,
        |  (SELECT max(deg)::BIGINT FROM deg) AS max_degree
        |FROM tri""".stripMargin,

    // unpivot: wide per-source stats folded to (source, metric, value)
    "metrics_unpivot" ->
      """WITH wide AS (
        |  SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars,
        |    count(DISTINCT lang)::BIGINT AS n_langs
        |  FROM documents GROUP BY source)
        |SELECT source, metric, value FROM (
        |  SELECT source, 'n_docs' AS metric, n_docs AS value FROM wide
        |  UNION ALL SELECT source, 'total_chars', total_chars FROM wide
        |  UNION ALL SELECT source, 'n_langs', n_langs FROM wide)
        |ORDER BY source, metric""".stripMargin,

    // per-lang p05/p95 winsorization: discrete order statistics at rank
    // ceil(p·n) in basis-points integer arithmetic, values clamped in
    "quality_winsorize" ->
      """WITH v AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM documents),
        |band AS (
        |  SELECT lang,
        |    max(CASE WHEN rn = greatest(1, (cnt * 500 + 9999) // 10000) THEN n_chars END) AS p_lo,
        |    max(CASE WHEN rn = greatest(1, (cnt * 9500 + 9999) // 10000) THEN n_chars END) AS p_hi
        |  FROM v GROUP BY lang)
        |SELECT doc_id, d.lang, n_chars, p_lo, p_hi,
        |  least(greatest(n_chars, p_lo), p_hi) AS winsorized,
        |  least(greatest(n_chars, p_lo), p_hi) <> n_chars AS is_clamped
        |FROM documents d JOIN band ON band.lang = d.lang
        |ORDER BY doc_id""".stripMargin,

    // pivot: per-user event-type count matrix, absent combos 0
    "event_pivot" ->
      """SELECT user_id,
        |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
        |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
        |  sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
        |  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // HITS: three full rounds of the mutual-reinforcement recurrence
    // unrolled, every integer renormalization replayed
    "graph_hits" -> hitsOracleSql(3),

    // incremental rollup maintenance: the oracle recomputes the daily
    // rollup from ALL raw events in one pass; the engine merges a
    // stored base aggregate with the new days' delta aggregate
    "rollup_incremental" ->
      """SELECT event_type, day, cnt, sum_vfp, min_vfp, max_vfp,
        |  (sum_vfp::DOUBLE / 1048576.0 / cnt::DOUBLE) AS mean_value
        |FROM (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS cnt,
        |    sum(floor(value * 1048576.0)::BIGINT)::BIGINT AS sum_vfp,
        |    min(floor(value * 1048576.0)::BIGINT)::BIGINT AS min_vfp,
        |    max(floor(value * 1048576.0)::BIGINT)::BIGINT AS max_vfp
        |  FROM events GROUP BY 1, 2)
        |ORDER BY event_type, day""".stripMargin,

    // TPC-H Q18: large-volume orders (total lineitem quantity > 300)
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |  o_orderdate::DATE AS order_date, o_totalprice, total_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    // dictionary tagging: the 13-term lexicon as a VALUES table
    "keyword_tag" ->
      """WITH lex(term, category) AS (VALUES
        |    ('spark', 'engine'), ('stream', 'engine'), ('batch', 'engine'),
        |    ('hash', 'compute'), ('merge', 'compute'), ('sort', 'compute'),
        |    ('join', 'compute'), ('filter', 'compute'), ('scan', 'compute'),
        |    ('table', 'storage'), ('row', 'storage'), ('column', 'storage'),
        |    ('vector', 'storage')),
        |tk AS (SELECT doc_id, lang,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents)
        |SELECT lang, category,
        |  count(DISTINCT doc_id)::BIGINT AS docs_hit,
        |  count(*)::BIGINT AS total_hits,
        |  count(DISTINCT term)::BIGINT AS n_terms
        |FROM tk JOIN lex USING (term)
        |GROUP BY lang, category ORDER BY lang, category""".stripMargin,

    // per-node link reciprocity: distinct directed edges self-joined on
    // the reversed pair
    "graph_reciprocity" ->
      """WITH ev AS (SELECT user_id, ts, event_id, json_extract_string(props, '$.k')::BIGINT AS k FROM events),
        |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        |    SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src, k AS dst FROM ev)
        |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)
        |SELECT e.src AS node, count(*)::BIGINT AS out_edges,
        |  sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS reciprocated,
        |  ((sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) * 1048576)
        |    // count(*))::BIGINT AS recip_fp,
        |  (sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE) AS reciprocity
        |FROM e LEFT JOIN e r ON e.src = r.dst AND e.dst = r.src
        |GROUP BY e.src ORDER BY node""".stripMargin,

    // two-sample KS per event type: exact integer ECDF-gap max over the
    // merged 2^20-grid support, Smirnov alpha=0.05 alert
    "quality_ks" ->
      """WITH r AS (SELECT event_type, floor(value * 1048576.0)::BIGINT AS v
        |    FROM events WHERE event_id % 2 = 0),
        |c AS (SELECT event_type,
        |    floor((CASE WHEN event_type = 'error' THEN value * 1.5 ELSE value END)
        |      * 1048576.0)::BIGINT AS v
        |  FROM events WHERE event_id % 2 = 1),
        |per AS (SELECT event_type, v, sum(dr)::BIGINT AS dr, sum(dc)::BIGINT AS dc FROM (
        |    SELECT event_type, v, 1 AS dr, 0 AS dc FROM r
        |    UNION ALL SELECT event_type, v, 0, 1 FROM c)
        |  GROUP BY 1, 2),
        |cum AS (SELECT event_type, v,
        |    sum(dr) OVER (PARTITION BY event_type ORDER BY v) AS cr,
        |    sum(dc) OVER (PARTITION BY event_type ORDER BY v) AS cc FROM per),
        |tot AS (SELECT event_type, sum(dr)::BIGINT AS n_ref, sum(dc)::BIGINT AS n_cur
        |  FROM per GROUP BY 1),
        |d AS (SELECT cum.event_type, n_ref, n_cur,
        |    max(abs(cr * n_cur - cc * n_ref))::BIGINT AS d_num
        |  FROM cum JOIN tot ON cum.event_type = tot.event_type GROUP BY 1, 2, 3)
        |SELECT event_type, n_ref, n_cur, d_num,
        |  ((d_num * 1048576) // (n_ref * n_cur))::BIGINT AS d_fp,
        |  (d_num::DOUBLE / (n_ref * n_cur)::DOUBLE) AS d,
        |  (d_num::DOUBLE / (n_ref * n_cur)::DOUBLE)
        |    > 1.358 * sqrt((n_ref + n_cur)::DOUBLE / (n_ref * n_cur)::DOUBLE) AS alert
        |FROM d ORDER BY event_type""".stripMargin,

    // sliding 7-day distinct actives via md5-portable HLL registers:
    // per-day registers, elementwise-max merge per report day, the
    // p=8 raw estimate on the integer grid (constant as in sketch_hll)
    "active_users_hll" ->
      """WITH ud AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
        |grid AS (SELECT DISTINCT ts::DATE AS report_day FROM events),
        |c AS (SELECT day, user_id,
        |    list_reduce(list_transform(string_split(substr(md5('hll:' || user_id), 1, 14), ''),
        |      ch -> strpos('0123456789abcdef', ch) - 1), (a, b) -> a * 16 + b)::BIGINT AS coin
        |  FROM ud),
        |r0 AS (SELECT day, coin >> 48 AS j,
        |    CASE WHEN (coin & 281474976710655) = 0 THEN 49
        |         ELSE 49 - length(bin(coin & 281474976710655)) END AS rho
        |  FROM c),
        |slid AS (SELECT g.report_day, r0.j, max(rho) AS mr
        |  FROM r0 JOIN grid g ON r0.day <= g.report_day AND r0.day + 6 >= g.report_day
        |  GROUP BY 1, 2),
        |fullr AS (SELECT g.report_day, gs.j, coalesce(mr, 0) AS mr
        |  FROM grid g CROSS JOIN unnest(range(0, 256)) AS gs(j)
        |  LEFT JOIN slid ON slid.report_day = g.report_day AND slid.j = gs.j),
        |pg AS (SELECT report_day,
        |    sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END)::BIGINT AS v_zero,
        |    sum(1::BIGINT << (49 - mr))::BIGINT AS s_scaled
        |  FROM fullr GROUP BY 1),
        |ex AS (SELECT g.report_day, count(DISTINCT user_id)::BIGINT AS exact_active
        |  FROM ud JOIN grid g ON ud.day <= g.report_day AND ud.day + 6 >= g.report_day
        |  GROUP BY 1)
        |SELECT report_day, exact_active, v_zero, s_scaled,
        |  floor(2.6499581405668102e19 / s_scaled::DOUBLE * 1024.0)::BIGINT AS est_q10,
        |  CASE WHEN v_zero > 0
        |    THEN floor(ln(256.0 / v_zero::DOUBLE) * 256.0 * 1024.0)::BIGINT END AS lc_q10
        |FROM ex JOIN pg USING (report_day) ORDER BY report_day""".stripMargin,

    // TPC-H Q10: returned-item revenue per customer, one quarter
    "q10_returned_items" ->
      """SELECT c_custkey, c_name,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))::DOUBLE AS revenue,
        |  c_acctbal, n_name
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    // Q19 shape: disjunctive cross-table predicate, decimal-exact revenue
    "q19_disjunctive" ->
      """SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))::DOUBLE AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    // Kaplan-Meier: censored durations, suffix-sum risk sets, the
    // survival product as a recursive HUGEINT fixed-point fold
    "survival_conversion" ->
      s"""WITH RECURSIVE st AS (SELECT user_id, min(ts) AS t0 FROM $EV WHERE event_type = 'click' GROUP BY 1),
         |cv AS (SELECT e.user_id, min(e.ts) AS te FROM $EV e JOIN st USING (user_id)
         |       WHERE e.event_type = 'purchase' AND e.ts >= st.t0 GROUP BY 1),
         |mx AS (SELECT max(ts) AS mx FROM $EV),
         |subj AS (SELECT st.user_id,
         |    CASE WHEN cv.te IS NOT NULL THEN (epoch_us(cv.te) - epoch_us(st.t0)) // 86400000000
         |         ELSE (epoch_us(mx.mx) - epoch_us(st.t0)) // 86400000000 END AS dur,
         |    (cv.te IS NOT NULL) AS ev2
         |  FROM st LEFT JOIN cv USING (user_id) CROSS JOIN mx),
         |tbl AS (SELECT dur AS day, sum(CASE WHEN ev2 THEN 1 ELSE 0 END)::BIGINT AS d,
         |    count(*)::BIGINT AS c FROM subj GROUP BY 1),
         |r AS (SELECT day, d,
         |    (sum(c) OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))::BIGINT AS n
         |  FROM tbl),
         |o AS (SELECT day, d, n, row_number() OVER (ORDER BY day) AS rn FROM r WHERE d > 0),
         |s AS (
         |  SELECT rn, day, d, n, (1099511627776::HUGEINT * (n - d)) // n AS fp FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.rn, o.day, o.d, o.n, (s.fp * (o.n - o.d)) // o.n AS fp
         |  FROM s JOIN o ON o.rn = s.rn + 1)
         |SELECT day, n AS n_risk, d AS n_events, fp::BIGINT AS surv_fp,
         |  (fp::BIGINT::DOUBLE / 1099511627776.0) AS surv
         |FROM s ORDER BY day""".stripMargin,

    // degree assortativity: six exact sums, fixed-order Pearson float
    "graph_assortativity" ->
      s"""WITH ev AS (SELECT user_id, ts, event_id, json_extract_string(props, '$$.k')::BIGINT AS k FROM $EV),
         |edges AS MATERIALIZED (SELECT src, dst FROM (
         |    SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src, k AS dst FROM ev)
         |  WHERE src IS NOT NULL AND dst IS NOT NULL),
         |od AS (SELECT src AS n, count(*)::BIGINT AS outd FROM edges GROUP BY 1),
         |ind AS (SELECT dst AS n, count(*)::BIGINT AS ind FROM edges GROUP BY 1),
         |s AS (SELECT count(*)::BIGINT AS n_edges,
         |    sum(outd)::BIGINT AS sx, sum(ind)::BIGINT AS sy,
         |    sum(outd * ind)::BIGINT AS sxy,
         |    sum(outd * outd)::BIGINT AS sx2, sum(ind * ind)::BIGINT AS sy2
         |  FROM edges JOIN od ON od.n = edges.src JOIN ind ON ind.n = edges.dst)
         |SELECT n_edges,
         |  CASE WHEN n_edges * sx2 - sx * sx > 0 AND n_edges * sy2 - sy * sy > 0
         |       THEN (n_edges * sxy - sx * sy)::DOUBLE
         |            / (sqrt((n_edges * sx2 - sx * sx)::DOUBLE) * sqrt((n_edges * sy2 - sy * sy)::DOUBLE))
         |  END AS assortativity
         |FROM s""".stripMargin,

    // Q11 shape: HAVING against the global scalar, decimal-exact
    "q11_revenue_concentration" ->
      """WITH pr AS (SELECT l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS r
        |  FROM lineitem GROUP BY 1),
        |g AS (SELECT sum(r) AS t FROM pr)
        |SELECT l_partkey, r::DOUBLE AS part_revenue, (r::DOUBLE / t::DOUBLE) AS share
        |FROM pr, g WHERE r * 1500 > t
        |ORDER BY part_revenue DESC, l_partkey""".stripMargin,

    // Q20 shape: bulk shipments of one product line, HAVING-aggregated
    // subquery decorrelated
    "q20_bulk_suppliers" ->
      """WITH e AS (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY'),
        |x AS (SELECT l_suppkey, l_partkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS q
        |  FROM lineitem JOIN e ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2 HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 50)
        |SELECT s_suppkey, s_name, count(*)::BIGINT AS n_bulk_parts
        |FROM x JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2 ORDER BY s_suppkey""".stripMargin,

    // Q6 shape: pure scan pushdown, no join
    "q6_forecast_revenue" ->
      """SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)))::DOUBLE AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    // Q14 shape: conditional-sum ratio over the part dimension
    "q14_promo_share" ->
      """SELECT (100.0 * sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END)::DOUBLE
        |  / sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))::DOUBLE) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,

    // Q7 shape: symmetric nation-pair volume by year
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, year(l_shipdate)::INTEGER AS l_year,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))::DOUBLE AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
        |    OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // Q8 shape: supplier-nation market share within one region
    "q8_market_share" ->
      """WITH base AS (
        |  SELECT year(o_orderdate)::INTEGER AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS volume,
        |    n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'ASIA'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_year,
        |  (sum(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END)::DOUBLE
        |   / sum(volume)::DOUBLE) AS mkt_share
        |FROM base GROUP BY o_year ORDER BY o_year""".stripMargin,

    // Q9 shape: ECONOMY-part revenue by supplier nation and order year
    "q9_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate)::INTEGER AS o_year,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))::DOUBLE AS sum_profit
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_type = 'ECONOMY'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    // Q13 shape: outer join + stacked aggregation histogram
    "q13_customer_distribution" ->
      """SELECT c_count, count(*)::BIGINT AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // Q15 shape: scalar-max subquery with ties kept
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey),
        |m AS (SELECT max(total_rev) AS mx FROM rev)
        |SELECT s_suppkey, s_name, total_rev::DOUBLE AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey CROSS JOIN m
        |WHERE total_rev = mx ORDER BY s_suppkey""".stripMargin,

    // Q16 shape: lineitem stands in for partsupp; NOT IN = anti join
    "q16_supplier_variety" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_size, count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
        |FROM ps JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,

    // Q22 shape: scalar-average threshold cross-multiplied in decimal,
    // no-recent-order anti join (the corpus has no never-ordered
    // customers, so "lapsed since 2000" keeps the shape non-degenerate)
    "q22_idle_balance" ->
      """WITH c AS (SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer),
        |st AS (SELECT sum(bal) AS tot, count(*) AS cnt FROM c WHERE bal > 0)
        |SELECT c_nationkey, count(*)::BIGINT AS numcust, sum(bal)::DOUBLE AS totacctbal
        |FROM c, st
        |WHERE bal * cnt > tot
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // 2x2 chi-squared A/A readout: md5-coin arms, integer cells, one
    // fixed float order for the statistic
    "ab_chisq" ->
      s"""WITH a AS (SELECT user_id, (${md24("'ab:' || user_id::VARCHAR")}) % 2 AS arm
         |  FROM (SELECT DISTINCT user_id FROM events)),
         |sz AS (SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
         |              sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1 FROM a),
         |cv AS (SELECT event_type, arm
         |  FROM (SELECT DISTINCT event_type, user_id FROM events) JOIN a USING (user_id)),
         |cells AS (SELECT event_type,
         |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS s0,
         |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS s1
         |  FROM cv GROUP BY 1),
         |x AS (SELECT event_type, n0, s0, n1, s1,
         |    s0 * (n1 - s1) - (n0 - s0) * s1 AS adbc,
         |    n0::DOUBLE * n1::DOUBLE * (s0 + s1)::DOUBLE * (n0 + n1 - s0 - s1)::DOUBLE AS den
         |  FROM cells, sz)
         |SELECT event_type, n0, s0, n1, s1,
         |  CASE WHEN den > 0
         |       THEN (n0 + n1)::DOUBLE * (adbc::DOUBLE * adbc::DOUBLE) / den END AS chi2,
         |  CASE WHEN den > 0
         |       THEN ((n0 + n1)::DOUBLE * (adbc::DOUBLE * adbc::DOUBLE) / den) > 3.841 END AS significant
         |FROM x ORDER BY event_type""".stripMargin,

    // tokenizer fertility per language: whitespace words vs BPE-ish
    // subword runs, exact 2^-20 ratio
    "vocab_fertility" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(len(string_split_regex(lower(trim(text)), '\s+')))::BIGINT AS ws_tokens,
        |  sum(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9]')))::BIGINT AS bpeish_tokens,
        |  ((sum(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9]'))) * 1048576)
        |    // sum(len(string_split_regex(lower(trim(text)), '\s+'))))::BIGINT AS fertility_fp,
        |  (sum(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9]')))::DOUBLE
        |    / sum(len(string_split_regex(lower(trim(text)), '\s+')))::DOUBLE) AS fertility
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // interval-interval overlap: the per-key quadratic join the
    // bucket-decomposed engine plan avoids; exact integer microseconds
    "interval_overlap" ->
      """WITH i AS (SELECT user_id, ts AS i_s, ts + INTERVAL 1 HOUR AS i_e
        |    FROM events WHERE event_type = 'error'),
        |s AS (SELECT user_id, ts AS s_s, ts + INTERVAL 30 MINUTE AS s_e
        |    FROM events WHERE event_type = 'click')
        |SELECT i.user_id, count(*)::BIGINT AS n_pairs,
        |  sum(epoch_us(least(i_e, s_e)) - epoch_us(greatest(i_s, s_s)))::BIGINT AS overlap_us
        |FROM i JOIN s ON i.user_id = s.user_id
        |WHERE i_s < s_e AND s_s < i_e
        |GROUP BY i.user_id ORDER BY i.user_id""".stripMargin,

    // per-day novelty: first-seen via one (item -> min day) aggregate
    "corpus_novelty" ->
      """WITH ev AS (SELECT ts::DATE AS day,
        |    json_extract_string(props, '$.k')::BIGINT AS k FROM events),
        |evf AS (SELECT * FROM ev WHERE k IS NOT NULL),
        |daily AS (SELECT day, count(*)::BIGINT AS n_events,
        |    count(DISTINCT k)::BIGINT AS distinct_items FROM evf GROUP BY 1),
        |novel AS (SELECT day, count(*)::BIGINT AS new_items FROM (
        |    SELECT k, min(day) AS day FROM evf GROUP BY k) GROUP BY 1)
        |SELECT day, n_events, distinct_items,
        |  coalesce(new_items, 0)::BIGINT AS new_items,
        |  ((coalesce(new_items, 0) * 1048576) // distinct_items)::BIGINT AS novelty_fp
        |FROM daily LEFT JOIN novel USING (day) ORDER BY day""".stripMargin,

    // TPC-H Q4 shape: EXISTS late-lineitem, counted by priority
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o.o_orderkey
        |      AND l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Q21 shape: blame the sole late supplier on multi-supplier orders;
    // the EXISTS/NOT EXISTS pair decorrelated to per-order counts
    "q21_blame_supplier" ->
      """WITH ps AS (SELECT l_orderkey, l_suppkey,
        |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END)::BIGINT AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
        |q AS (SELECT l_orderkey FROM ps GROUP BY 1 HAVING count(*) >= 2 AND sum(late) = 1)
        |SELECT s_name, count(*)::BIGINT AS numwait
        |FROM ps JOIN q USING (l_orderkey) JOIN supplier ON l_suppkey = s_suppkey
        |WHERE late = 1
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    // explicit GROUPING SETS: three views, no grand total, ALL-coalesced
    "sales_grouping_sets" ->
      """SELECT coalesce(n_name, 'ALL') AS nation,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*)::BIGINT AS n_items,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))::DOUBLE AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name, o_orderpriority), (n_name), (o_orderpriority))
        |ORDER BY nation, priority""".stripMargin,

    // RANGE frame over calendar days: missing days still narrow the
    // trailing-7 window (the ROWS-frame bug this query pins against)
    "revenue_trailing_7d" ->
      s"""WITH daily AS (SELECT ts::DATE AS day, sum(value::DECIMAL(18,2)) AS rev
         |  FROM $EV GROUP BY 1)
         |SELECT day, rev::DOUBLE AS revenue,
         |  (sum(rev) OVER (ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW))::DOUBLE AS rev_7d
         |FROM daily ORDER BY day""".stripMargin,

    // Cohen's kappa between the two weak labelers; fixed-point carries
    // kappa+1 so truncating div == flooring div (non-negative)
    "label_kappa" ->
      """WITH b AS (SELECT lang,
        |    (len(string_split_regex(lower(trim(text)), '\s+')) >= 45) AS l1,
        |    (n_chars >= 250) AS l2
        |  FROM documents),
        |g AS (SELECT lang, count(*)::BIGINT AS n_docs,
        |    sum(CASE WHEN l1 = l2 THEN 1 ELSE 0 END)::BIGINT AS agree,
        |    sum(CASE WHEN l1 THEN 1 ELSE 0 END)::BIGINT AS pos1,
        |    sum(CASE WHEN l2 THEN 1 ELSE 0 END)::BIGINT AS pos2
        |  FROM b GROUP BY 1),
        |e AS (SELECT *, pos1 * pos2 + (n_docs - pos1) * (n_docs - pos2) AS ee FROM g)
        |SELECT lang, n_docs, agree, pos1, pos2,
        |  CASE WHEN n_docs * n_docs <> ee THEN
        |    (((agree * n_docs - ee + (n_docs * n_docs - ee)) * 1048576)
        |      // (n_docs * n_docs - ee))::BIGINT END AS kappa1p_fp,
        |  CASE WHEN n_docs * n_docs <> ee THEN
        |    ((agree * n_docs - ee)::DOUBLE / (n_docs * n_docs - ee)::DOUBLE) END AS kappa
        |FROM e ORDER BY lang""".stripMargin,

    // HyperBall: three unrolled neighbor-merge rounds, every register
    // and both estimator branches replayed
    "graph_hyperball" -> hyperballOracleSql(3),

    // Markov removal-effect attribution: 16 Jacobi sweeps x 5 variants,
    // HUGEINT fixed point
    "event_attribution_removal" -> attributionOracleSql(16),

    // greedy k-center: 8 unrolled farthest-point rounds on the k-means
    // integer grid
    "select_kcenter" -> kcenterOracleSql(8),

    // MMR diversified re-rank: 5 unrolled greedy rounds over the
    // top-20 grid-dot candidates
    "retrieval_mmr" -> mmrOracleSql(5, 20),

    // facility-location coverage selection: 5 unrolled greedy rounds,
    // ReLU'd grid dots, running-max coverage
    "select_facility" -> facilityOracleSql(5),

    // CDC chunk storage-dedup rollup: same Gear chunking as chunk_cdc,
    // per-source totals vs store-once-per-fingerprint
    "chunk_dedup_rate" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |x AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
         |      FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
         |f AS (SELECT doc_id, pos, tok,
         |        CASE WHEN (${md24("tok")}) % 16 = 0 THEN 1 ELSE 0 END AS cut FROM x),
         |c AS (SELECT doc_id, pos, tok,
         |        coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::INTEGER AS chunk_idx
         |      FROM f),
         |g AS (SELECT doc_id, chunk_idx, count(*)::INTEGER AS n_chunk_tokens,
         |        string_agg(tok, ' ' ORDER BY pos) AS ctext
         |      FROM c GROUP BY 1, 2),
         |h AS MATERIALIZED (SELECT doc_id, n_chunk_tokens,
         |        (${md24("ctext")}) AS chunk_fp FROM g),
         |pc AS (SELECT source, chunk_fp, count(*)::BIGINT AS cnt,
         |        min(n_chunk_tokens)::BIGINT AS ntok
         |      FROM h JOIN (SELECT doc_id, source FROM documents) USING (doc_id)
         |      GROUP BY 1, 2)
         |SELECT source, sum(cnt)::BIGINT AS n_chunks,
         |  count(*)::BIGINT AS n_distinct_chunks,
         |  sum(cnt * ntok)::BIGINT AS total_tokens,
         |  sum(ntok)::BIGINT AS stored_tokens,
         |  (((sum(cnt * ntok) - sum(ntok)) * 1048576) // sum(cnt * ntok))::BIGINT AS saved_fp,
         |  ((sum(cnt * ntok) - sum(ntok))::DOUBLE / sum(cnt * ntok)::DOUBLE) AS saved
         |FROM pc GROUP BY source ORDER BY source""".stripMargin,

    // Pareto front: quadratic NOT-EXISTS dominance over the distinct
    // (length, diversity) points — verifies the engine's running-max
    // window skyline
    "pareto_front" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS arr
        |  FROM documents),
        |pt AS (
        |  SELECT doc_id, len(arr)::BIGINT AS n_tokens,
        |    ((len(list_distinct(arr))::BIGINT * 1048576) // len(arr)::BIGINT)::BIGINT AS div_fp
        |  FROM tk WHERE len(arr) > 0),
        |d AS (
        |  SELECT n_tokens, div_fp, count(*)::BIGINT AS n_docs,
        |    min(doc_id)::BIGINT AS min_doc
        |  FROM pt GROUP BY 1, 2)
        |SELECT n_tokens, div_fp, n_docs, min_doc FROM d a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM d b
        |  WHERE b.n_tokens >= a.n_tokens AND b.div_fp >= a.div_fp
        |    AND (b.n_tokens > a.n_tokens OR b.div_fp > a.div_fp))
        |ORDER BY n_tokens DESC""".stripMargin,

    // TPC-H Q12 shape: return flag as ship mode, late = shipped >60
    // days after order, priority split in one conditional aggregate
    "q12_shipmode_priority" ->
      """SELECT l_returnflag AS ship_mode,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |           THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |           THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag IN ('A','R')
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag ORDER BY ship_mode""".stripMargin,

    // Mann-Whitney AUC on the 2^-10 score grid; ties mid-ranked via
    // the p*q/2 bucket term, one final float division
    "roc_auc" ->
      """WITH h AS (
        |  SELECT CAST(floor(value*1024) AS BIGINT) AS b,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS p,
        |    sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)::BIGINT AS q
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT p, q, coalesce(sum(q) OVER (ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cq
        |  FROM h)
        |SELECT (2*sum(p*cq) + sum(p*q))::DOUBLE
        |    / (2*sum(p)*sum(q))::DOUBLE AS auc,
        |  sum(p)::BIGINT AS n_pos, sum(q)::BIGINT AS n_neg
        |FROM c""".stripMargin,

    // Welch t per event_type between the md5 arms; exact HUGEINT
    // (n, sum v, sum v^2) on the 2^-10 grid, float only in the final
    // per-key expression (identical shape to the Spark side)
    "ab_welch" ->
      s"""WITH g AS (
         |  SELECT event_type,
         |    (${md24("'ab:' || user_id::VARCHAR")}) % 2 AS arm,
         |    CAST(floor(value*1024) AS BIGINT) AS v
         |  FROM events),
         |a AS (
         |  SELECT event_type,
         |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
         |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         |    sum(CASE WHEN arm = 0 THEN v ELSE 0 END)::HUGEINT AS s0,
         |    sum(CASE WHEN arm = 1 THEN v ELSE 0 END)::HUGEINT AS s1,
         |    sum(CASE WHEN arm = 0 THEN v*v ELSE 0 END)::HUGEINT AS ss0,
         |    sum(CASE WHEN arm = 1 THEN v*v ELSE 0 END)::HUGEINT AS ss1
         |  FROM g GROUP BY 1),
         |x AS (
         |  SELECT event_type, n0, n1,
         |    s0::DOUBLE / (1024*n0)::DOUBLE AS mean0,
         |    s1::DOUBLE / (1024*n1)::DOUBLE AS mean1,
         |    (s0::DOUBLE/n0::DOUBLE - s1::DOUBLE/n1::DOUBLE) /
         |    sqrt(((ss0::DOUBLE - s0::DOUBLE*s0::DOUBLE/n0::DOUBLE)/(n0-1)::DOUBLE)/n0::DOUBLE
         |       + ((ss1::DOUBLE - s1::DOUBLE*s1::DOUBLE/n1::DOUBLE)/(n1-1)::DOUBLE)/n1::DOUBLE)
         |      AS t_stat
         |  FROM a)
         |SELECT event_type, n0, n1, mean0, mean1, t_stat,
         |  abs(t_stat) > 1.96 AS significant
         |FROM x ORDER BY event_type""".stripMargin,

    // TPC-H Q2 shape: offer book = min observed unit price per
    // (part, supplier); regional min decorrelated into agg + self-join
    "q2_min_cost_supplier" ->
      """WITH eu AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |offers AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS supply_cost
        |  FROM lineitem GROUP BY 1, 2),
        |eo AS (
        |  SELECT l_partkey, supply_cost, s_acctbal, s_name, n_name
        |  FROM offers JOIN eu ON l_suppkey = s_suppkey),
        |mc AS (SELECT l_partkey, min(supply_cost) AS supply_cost FROM eo GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
        |FROM eo JOIN mc USING (l_partkey, supply_cost)
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_type = 'STANDARD' AND p_size <= 10
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,

    // Benford: digit via power-of-ten CASE ladder (no log10), expected
    // probabilities as shared literals, chi2 summed on the 2^-20 grid
    "quality_benford" -> {
      val ladder = (15 to 1 by -1).map(e => s"WHEN v >= 1e$e THEN 1e$e").mkString(" ")
      val probs = Seq(
        1 -> "0.3010299956639812", 2 -> "0.17609125905568124", 3 -> "0.12493873660829992",
        4 -> "0.09691001300805642", 5 -> "0.07918124604762482", 6 -> "0.06694678963061322",
        7 -> "0.05799194697768673", 8 -> "0.05115252244738129", 9 -> "0.04575749056067514")
        .map { case (d, p) => s"WHEN $d THEN $p" }.mkString(" ")
      s"""WITH src AS (SELECT o_totalprice AS v FROM orders WHERE o_totalprice >= 1.0),
         |d AS (SELECT CAST(floor(v / (CASE $ladder ELSE 1.0 END)) AS INTEGER) AS digit FROM src),
         |c AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY 1),
         |t AS (SELECT sum(n)::BIGINT AS total FROM c),
         |e AS (SELECT digit, n,
         |  (CASE digit $probs END) * total::DOUBLE AS expected FROM c CROSS JOIN t),
         |x AS (SELECT digit, n, expected,
         |  (n::DOUBLE - expected) * (n::DOUBLE - expected) / expected AS chi2_term FROM e)
         |SELECT digit, n, expected, chi2_term,
         |  (SELECT sum(floor(chi2_term * 1048576.0)::BIGINT) FROM x)::DOUBLE / 1048576.0 AS chi2
         |FROM x ORDER BY digit""".stripMargin
    },

    // day-of-week seasonality: Spark dayofweek-1 == DuckDB dayofweek
    // (Sunday = 0); index = n*7/total, exact-int division
    "event_seasonal" ->
      s"""WITH g AS (
         |  SELECT event_type, dayofweek(CAST(ts AS TIMESTAMP))::INTEGER AS dow,
         |    count(*)::BIGINT AS n
         |  FROM events GROUP BY 1, 2),
         |t AS (SELECT event_type, sum(n)::BIGINT AS total, max(n)::BIGINT AS mx
         |  FROM g GROUP BY 1)
         |SELECT g.event_type, dow, n,
         |  (n * 7)::DOUBLE / total::DOUBLE AS seasonal_idx, n = mx AS is_peak
         |FROM g JOIN t USING (event_type) ORDER BY event_type, dow""".stripMargin,

    // Adamic-Adar over the item-transition graph: undirected distinct
    // edges, deg-capped shared-neighbor wedge join, 2^-40 grid weights
    "graph_adamic_adar" ->
      """WITH ev AS (SELECT user_id, ts, event_id,
        |    json_extract_string(props, '$.k')::BIGINT AS k FROM events),
        |edges AS (
        |  SELECT src, dst FROM (
        |    SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src, k AS dst
        |    FROM ev)
        |  WHERE src IS NOT NULL AND dst IS NOT NULL),
        |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM edges WHERE src <> dst),
        |adj AS (SELECT u AS z, v AS nbr FROM und UNION ALL SELECT v AS z, u AS nbr FROM und),
        |deg AS (SELECT z, count(*)::BIGINT AS deg FROM adj GROUP BY 1),
        |small AS (
        |  SELECT adj.z, nbr, floor(1099511627776.0 / ln(deg::DOUBLE))::BIGINT AS w_fp
        |  FROM adj JOIN deg USING (z) WHERE deg <= 64 AND deg >= 2)
        |SELECT a.nbr AS node_a, b.nbr AS node_b, count(*)::BIGINT AS common_neighbors,
        |  sum(a.w_fp)::BIGINT AS aa_fp,
        |  sum(a.w_fp)::BIGINT::DOUBLE / 1099511627776.0 AS aa_score
        |FROM small a JOIN small b ON a.z = b.z AND a.nbr < b.nbr
        |GROUP BY 1, 2 ORDER BY aa_fp DESC, node_a, node_b LIMIT 50""".stripMargin,

    // Gini from the (stratum, length) histogram: tied-block Lorenz
    // closed form, int64 sums, one final IEEE division
    "corpus_gini" ->
      """WITH h AS (
        |  SELECT source AS stratum,
        |    len(string_split_regex(lower(trim(text)), '\s+'))::BIGINT AS v,
        |    count(*)::BIGINT AS m
        |  FROM documents GROUP BY 1, 2),
        |l AS (SELECT stratum, v, m,
        |  coalesce(sum(m) OVER (PARTITION BY stratum ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS a
        |  FROM h),
        |x AS (SELECT stratum,
        |  (v * (m * a + (m * (m + 1)) // 2))::BIGINT AS ix, (v * m)::BIGINT AS x, m
        |  FROM l)
        |SELECT stratum, sum(m)::BIGINT AS n_docs, sum(x)::BIGINT AS total_tokens,
        |  (2.0 * sum(ix)::BIGINT::DOUBLE
        |    - (sum(m)::BIGINT + 1)::DOUBLE * sum(x)::BIGINT::DOUBLE)
        |  / (sum(m)::BIGINT::DOUBLE * sum(x)::BIGINT::DOUBLE) AS gini
        |FROM x GROUP BY 1 ORDER BY stratum""".stripMargin,

    // Zipf OLS on the 2^-20 ln grid: integer moment sums, IEEE finals
    "vocab_zipf" ->
      """WITH c AS (
        |  SELECT term, count(*)::BIGINT AS cnt FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |    FROM documents)
        |  GROUP BY 1 ORDER BY cnt DESC, term LIMIT 1000),
        |rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rank FROM c),
        |r AS (SELECT
        |  floor(ln(rank::DOUBLE) * 1048576.0)::BIGINT AS x,
        |  floor(ln(cnt::DOUBLE) * 1048576.0)::BIGINT AS y FROM rk),
        |m AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |  sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy
        |  FROM r),
        |s AS (SELECT n, sx, sy, sxx, syy, sxy,
        |  (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |    / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) AS b FROM m)
        |SELECT n AS n_terms, b::FLOAT AS slope,
        |  (((sy::DOUBLE - b * sx::DOUBLE) / n::DOUBLE) / 1048576.0)::FLOAT AS intercept,
        |  (((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |    * (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE))
        |   / ((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |    * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)))::FLOAT AS r2
        |FROM s""".stripMargin,

    // SoftDeDup: planted duplicate groups, weight = 1/k exact division
    "dedup_soft" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id < 100
        |  UNION ALL SELECT doc_id + 300000, text FROM documents WHERE doc_id < 40),
        |fp AS (SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
        |  FROM all_docs),
        |g AS (SELECT fingerprint, count(*)::BIGINT AS dup_count FROM fp GROUP BY 1)
        |SELECT doc_id, fingerprint, dup_count, 1.0 / dup_count::DOUBLE AS weight
        |FROM fp JOIN g USING (fingerprint) ORDER BY doc_id""".stripMargin,

    // l-diversity: triple-domain count, class rollup, all-int outputs
    "privacy_ldiversity" ->
      """WITH t AS (SELECT lang, n_chars // 500 AS len_bucket, source FROM documents),
        |c AS (SELECT lang, len_bucket, source, count(*)::BIGINT AS n
        |  FROM t GROUP BY 1, 2, 3)
        |SELECT lang, len_bucket, sum(n)::BIGINT AS group_n,
        |  count(*)::BIGINT AS n_sensitive, count(*)::BIGINT >= 3 AS diverse
        |FROM c GROUP BY 1, 2 ORDER BY lang, len_bucket""".stripMargin,

    // information-gain selection: unigram-minus-bigram NLL contrast,
    // composed from the text_perplexity / text_perplexity2 models
    "select_ppl_contrast" ->
      """WITH t AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |p AS MATERIALIZED (SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS term FROM t),
        |c AS MATERIALIZED (SELECT term, count(*) AS cnt FROM p GROUP BY term),
        |kept AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 24),
        |s AS MATERIALIZED (SELECT sum(cnt)::BIGINT AS total FROM c),
        |tn AS MATERIALIZED (
        |  SELECT term, floor(-ln(cnt::DOUBLE / total::DOUBLE) * 1099511627776.0)::BIGINT AS fp
        |  FROM kept CROSS JOIN s),
        |usc AS (
        |  SELECT doc_id, any_value(n_tokens) AS n_tokens,
        |    sum(coalesce(tn.fp, (SELECT floor(-ln(0.5 / total::DOUBLE) * 1099511627776.0)::BIGINT FROM s))) AS sfp
        |  FROM p LEFT JOIN tn USING (term) GROUP BY doc_id),
        |uni AS (SELECT doc_id,
        |  ((sfp::DOUBLE / 1099511627776.0) / n_tokens::DOUBLE)::FLOAT AS uni_nll FROM usc),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, CASE WHEN i = 1 THEN '<s>' ELSE toks[i - 1] END AS w1, toks[i] AS w2
        |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
        |c2 AS MATERIALIZED (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
        |c1 AS MATERIALIZED (SELECT w1, sum(c) AS cc FROM c2 GROUP BY w1),
        |kept2 AS (SELECT w1, w2, c FROM c2 ORDER BY c DESC, w1, w2 LIMIT 512),
        |k2 AS MATERIALIZED (
        |  SELECT k.w1, k.w2, floor(-ln(k.c::DOUBLE / c1.cc::DOUBLE) * 1099511627776.0)::BIGINT AS fp2
        |  FROM kept2 k JOIN c1 USING (w1)),
        |tot AS MATERIALIZED (SELECT sum(c)::BIGINT AS t FROM c2),
        |bo AS MATERIALIZED (
        |  SELECT w2, floor(-ln(0.4 * sum(c)::DOUBLE / (SELECT t FROM tot)::DOUBLE) * 1099511627776.0)::BIGINT AS fpbo
        |  FROM c2 GROUP BY w2),
        |bsc AS (
        |  SELECT bg.doc_id, count(*) AS n_tokens, sum(coalesce(k2.fp2, bo.fpbo)) AS sfp
        |  FROM bg
        |  LEFT JOIN k2 ON bg.w1 = k2.w1 AND bg.w2 = k2.w2
        |  JOIN bo ON bg.w2 = bo.w2
        |  GROUP BY bg.doc_id),
        |bi AS (SELECT doc_id,
        |  ((sfp::DOUBLE / 1099511627776.0) / n_tokens::DOUBLE)::FLOAT AS bi_nll FROM bsc)
        |SELECT doc_id, uni_nll, bi_nll,
        |  (uni_nll::DOUBLE - bi_nll::DOUBLE)::FLOAT AS contrast
        |FROM uni JOIN bi USING (doc_id)
        |ORDER BY contrast DESC, doc_id LIMIT 50""".stripMargin,

    // unique-token yield: global fingerprint groups (mirror source
    // planted), per-doc (nt·2^20) div k on the integer grid
    "dedup_yield" ->
      """WITH all_docs AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, 'mirror', text FROM documents WHERE doc_id < 100),
        |b AS (SELECT doc_id, source AS stratum,
        |  len(string_split_regex(lower(trim(text)), '\s+'))::BIGINT AS nt,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM all_docs),
        |g AS (SELECT fp, count(*)::BIGINT AS k FROM b GROUP BY 1)
        |SELECT stratum, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS raw_tokens,
        |  sum((nt * 1048576) // k)::BIGINT AS eff_tokens_q20,
        |  sum((nt * 1048576) // k)::BIGINT::DOUBLE / 1048576.0 / sum(nt)::BIGINT::DOUBLE
        |    AS yield_ratio
        |FROM b JOIN g USING (fp) GROUP BY 1 ORDER BY stratum""".stripMargin,

    // join-key skew pre-flight: one count, 1-row stats, top-5 hitters
    "skew_profile" ->
      """WITH c AS (SELECT user_id, count(*)::BIGINT AS cnt FROM events GROUP BY 1),
        |s AS (SELECT sum(cnt)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
        |  max(cnt)::BIGINT AS mx FROM c)
        |SELECT user_id, cnt, cnt::DOUBLE / n_rows::DOUBLE AS share, n_rows, n_keys,
        |  (mx * n_keys)::DOUBLE / n_rows::DOUBLE AS skew_factor
        |FROM c CROSS JOIN s ORDER BY cnt DESC, user_id LIMIT 5""".stripMargin,

    // Wald SPRT replay: JVM-computed 2^-40 grid constants shared with
    // the Spark plan, cumulative integer LLR, first-crossing decision
    "ab_sprt" -> {
      val (c1, c0, upper, lower) =
        graft.operators.RateAnomaly.sprtConstants(0.25, 0.30, 0.05, 0.05)
      s"""WITH daily AS (
         |  SELECT event_type,
         |    (CAST(ts AS TIMESTAMP)::DATE - DATE '1970-01-01')::INTEGER AS day,
         |    sum(CASE WHEN value > 0.75 THEN 1 ELSE 0 END)::BIGINT AS conv,
         |    count(*)::BIGINT AS n
         |  FROM events GROUP BY 1, 2),
         |c AS (SELECT event_type, day,
         |    sum(conv) OVER w AS cc, sum(n) OVER w AS cn
         |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |l AS (SELECT event_type, day,
         |    (cc * ${c1} + (cn - cc) * ${c0})::BIGINT AS llr FROM c),
         |r AS (SELECT event_type, count(*)::BIGINT AS n_days,
         |    max_by(llr, day)::BIGINT AS final_llr_fp,
         |    min(CASE WHEN llr >= ${upper} THEN day END)::INTEGER AS h1d,
         |    min(CASE WHEN llr <= ${lower} THEN day END)::INTEGER AS h0d
         |  FROM l GROUP BY 1)
         |SELECT event_type, n_days, final_llr_fp,
         |  CASE WHEN h1d IS NULL AND h0d IS NULL THEN 'continue'
         |       WHEN h0d IS NULL OR (h1d IS NOT NULL AND h1d <= h0d) THEN 'h1'
         |       ELSE 'h0' END AS decision,
         |  CASE WHEN h1d IS NULL AND h0d IS NULL THEN -1
         |       WHEN h0d IS NULL OR (h1d IS NOT NULL AND h1d <= h0d) THEN h1d
         |       ELSE h0d END AS decision_day
         |FROM r ORDER BY event_type""".stripMargin
    },

    // code-switching: the langid stopword heuristic applied per
    // 16-token chunk, disagreement fraction vs the doc label
    "text_code_switch" -> {
      val langWords = Seq(
        "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
        "en" -> Seq("the", "a", "of", "and", "to", "in"),
        "es" -> Seq("el", "la", "de", "los", "que", "y"),
        "fr" -> Seq("le", "la", "les", "et", "est", "une"),
        "ru" -> Seq("и", "в", "не", "на", "что", "это"))
      val scoreCols = langWords.map { case (l, ws) =>
        s"len(list_filter(ctoks, x -> x IN (${ws.map(w => s"'$w'").mkString(",")})))::INTEGER AS s_$l"
      }.mkString(",\n  ")
      val best = s"greatest(${langWords.map { case (l, _) => s"s_$l" }.mkString(", ")})"
      val pred = langWords.map { case (l, _) => s"WHEN s_$l = best THEN '$l'" }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |c AS (SELECT doc_id, lang, toks,
         |  CASE WHEN len(toks) <= 16 THEN 0 ELSE (len(toks) - 16 + 15) // 16 END AS last_idx FROM t),
         |ch AS (SELECT doc_id, lang,
         |    array_to_string(toks[(ci * 16 + 1) : (ci * 16 + 16)], ' ') AS chunk_text
         |  FROM (SELECT doc_id, lang, toks, unnest(range(0, last_idx + 1)) AS ci FROM c)),
         |sc AS (SELECT doc_id, lang,
         |  string_split_regex(lower(trim(chunk_text)), '\\s+') AS ctoks FROM ch),
         |scored AS (SELECT doc_id, lang,
         |  $scoreCols
         |  FROM sc),
         |p AS (SELECT doc_id, lang, CASE $pred END AS pred
         |  FROM (SELECT *, $best AS best FROM scored))
         |SELECT doc_id, lang, count(*)::BIGINT AS n_chunks,
         |  sum(CASE WHEN pred <> lang THEN 1 ELSE 0 END)::BIGINT AS n_foreign_chunks,
         |  sum(CASE WHEN pred <> lang THEN 1 ELSE 0 END)::BIGINT::DOUBLE
         |    / count(*)::BIGINT::DOUBLE AS switch_frac
         |FROM p GROUP BY 1, 2 ORDER BY doc_id""".stripMargin
    },

    // aHash near-dup pairs: 48 byte-window intensities (stub decode),
    // integer mean-compare bits, top-16-bit band join, XOR popcount
    "mm_phash" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE n_chars >= 64),
        |planted AS (SELECT doc_id + 100000 AS doc_id, text FROM base WHERE doc_id % 20 = 0),
        |allb AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
        |b AS (SELECT doc_id, encode(text) AS p FROM allb WHERE octet_length(encode(text)) >= 4),
        |s AS (SELECT doc_id, upper(hex(p)) AS h,
        |  floor((octet_length(p) - 4) / 47)::INTEGER AS st FROM b),
        |f AS (SELECT doc_id, i::INTEGER AS tile_idx, substr(h, (i * st * 2 + 1)::BIGINT, 8) AS th
        |  FROM s, unnest(range(0, 48)) AS t(i)),
        |x AS (SELECT doc_id, tile_idx,
        |    list_sum(list_transform(range(0, 4), j ->
        |      list_reduce(list_transform(string_split(substr(th, (j * 2 + 1)::BIGINT, 2), ''),
        |        ch -> strpos('0123456789ABCDEF', ch) - 1), (a, b2) -> a * 16 + b2)))::BIGINT AS inten
        |  FROM f),
        |hsh AS (SELECT doc_id,
        |    sum(CASE WHEN inten * 48 > tot THEN (1::BIGINT << tile_idx) ELSE 0 END)::BIGINT AS phash
        |  FROM (SELECT doc_id, tile_idx, inten,
        |    sum(inten) OVER (PARTITION BY doc_id) AS tot FROM x)
        |  GROUP BY 1),
        |bd AS (SELECT doc_id, phash, phash >> 32 AS band FROM hsh)
        |SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
        |  bit_count(xor(a.phash, b2.phash))::INTEGER AS hamming,
        |  a.phash AS phash_a, b2.phash AS phash_b
        |FROM bd a JOIN bd b2 ON a.band = b2.band AND a.doc_id < b2.doc_id
        |WHERE bit_count(xor(a.phash, b2.phash)) <= 6
        |ORDER BY id_a, id_b""".stripMargin,

    // U-shaped attribution: 40/40 ends, 20 split across middles, all on
    // the 2^-20 integer grid (floored shares, associative channel sums)
    "attribution_position" ->
      """WITH o AS (SELECT user_id AS u, event_type AS t,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS ord
        |  FROM events),
        |fc AS (SELECT u, min(ord) AS conv_ord FROM o WHERE t = 'purchase' GROUP BY 1),
        |tch AS (SELECT o.u, o.t,
        |    row_number() OVER (PARTITION BY o.u ORDER BY ord) AS pos
        |  FROM o JOIN fc USING (u) WHERE ord < conv_ord),
        |nt AS (SELECT u, max(pos) AS n FROM tch GROUP BY 1),
        |cr AS (SELECT t AS channel,
        |    CASE WHEN n = 1 THEN 1048576
        |         WHEN n = 2 THEN 524288
        |         WHEN pos = 1 OR pos = n THEN 419430
        |         ELSE 209715 // (n - 2) END AS c
        |  FROM tch JOIN nt USING (u))
        |SELECT channel, count(*)::BIGINT AS n_touches, sum(c)::BIGINT AS credit_fp,
        |  sum(c)::BIGINT::DOUBLE / 1048576.0 AS credit
        |FROM cr GROUP BY 1 ORDER BY channel""".stripMargin,

    // coverage curve: cumulative token-mass share at rank 5/10/20
    "vocab_coverage" ->
      """WITH c AS MATERIALIZED (SELECT term, count(*)::BIGINT AS cnt FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |    FROM documents) GROUP BY 1),
        |tot AS (SELECT sum(cnt)::BIGINT AS total_tokens FROM c),
        |top AS (SELECT row_number() OVER (ORDER BY cnt DESC, term) AS rank,
        |    sum(cnt) OVER (ORDER BY cnt DESC, term
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens
        |  FROM (SELECT * FROM c ORDER BY cnt DESC, term LIMIT 20))
        |SELECT rank::INTEGER AS k, cum_tokens, total_tokens,
        |  cum_tokens::DOUBLE / total_tokens::DOUBLE AS coverage
        |FROM top CROSS JOIN tot WHERE rank IN (5, 10, 20) ORDER BY k""".stripMargin,

    // Newman modularity over the LPA partition: per-community
    // 4mL - D^2 numerators in exact int64, one global division
    "graph_modularity" ->
      """WITH ev AS (SELECT user_id, ts, event_id, json_extract_string(props, '$.k')::BIGINT AS k FROM events),
        |e0 AS (SELECT src, dst FROM (
        |    SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src, k AS dst FROM ev)
        |  WHERE src IS NOT NULL AND dst IS NOT NULL AND (src * 31 + dst) % 7 = 0 AND src <> dst),
        |sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM sym),
        |l1 AS MATERIALIZED (SELECT node, label FROM (
        |  SELECT sym.src AS node, l0.label, count(*) AS c,
        |    row_number() OVER (PARTITION BY sym.src ORDER BY count(*) DESC, l0.label) AS rn
        |  FROM sym JOIN l0 ON sym.dst = l0.node GROUP BY 1, 2) WHERE rn = 1),
        |l2 AS MATERIALIZED (SELECT node, label FROM (
        |  SELECT sym.src AS node, l1.label, count(*) AS c,
        |    row_number() OVER (PARTITION BY sym.src ORDER BY count(*) DESC, l1.label) AS rn
        |  FROM sym JOIN l1 ON sym.dst = l1.node GROUP BY 1, 2) WHERE rn = 1),
        |l3 AS MATERIALIZED (SELECT node, label FROM (
        |  SELECT sym.src AS node, l2.label, count(*) AS c,
        |    row_number() OVER (PARTITION BY sym.src ORDER BY count(*) DESC, l2.label) AS rn
        |  FROM sym JOIN l2 ON sym.dst = l2.node GROUP BY 1, 2) WHERE rn = 1),
        |l4 AS MATERIALIZED (SELECT node, label FROM (
        |  SELECT sym.src AS node, l3.label, count(*) AS c,
        |    row_number() OVER (PARTITION BY sym.src ORDER BY count(*) DESC, l3.label) AS rn
        |  FROM sym JOIN l3 ON sym.dst = l3.node GROUP BY 1, 2) WHERE rn = 1),
        |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e0),
        |mm AS (SELECT count(*)::BIGINT AS m FROM und),
        |deg AS (SELECT node, count(*)::BIGINT AS deg FROM (
        |  SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und) GROUP BY 1),
        |ds AS (SELECT label, count(*)::BIGINT AS n_nodes, sum(deg)::BIGINT AS degree_sum
        |  FROM deg JOIN l4 USING (node) GROUP BY 1),
        |ie AS (SELECT a.label, count(*)::BIGINT AS internal_edges
        |  FROM und JOIN l4 a ON und.u = a.node JOIN l4 b ON und.v = b.node
        |  WHERE a.label = b.label GROUP BY 1),
        |pc AS MATERIALIZED (SELECT ds.label, n_nodes,
        |    coalesce(internal_edges, 0)::BIGINT AS internal_edges, degree_sum,
        |    (4 * m * coalesce(internal_edges, 0) - degree_sum * degree_sum)::BIGINT AS q_num, m
        |  FROM ds LEFT JOIN ie USING (label) CROSS JOIN mm)
        |SELECT label, n_nodes, internal_edges, degree_sum, q_num,
        |  (SELECT sum(q_num) FROM pc)::DOUBLE / (4.0 * m::DOUBLE * m::DOUBLE) AS q
        |FROM pc ORDER BY label""".stripMargin,

    // RFM: one user aggregate, corpus-last-day anchor, ntile quintiles
    // with user-id tie-breaks (total order -> deterministic)
    "user_rfm" ->
      """WITH pu AS (SELECT user_id,
        |    max((CAST(ts AS TIMESTAMP)::DATE - DATE '1970-01-01'))::INTEGER AS last_day,
        |    count(*)::BIGINT AS f_events,
        |    sum(CAST(floor(value * 1024) AS BIGINT))::BIGINT AS m_fp
        |  FROM events GROUP BY 1),
        |a AS (SELECT max(last_day) AS anchor FROM pu),
        |b AS (SELECT user_id, (anchor - last_day)::INTEGER AS r_days, f_events, m_fp
        |  FROM pu CROSS JOIN a),
        |c AS (SELECT *,
        |    ntile(5) OVER (ORDER BY r_days, user_id) AS r_q,
        |    ntile(5) OVER (ORDER BY f_events, user_id) AS f_q,
        |    ntile(5) OVER (ORDER BY m_fp, user_id) AS m_q FROM b)
        |SELECT user_id, r_days, f_events, m_fp,
        |  r_q::INTEGER AS r_q, f_q::INTEGER AS f_q, m_q::INTEGER AS m_q,
        |  r_q::VARCHAR || f_q::VARCHAR || m_q::VARCHAR AS segment
        |FROM c ORDER BY user_id""".stripMargin,

    // Matryoshka audit: exact top-10 over the 16-dim prefix vs the
    // 64-dim exact top-10, per-query hit count
    "ann_matryoshka" -> {
      val dot64 = "list_reduce(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE), (x, y) -> x + y)"
      val d64qq = "list_reduce(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE), (x, y) -> x + y)"
      val d64cc = "list_reduce(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE), (x, y) -> x + y)"
      val dot16 = "list_reduce(list_transform(range(1, 17), i -> qv[i]::DOUBLE * cv[i]::DOUBLE), (x, y) -> x + y)"
      val d16qq = "list_reduce(list_transform(range(1, 17), i -> qv[i]::DOUBLE * qv[i]::DOUBLE), (x, y) -> x + y)"
      val d16cc = "list_reduce(list_transform(range(1, 17), i -> cv[i]::DOUBLE * cv[i]::DOUBLE), (x, y) -> x + y)"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |sf AS (SELECT query_id, neighbor_id,
         |    $dot64 / (sqrt($d64qq) * sqrt($d64cc)) AS cosine FROM q CROSS JOIN c),
         |exact AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM sf) WHERE rank <= 10),
         |st AS (SELECT query_id, neighbor_id,
         |    $dot16 / (sqrt($d16qq) * sqrt($d16cc)) AS cosine FROM q CROSS JOIN c),
         |approx AS (SELECT query_id, neighbor_id, 1 AS hit FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM st) WHERE rank <= 10)
         |SELECT query_id, sum(coalesce(hit, 0))::INTEGER AS n_hits,
         |  ((sum(coalesce(hit, 0)) * 100) // count(*))::INTEGER AS recall_pct
         |FROM exact LEFT JOIN approx USING (query_id, neighbor_id)
         |GROUP BY 1 ORDER BY query_id""".stripMargin
    },

    // C4 heuristics over the planted corpus: word floor, brace, terminal
    // punctuation, policy phrases
    "quality_c4" ->
      """WITH p AS (
        |  SELECT doc_id, CASE doc_id % 10
        |    WHEN 1 THEN 'x1 x2.'
        |    WHEN 2 THEN text || ' { code block }.'
        |    WHEN 3 THEN text || ' no terminal word'
        |    WHEN 4 THEN text || ' accept cookie banner.'
        |    ELSE text || '.' END AS text
        |  FROM documents),
        |r AS (SELECT doc_id,
        |  len(string_split_regex(lower(trim(text)), '\s+'))::INTEGER AS n_words,
        |  NOT contains(text, '{') AS r_no_brace,
        |  regexp_matches(trim(text), '[.!?"]$') AS r_terminal,
        |  (NOT contains(lower(text), 'cookie') AND NOT contains(lower(text), 'javascript'))
        |    AS r_no_policy
        |  FROM p)
        |SELECT doc_id, n_words, n_words >= 5 AS r_min_words, r_no_brace, r_terminal,
        |  r_no_policy,
        |  (n_words >= 5 AND r_no_brace AND r_terminal AND r_no_policy) AS c4_pass
        |FROM r ORDER BY doc_id""".stripMargin,

    // per-node clustering coefficient: oriented wedge closure credits
    // all three corners, cc = 2t / d(d-1)
    "graph_clustering" ->
      """WITH ev AS (SELECT user_id, ts, event_id,
        |    json_extract_string(props, '$.k')::BIGINT AS k FROM events),
        |e0 AS (SELECT src, dst FROM (
        |    SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src, k AS dst FROM ev)
        |  WHERE src IS NOT NULL AND dst IS NOT NULL),
        |raw AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM e0 WHERE src <> dst),
        |deg AS MATERIALIZED (
        |  SELECT node, count(*)::BIGINT AS deg FROM (
        |    SELECT u AS node FROM raw UNION ALL SELECT v AS node FROM raw) GROUP BY 1),
        |o AS MATERIALIZED (
        |  SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS lo,
        |         CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS hi
        |  FROM (SELECT u, v, d1.deg AS du, d2.deg AS dv
        |        FROM raw JOIN deg d1 ON d1.node = u JOIN deg d2 ON d2.node = v)),
        |w AS (SELECT a.lo AS wa, a.hi AS b, c.hi AS c
        |      FROM o a JOIN o c ON a.lo = c.lo WHERE a.hi < c.hi),
        |closed AS (SELECT wa, b, c FROM w
        |        JOIN o ON (w.b = o.lo AND w.c = o.hi) OR (w.c = o.lo AND w.b = o.hi)),
        |tn AS (SELECT unnest([wa, b, c]) AS node FROM closed),
        |tri AS (SELECT node, count(*)::BIGINT AS triangles FROM tn GROUP BY 1)
        |SELECT deg.node, deg, coalesce(triangles, 0)::BIGINT AS triangles,
        |  (coalesce(triangles, 0) * 2)::DOUBLE / (deg * (deg - 1))::DOUBLE AS cc
        |FROM deg LEFT JOIN tri ON deg.node = tri.node
        |WHERE deg >= 2 ORDER BY deg.node""".stripMargin,

    // Wilson score interval: fixed-order IEEE chain over exact counts,
    // associations mirrored from RateAnomaly.wilsonCi
    "ab_wilson" ->
      """WITH a AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(CASE WHEN value > 0.75 THEN 1 ELSE 0 END)::BIGINT AS conversions
        |  FROM events GROUP BY 1),
        |x AS (SELECT event_type, n, conversions,
        |    conversions::DOUBLE / n::DOUBLE AS p,
        |    1.96 * 1.96 AS z2, n::DOUBLE AS nd FROM a)
        |SELECT event_type, n, conversions, p AS p_hat,
        |  ((p + z2 / (2.0 * nd)) / (1.0 + z2 / nd))
        |    - ((1.96 * sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd))) / (1.0 + z2 / nd))
        |    AS ci_lower,
        |  ((p + z2 / (2.0 * nd)) / (1.0 + z2 / nd))
        |    + ((1.96 * sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd))) / (1.0 + z2 / nd))
        |    AS ci_upper
        |FROM x ORDER BY event_type""".stripMargin,

    // lag-k autocorrelation: exact integer moments over the daily-count
    // self-join at each lag, one fixed IEEE chain for r
    "event_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    (CAST(ts AS TIMESTAMP)::DATE - DATE '1970-01-01')::INTEGER AS day,
        |    count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type, l.lag, a.c AS x, b.c AS y
        |  FROM daily a CROSS JOIN (SELECT unnest([1, 2, 7]) AS lag) l
        |  JOIN daily b ON b.event_type = a.event_type AND b.day = a.day + l.lag),
        |m AS (SELECT event_type, lag, count(*)::BIGINT AS n_pairs,
        |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
        |    sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy
        |  FROM p GROUP BY 1, 2)
        |SELECT event_type, lag::INTEGER AS lag, n_pairs,
        |  (n_pairs::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |    / sqrt((n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |      * (n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)) AS r
        |FROM m ORDER BY event_type, lag""".stripMargin,

    // epsilon sweep over the proven-recall >= 0.9 cosine pair set
    "dedup_threshold_sweep" ->
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000, list_transform(embedding, x -> (x * 2::FLOAT)::FLOAT)
         |  FROM embeddings WHERE vec_id < 25),
         |p AS (SELECT cosine FROM (
         |  SELECT x.vec_id AS a, y.vec_id AS b,
         |    ${"list_reduce(list_transform(range(1, 65), i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE), (u, v) -> u + v)"}
         |      / (sqrt(${"list_reduce(list_transform(range(1, 65), i -> x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE), (u, v) -> u + v)"})
         |        * sqrt(${"list_reduce(list_transform(range(1, 65), i -> y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE), (u, v) -> u + v)"})) AS cosine
         |  FROM corpus x JOIN corpus y ON x.vec_id < y.vec_id)
         |  WHERE cosine >= 0.9),
         |t AS (SELECT unnest([0.90, 0.95, 0.99, 0.999]) AS threshold)
         |SELECT threshold, sum(CASE WHEN cosine >= threshold THEN 1 ELSE 0 END)::BIGINT AS n_pairs
         |FROM t CROSS JOIN p GROUP BY 1 ORDER BY threshold""".stripMargin,

    // Theil-Sen: lower-median pairwise slope, double sort key with full
    // integer tiebreak mirrored from RateAnomaly.theilSen
    "event_trend_robust" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    (CAST(ts AS TIMESTAMP)::DATE - DATE '1970-01-01')::INTEGER AS day,
        |    count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type, (b.c - a.c)::BIGINT AS dy,
        |    (b.day - a.day)::BIGINT AS dx, a.day AS da, b.day AS db
        |  FROM daily a JOIN daily b
        |    ON b.event_type = a.event_type AND b.day > a.day),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY dy::DOUBLE / dx::DOUBLE, dy, dx, da, db) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n_pairs
        |  FROM p)
        |SELECT event_type, n_pairs, dy::DOUBLE / dx::DOUBLE AS slope, dy, dx
        |FROM r WHERE rn = (n_pairs + 1) // 2 ORDER BY event_type""".stripMargin,

    // exponential decay: JVM-computed 2^-40-grid weight literals shared
    // verbatim with RateAnomaly.decayTrend (half-life 7d, horizon 128d)
    "event_decay" ->
      s"""WITH daily AS (
         |  SELECT event_type,
         |    (CAST(ts AS TIMESTAMP)::DATE - DATE '1970-01-01')::INTEGER AS day,
         |    count(*)::BIGINT AS c
         |  FROM events GROUP BY 1, 2),
         |a AS (SELECT max(day) AS anchor FROM daily),
         |wt AS (SELECT event_type, day, c, anchor - day AS age
         |  FROM daily CROSS JOIN a),
         |s AS (SELECT event_type, sum(c)::BIGINT AS n_total,
         |    max(day) AS last_day,
         |    sum(c::HUGEINT * (CASE WHEN age < 128
         |      THEN list_extract([$decayWeights7], age + 1) ELSE 0 END)::HUGEINT) AS fp
         |  FROM wt GROUP BY 1)
         |SELECT event_type, n_total, last_day,
         |  fp::DOUBLE / 1099511627776.0 AS decayed
         |FROM s ORDER BY event_type""".stripMargin,

    // Holt alpha=beta=1/2: the exact floor-halving recurrence replayed
    // day by day in a recursive CTE over the zero-filled grid
    "event_forecast_holt" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type,
        |    (CAST(ts AS TIMESTAMP)::DATE - DATE '1970-01-01')::INTEGER AS day,
        |    count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM span),
        |filled AS (SELECT g.event_type, g.day, coalesce(d.c, 0)::BIGINT AS c
        |  FROM grid g LEFT JOIN daily d
        |    ON d.event_type = g.event_type AND d.day = g.day),
        |idx AS (SELECT event_type,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
        |    c * 1048576 AS y
        |  FROM filled),
        |nd AS (SELECT event_type, count(*)::BIGINT AS n_days FROM idx GROUP BY 1),
        |h AS (
        |  SELECT i1.event_type, CAST(1 AS BIGINT) AS rn, i1.y AS l,
        |    (i2.y - i1.y) AS b, CAST(0 AS BIGINT) AS sae
        |  FROM idx i1 JOIN idx i2
        |    ON i2.event_type = i1.event_type AND i2.rn = 2
        |  WHERE i1.rn = 1
        |  UNION ALL
        |  SELECT h.event_type, h.rn + 1,
        |    CAST(floor((i.y + h.l + h.b) / 2.0) AS BIGINT),
        |    CAST(floor(((CAST(floor((i.y + h.l + h.b) / 2.0) AS BIGINT) - h.l) + h.b) / 2.0) AS BIGINT),
        |    h.sae + abs(i.y - (h.l + h.b))
        |  FROM h JOIN idx i ON i.event_type = h.event_type AND i.rn = h.rn + 1),
        |fin AS (SELECT h.event_type, n.n_days, h.l, h.b, h.sae
        |  FROM h JOIN nd n ON n.event_type = h.event_type AND h.rn = n.n_days)
        |SELECT event_type, n_days, l::DOUBLE / 1048576.0 AS level,
        |  b::DOUBLE / 1048576.0 AS trend,
        |  (l + 7 * b)::DOUBLE / 1048576.0 AS forecast,
        |  sae::DOUBLE / (1048576.0 * (n_days - 1)::DOUBLE) AS mae
        |FROM fin
        |UNION ALL
        |SELECT i.event_type, CAST(1 AS BIGINT), i.y::DOUBLE / 1048576.0, 0.0,
        |  i.y::DOUBLE / 1048576.0, 0.0
        |FROM idx i JOIN nd n ON n.event_type = i.event_type
        |WHERE n.n_days = 1 AND i.rn = 1
        |ORDER BY event_type""".stripMargin,

    // CUPED: pooled theta over exact user-grain moments, md5 arms,
    // every float step in RateAnomaly.cuped's association order
    "ab_cuped" ->
      s"""WITH e AS (
         |  SELECT user_id, (${md24("'ab:' || user_id::VARCHAR")}) % 2 AS arm,
         |    (CAST(ts AS TIMESTAMP)::DATE - DATE '1970-01-01')::INTEGER AS day,
         |    CAST(floor(value * 1048576) AS BIGINT) AS v
         |  FROM events),
         |md AS (SELECT (min(day) + max(day)) // 2 AS mid FROM e),
         |u AS (SELECT user_id, arm,
         |    sum(CASE WHEN day <= mid THEN v ELSE 0 END)::BIGINT AS x,
         |    sum(CASE WHEN day > mid THEN v ELSE 0 END)::BIGINT AS y
         |  FROM e CROSS JOIN md GROUP BY 1, 2),
         |m AS (SELECT count(*)::BIGINT AS n_users,
         |    sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
         |    sum(x::HUGEINT * y::HUGEINT) AS sxy,
         |    sum(x::HUGEINT * x::HUGEINT) AS sxx,
         |    sum(y::HUGEINT * y::HUGEINT) AS syy,
         |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
         |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         |    sum(CASE WHEN arm = 0 THEN x::HUGEINT ELSE 0 END) AS sx0,
         |    sum(CASE WHEN arm = 1 THEN x::HUGEINT ELSE 0 END) AS sx1,
         |    sum(CASE WHEN arm = 0 THEN y::HUGEINT ELSE 0 END) AS sy0,
         |    sum(CASE WHEN arm = 1 THEN y::HUGEINT ELSE 0 END) AS sy1
         |  FROM u),
         |x AS (SELECT *,
         |    n_users::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE AS covn,
         |    n_users::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS varxn,
         |    n_users::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE AS varyn,
         |    sx::DOUBLE / n_users::DOUBLE AS xbar
         |  FROM m),
         |y AS (SELECT n_users, n0, n1,
         |    CASE WHEN varxn = 0 THEN 0 ELSE covn / varxn END AS theta,
         |    CASE WHEN varxn = 0 OR varyn = 0 THEN 0
         |      ELSE (covn * covn) / (varxn * varyn) END AS var_reduction,
         |    sy0::DOUBLE / (n0::DOUBLE * 1048576.0) AS mean_y0,
         |    sy1::DOUBLE / (n1::DOUBLE * 1048576.0) AS mean_y1,
         |    (sy0::DOUBLE - (CASE WHEN varxn = 0 THEN 0 ELSE covn / varxn END)
         |        * (sx0::DOUBLE - n0::DOUBLE * xbar))
         |      / (n0::DOUBLE * 1048576.0) AS adj_y0,
         |    (sy1::DOUBLE - (CASE WHEN varxn = 0 THEN 0 ELSE covn / varxn END)
         |        * (sx1::DOUBLE - n1::DOUBLE * xbar))
         |      / (n1::DOUBLE * 1048576.0) AS adj_y1
         |  FROM x)
         |SELECT *, mean_y1 - mean_y0 AS diff_raw, adj_y1 - adj_y0 AS diff_adj
         |FROM y""".stripMargin,

    // zone-map skip audit: exact ntile file assignment per layout, the
    // morton interleave replayed shift-for-shift (the zorder_code walk)
    "layout_zonemap" ->
      s"""WITH c AS MATERIALIZED (
         |  SELECT doc_id, n_chars::BIGINT AS a,
         |    (${md24("doc_id::VARCHAR")} % 65536) AS dim_b
         |  FROM documents),
         |z AS MATERIALIZED (SELECT *,
         |    list_sum(list_transform(range(0, 16), i ->
         |      ((((a >> i) & 1) << (2 * i)) + (((dim_b >> i) & 1) << (2 * i + 1)))))::BIGINT AS zcode
         |  FROM c),
         |l AS (
         |  SELECT 'ingest' AS layout, a, dim_b, ntile(64) OVER (ORDER BY doc_id) AS f FROM z
         |  UNION ALL
         |  SELECT 'sort_a', a, dim_b, ntile(64) OVER (ORDER BY a, doc_id) FROM z
         |  UNION ALL
         |  SELECT 'zorder', a, dim_b, ntile(64) OVER (ORDER BY zcode, doc_id) FROM z),
         |fr AS (SELECT layout, f, min(a) AS mna, max(a) AS mxa,
         |    min(dim_b) AS mnb, max(dim_b) AS mxb
         |  FROM l GROUP BY 1, 2),
         |b AS (SELECT * FROM (VALUES
         |    ('a_slice', 2000, 2200, 0, 65535),
         |    ('b_slice', 0, 1000000, 0, 4095)) t(box, lo_a, hi_a, lo_b, hi_b)),
         |j AS (SELECT layout, box,
         |    CASE WHEN mxa >= lo_a AND mna <= hi_a AND mxb >= lo_b AND mnb <= hi_b
         |      THEN 1 ELSE 0 END AS hit
         |  FROM fr CROSS JOIN b)
         |SELECT layout, box, count(*)::BIGINT AS n_files, sum(hit)::BIGINT AS files_hit,
         |  (count(*) - sum(hit))::DOUBLE / count(*)::DOUBLE AS skip_fraction
         |FROM j GROUP BY 1, 2 ORDER BY layout, box""".stripMargin,

    // nDCG@10 of the 16-dim prefix ranking vs exact-rank graded
    // relevance; discounts are JVM 2^-40-grid literals
    // (Retrieval.ndcgDiscountsFp shared verbatim)
    "retrieval_ndcg" -> {
      val dot64 = "list_reduce(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE), (x, y) -> x + y)"
      val d64qq = "list_reduce(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE), (x, y) -> x + y)"
      val d64cc = "list_reduce(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE), (x, y) -> x + y)"
      val dot16 = "list_reduce(list_transform(range(1, 17), i -> qv[i]::DOUBLE * cv[i]::DOUBLE), (x, y) -> x + y)"
      val d16qq = "list_reduce(list_transform(range(1, 17), i -> qv[i]::DOUBLE * qv[i]::DOUBLE), (x, y) -> x + y)"
      val d16cc = "list_reduce(list_transform(range(1, 17), i -> cv[i]::DOUBLE * cv[i]::DOUBLE), (x, y) -> x + y)"
      val disc = graft.operators.Retrieval.ndcgDiscountsFp(10).mkString(", ")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |sf AS (SELECT query_id, neighbor_id,
         |    $dot64 / (sqrt($d64qq) * sqrt($d64cc)) AS cosine FROM q CROSS JOIN c),
         |exact AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM sf) WHERE rank <= 10),
         |st AS (SELECT query_id, neighbor_id,
         |    $dot16 / (sqrt($d16qq) * sqrt($d16cc)) AS cosine FROM q CROSS JOIN c),
         |approx AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM st) WHERE rank <= 10),
         |lab AS (SELECT query_id, neighbor_id,
         |    CASE WHEN rank <= 2 THEN 3 WHEN rank <= 5 THEN 2 ELSE 1 END AS rel
         |  FROM exact),
         |dd AS (SELECT a.query_id,
         |    sum((CASE coalesce(l.rel, 0) WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END)
         |      * list_extract([$disc], a.rank)) AS dcg_fp
         |  FROM approx a LEFT JOIN lab l
         |    ON l.query_id = a.query_id AND l.neighbor_id = a.neighbor_id
         |  GROUP BY 1),
         |ii AS (SELECT query_id,
         |    sum((CASE WHEN rank <= 2 THEN 7 WHEN rank <= 5 THEN 3 ELSE 1 END)
         |      * list_extract([$disc], rank)) AS idcg_fp
         |  FROM exact GROUP BY 1)
         |SELECT dd.query_id, dd.dcg_fp::BIGINT AS dcg_fp, ii.idcg_fp::BIGINT AS idcg_fp,
         |  dd.dcg_fp::DOUBLE / ii.idcg_fp::DOUBLE AS ndcg
         |FROM dd JOIN ii ON ii.query_id = dd.query_id ORDER BY dd.query_id""".stripMargin
    },

    // MRR@10 + recall@10 on the retrieval_ndcg candidate tables:
    // relevant = exact top-10 membership; rr is ONE double division of
    // the integer first-hit rank (0.0 when no hit)
    "retrieval_mrr" -> {
      val dot64 = "list_reduce(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE), (x, y) -> x + y)"
      val d64qq = "list_reduce(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE), (x, y) -> x + y)"
      val d64cc = "list_reduce(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE), (x, y) -> x + y)"
      val dot16 = "list_reduce(list_transform(range(1, 17), i -> qv[i]::DOUBLE * cv[i]::DOUBLE), (x, y) -> x + y)"
      val d16qq = "list_reduce(list_transform(range(1, 17), i -> qv[i]::DOUBLE * qv[i]::DOUBLE), (x, y) -> x + y)"
      val d16cc = "list_reduce(list_transform(range(1, 17), i -> cv[i]::DOUBLE * cv[i]::DOUBLE), (x, y) -> x + y)"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |sf AS (SELECT query_id, neighbor_id,
         |    $dot64 / (sqrt($d64qq) * sqrt($d64cc)) AS cosine FROM q CROSS JOIN c),
         |exact AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM sf) WHERE rank <= 10),
         |st AS (SELECT query_id, neighbor_id,
         |    $dot16 / (sqrt($d16qq) * sqrt($d16cc)) AS cosine FROM q CROSS JOIN c),
         |approx AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM st) WHERE rank <= 10),
         |j AS (SELECT a.query_id, a.rank,
         |    CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM approx a LEFT JOIN exact r
         |    ON r.query_id = a.query_id AND r.neighbor_id = a.neighbor_id)
         |SELECT query_id,
         |  min(CASE WHEN hit = 1 THEN rank END)::INTEGER AS first_rel_rank,
         |  coalesce(1.0::DOUBLE / min(CASE WHEN hit = 1 THEN rank END)::DOUBLE, 0.0::DOUBLE) AS rr,
         |  sum(hit)::INTEGER AS n_hits,
         |  ((sum(hit) * 100) // count(*))::INTEGER AS recall_pct
         |FROM j GROUP BY query_id ORDER BY query_id""".stripMargin
    },

    // quantile normalization: exact ntile buckets, integer floor-division
    // bucket means on the 2^20 grid, integer cross-source target
    "quality_qnorm" ->
      """WITH r AS (SELECT source, doc_id, n_chars::BIGINT AS s,
        |    ntile(20) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS b
        |  FROM documents),
        |g AS (SELECT source, b, count(*)::BIGINT AS n_docs, sum(s)::BIGINT AS sm
        |  FROM r GROUP BY 1, 2),
        |g2 AS (SELECT source, b, n_docs, sm, (sm * 1048576) // n_docs AS mean_fp FROM g),
        |t AS (SELECT b, (sum(mean_fp) // count(*))::BIGINT AS target_fp FROM g2 GROUP BY 1)
        |SELECT g2.source, g2.b::INTEGER AS bucket, g2.n_docs,
        |  g2.sm::DOUBLE / g2.n_docs::DOUBLE AS mean_raw,
        |  t.target_fp::DOUBLE / 1048576.0 AS target
        |FROM g2 JOIN t ON t.b = g2.b ORDER BY source, bucket""".stripMargin,

    // top principal component: exact HUGEINT scatter matrix + 16
    // unrolled power-iteration CTE layers (the classifier_train
    // discipline), sign-preserving truncating renormalization
    "emb_pca_top" ->
      s"""WITH ${pcaCtes(16)},
         |fin AS (SELECT c.i, sum(c.v * wf.w) AS raw
         |  FROM cmat c JOIN w16 wf ON wf.i = c.j GROUP BY 1),
         |ray AS (SELECT ((sum(f.raw * w.w) * 1048576) // sum(w.w * w.w))::DOUBLE / 1048576.0 AS eigenvalue
         |  FROM fin f JOIN w16 w ON w.i = f.i)
         |SELECT (w.i - 1)::INTEGER AS dim, w.w::BIGINT AS component_fp,
         |  w.w::DOUBLE / 1048576.0 AS component, ray.eigenvalue
         |FROM w16 w CROSS JOIN ray ORDER BY dim""".stripMargin,

    // anisotropy alignment: the same PCA fit, broadcast back as the
    // scoring constant -- cos(v, u) + kept-energy fraction per vector
    "emb_debias" ->
      s"""WITH ${pcaCtes(16)},
         |uv AS MATERIALIZED (SELECT i, w FROM w16),
         |u2 AS (SELECT sum(w * w)::BIGINT AS s FROM uv),
         |gv AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1024) AS BIGINT)) AS g
         |  FROM embeddings),
         |dd AS (SELECT vec_id,
         |    sum(g[u.i] * u.w)::BIGINT AS d,
         |    sum(g[u.i] * g[u.i])::BIGINT AS g2
         |  FROM gv, uv u GROUP BY 1),
         |x AS (SELECT vec_id,
         |    CASE WHEN g2 > 0 THEN d::DOUBLE
         |      / (sqrt(g2::DOUBLE) * sqrt((SELECT s FROM u2)::DOUBLE)) ELSE 0.0 END AS align_cos
         |  FROM dd)
         |SELECT vec_id, align_cos, 1.0 - align_cos * align_cos AS residual_ratio
         |FROM x ORDER BY vec_id""".stripMargin,

    // IVF nprobe sweep: one kmeans fit + assignment, probe order kept,
    // recall per nprobe read off the candidate table (ivfOracleSql
    // tie-breaks: assignment -> higher cell, probe -> lower cell)
    "ann_ivf_sweep" -> {
      val (iters, cells, sampleN, k) = (10, 16, 2000, 10)
      s"""WITH ${kmeansFitCtes("embeddings", iters, cells, sampleN)},
         |allv AS (
         |  SELECT vec_id, embedding, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
         |),
         |cassign AS MATERIALIZED (
         |  SELECT vec_id, embedding, j AS cell FROM (
         |    SELECT a.vec_id, a.embedding, c.j,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY ${d2("a.v", "c.c")} ASC, c.j DESC) AS pick
         |    FROM allv a CROSS JOIN cent$iters c)
         |  WHERE pick = 1
         |),
         |qprobe AS (
         |  SELECT vec_id AS query_id, embedding AS qv, j AS cell, pick FROM (
         |    SELECT a.vec_id, a.embedding, c.j,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY ${d2("a.v", "c.c")} ASC, c.j ASC) AS pick
         |    FROM allv a CROSS JOIN cent$iters c
         |    WHERE a.vec_id < 10)
         |  WHERE pick <= 8
         |),
         |sc0 AS MATERIALIZED (
         |  SELECT q.query_id, c.vec_id AS neighbor_id, min(q.pick)::BIGINT AS avail,
         |    max(${dot("q.qv", "c.embedding")}
         |      / (sqrt(${dot("q.qv", "q.qv")}) * sqrt(${dot("c.embedding", "c.embedding")}))) AS cosine
         |  FROM qprobe q JOIN cassign c USING (cell) GROUP BY 1, 2
         |),
         |qx AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |cx AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |sf AS (SELECT query_id, neighbor_id,
         |    ${dot("qv", "cv")} / (sqrt(${dot("qv", "qv")}) * sqrt(${dot("cv", "cv")})) AS cosine
         |  FROM qx CROSS JOIN cx),
         |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM sf) WHERE rank <= $k),
         |tot AS (SELECT count(*)::BIGINT AS n_exact FROM ex),
         |rk AS (SELECT np.nprobe, s.query_id, s.neighbor_id,
         |    row_number() OVER (PARTITION BY s.query_id, np.nprobe
         |      ORDER BY s.cosine DESC, s.neighbor_id) AS rank
         |  FROM (SELECT unnest([1, 2, 4, 8]) AS nprobe) np
         |  JOIN sc0 s ON s.avail <= np.nprobe),
         |top AS (SELECT nprobe, query_id, neighbor_id FROM rk WHERE rank <= $k)
         |SELECT nprobe::INTEGER AS nprobe, count(*)::BIGINT AS n_returned,
         |  sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
         |  sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |    / (SELECT n_exact FROM tot)::DOUBLE AS recall
         |FROM top LEFT JOIN ex e USING (query_id, neighbor_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // MATTR: exact distinct counts over stride-10 sliding 50-token
    // windows, one integer division per doc -- TextAnalysis.mattr
    "text_mattr" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
        |f AS (SELECT doc_id, len(tk)::BIGINT AS n_tokens, tk FROM t WHERE len(tk) >= 50),
        |w AS (SELECT doc_id, n_tokens,
        |    list_sum(list_transform(range(0, ((n_tokens - 50) // 10)::INTEGER + 1), i ->
        |      len(list_distinct(list_slice(tk, (i * 10 + 1)::BIGINT, (i * 10 + 50)::BIGINT)))))::BIGINT AS dsum,
        |    ((n_tokens - 50) // 10 + 1)::BIGINT AS n_windows
        |  FROM f)
        |SELECT doc_id, n_tokens, n_windows,
        |  dsum::DOUBLE / (n_windows * 50)::DOUBLE AS mattr
        |FROM w ORDER BY doc_id""".stripMargin,

    // DAU/WAU stickiness: one user-day dedup, bounded 7-day trailing
    // membership, one division per day
    "event_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP)::DATE AS day FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |dau AS (SELECT day AS report_day, count(DISTINCT user_id)::BIGINT AS dau
        |  FROM ud GROUP BY 1),
        |wau AS (SELECT d.day AS report_day, count(DISTINCT u.user_id)::BIGINT AS wau
        |  FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day GROUP BY 1)
        |SELECT dau.report_day, dau.dau, wau.wau,
        |  dau.dau::DOUBLE / wau.wau::DOUBLE AS stickiness
        |FROM dau JOIN wau USING (report_day) ORDER BY report_day""".stripMargin,

    // energy VAD: exact |int16 LE| window energies from hex pairs,
    // threshold gate, islands-numbered segments (Multimodal.vadSegments
    // at the mm_audio_windows layout: 64-byte windows, 32-byte hop)
    "mm_audio_vad" -> {
      def h2(pos: String): String =
        s"""list_reduce(list_transform(string_split(substr(wh, $pos, 2), ''),
           |        ch -> strpos('0123456789ABCDEF', ch) - 1), (xa, xb) -> xa * 16 + xb)""".stripMargin
      s"""WITH b AS (SELECT doc_id, encode(text) AS p FROM documents),
         |s AS (SELECT doc_id, upper(hex(p)) AS h, octet_length(p)::BIGINT AS nb
         |  FROM b WHERE octet_length(p) >= 64),
         |wi AS (SELECT doc_id, h, unnest(range(0, ((nb - 64) // 32) + 1)) AS wi FROM s),
         |wh AS (SELECT doc_id, wi::INTEGER AS window_idx,
         |    substr(h, (wi * 64 + 1)::BIGINT, 128) AS wh FROM wi),
         |rw AS (SELECT doc_id, window_idx,
         |    list_transform(range(0, 32), k ->
         |      ${h2("(k * 4 + 1)::BIGINT")} + 256 * ${h2("(k * 4 + 3)::BIGINT")}) AS raws
         |  FROM wh),
         |en AS (SELECT doc_id, window_idx,
         |    list_sum(list_transform(raws, r ->
         |      abs(CASE WHEN r >= 32768 THEN r - 65536 ELSE r END)))::BIGINT AS energy
         |  FROM rw),
         |fl AS (SELECT doc_id, window_idx, energy, energy > 27500 * 32 AS active FROM en),
         |nw AS (SELECT *, CASE WHEN active AND NOT coalesce(
         |      lag(active) OVER (PARTITION BY doc_id ORDER BY window_idx), false)
         |    THEN 1 ELSE 0 END AS nw FROM fl)
         |SELECT doc_id, window_idx, energy, active,
         |  CASE WHEN active THEN sum(nw) OVER (PARTITION BY doc_id ORDER BY window_idx)
         |    ELSE -1 END::BIGINT AS segment
         |FROM nw ORDER BY doc_id, window_idx""".stripMargin
    },

    // sample-ratio mismatch: user-grain arm counts vs 50/50, exact
    // integers until one division; A/A calibration on the md5 coin
    "ab_srm" ->
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |a AS (SELECT (${md24("'ab:' || user_id::VARCHAR")}) % 2 AS arm FROM u),
         |m AS (SELECT count(*)::BIGINT AS n_users,
         |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
         |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
         |  FROM a)
         |SELECT n_users, n0, n1,
         |  ((n0 - n1) * (n0 - n1))::DOUBLE / (n0 + n1)::DOUBLE AS chi2,
         |  ((n0 - n1) * (n0 - n1))::DOUBLE / (n0 + n1)::DOUBLE > 3.841 AS srm
         |FROM m""".stripMargin,

    // seasonally-adjusted daily outliers: alerts are cross-multiplied
    // integer comparisons against the (key, dow) baseline
    "event_seasonal_adjusted" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    (CAST(ts AS TIMESTAMP)::DATE - DATE '1970-01-01')::INTEGER AS day,
        |    (dayofweek(CAST(ts AS TIMESTAMP)))::INTEGER AS dow,
        |    count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2, 3),
        |prof AS (SELECT event_type, dow, count(*)::BIGINT AS nd, sum(c)::BIGINT AS sm
        |  FROM daily GROUP BY 1, 2)
        |SELECT d.event_type, d.day, d.dow, d.c,
        |  p.sm::DOUBLE / p.nd::DOUBLE AS expected,
        |  (d.c * p.nd)::DOUBLE / p.sm::DOUBLE AS seasonal_index,
        |  d.c * p.nd > 2 * p.sm AS high,
        |  2 * d.c * p.nd < p.sm AS low
        |FROM daily d JOIN prof p USING (event_type, dow)
        |ORDER BY d.event_type, d.day""".stripMargin,

    // session-gap sweep: one lag pass, every threshold a conditional
    // sum in the same aggregate -- Sessionize.gapSweep
    "session_gap_sweep" ->
      s"""WITH o AS (SELECT user_id,
         |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
         |  FROM $EV),
         |a AS (SELECT count(*)::BIGINT AS ne,
         |    sum(CASE WHEN gap_us IS NULL THEN 1 ELSE 0 END)::BIGINT AS nf,
         |    sum(CASE WHEN gap_us > 5::BIGINT * 60000000 THEN 1 ELSE 0 END)::BIGINT AS g5,
         |    sum(CASE WHEN gap_us > 30::BIGINT * 60000000 THEN 1 ELSE 0 END)::BIGINT AS g30,
         |    sum(CASE WHEN gap_us > 60::BIGINT * 60000000 THEN 1 ELSE 0 END)::BIGINT AS g60,
         |    sum(CASE WHEN gap_us > 240::BIGINT * 60000000 THEN 1 ELSE 0 END)::BIGINT AS g240
         |  FROM o),
         |w AS (SELECT unnest([5, 30, 60, 240]) AS gap_min),
         |x AS (SELECT gap_min::INTEGER AS gap_min,
         |    (nf + CASE gap_min WHEN 5 THEN g5 WHEN 30 THEN g30 WHEN 60 THEN g60 ELSE g240 END)::BIGINT AS n_sessions,
         |    ne AS n_events
         |  FROM w CROSS JOIN a)
         |SELECT gap_min, n_sessions, n_events,
         |  n_events::DOUBLE / n_sessions::DOUBLE AS events_per_session
         |FROM x ORDER BY gap_min""".stripMargin,

    // DP median by exponential mechanism as reproducible Gumbel-max:
    // same hash-derived uniform discipline as dp_counts
    "dp_quantile" ->
      s"""WITH c AS (SELECT lang, n_chars // 100 AS b, count(*)::BIGINT AS cnt
         |  FROM documents GROUP BY 1, 2),
         |r AS (SELECT lang, b, cnt,
         |    sum(cnt) OVER (PARTITION BY lang) AS n,
         |    sum(cnt) OVER (PARTITION BY lang ORDER BY b) AS rk
         |  FROM c),
         |t AS (SELECT *, ceil(0.5 * n::DOUBLE)::BIGINT AS target FROM r),
         |s AS (SELECT lang, b, n, rk, target,
         |    0.5 * (-abs(rk - target))::DOUBLE
         |      + -ln(-ln(((${md24("'dpq:' || lang || ':' || b::VARCHAR")})::DOUBLE + 0.5) / 16777216.0)) AS score
         |  FROM t),
         |p AS (SELECT *,
         |    row_number() OVER (PARTITION BY lang ORDER BY score DESC, b) AS pick,
         |    min(CASE WHEN rk >= target THEN b END) OVER (PARTITION BY lang) AS true_b
         |  FROM s)
         |SELECT lang, n::BIGINT AS n, true_b AS true_bucket, b AS dp_bucket
         |FROM p WHERE pick = 1 ORDER BY lang""".stripMargin,

    // attribution-window sensitivity: one 60-min-bounded pair pass,
    // per-purchase min gap, the sweep reads the bounded table
    "attribution_window_sweep" ->
      s"""WITH c AS (SELECT user_id, ts AS click_ts FROM $EV WHERE event_type = 'click'),
         |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts FROM $EV WHERE event_type = 'purchase'),
         |g AS (SELECT purchase_id,
         |    min(epoch_us(purchase_ts) - epoch_us(click_ts))::BIGINT AS min_gap_us
         |  FROM p JOIN c USING (user_id)
         |  WHERE click_ts <= purchase_ts AND click_ts >= purchase_ts - INTERVAL 60 MINUTE
         |  GROUP BY 1),
         |t AS (SELECT count(*)::BIGINT AS n_purchases FROM p),
         |w AS (SELECT unnest([1, 5, 15, 30, 60]) AS window_min)
         |SELECT window_min::INTEGER AS window_min,
         |  (SELECT n_purchases FROM t) AS n_purchases,
         |  sum(CASE WHEN min_gap_us <= window_min::BIGINT * 60000000 THEN 1 ELSE 0 END)::BIGINT AS n_attributed,
         |  sum(CASE WHEN min_gap_us <= window_min::BIGINT * 60000000 THEN 1 ELSE 0 END)::DOUBLE
         |    / (SELECT n_purchases FROM t)::DOUBLE AS rate
         |FROM w CROSS JOIN g GROUP BY 1 ORDER BY 1""".stripMargin,

    // duplicate-cluster size histogram: the dedup_clusters closure's
    // size table rolled up to (size, n_clusters)
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE ${simhashFp()},
         |pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM fp x JOIN fp y ON x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3),
         |sym AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.id, sym.b FROM reach JOIN sym ON sym.a = reach.r),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |sz AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
         |SELECT cluster_size::BIGINT AS cluster_size, count(*)::BIGINT AS n_clusters
         |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin,

    // CLIP-score gate: stub tile intensities + hashed caption buckets,
    // integer dot/norms, one float chain -- Multimodal.clipScoreGate
    "mm_clip_filter" -> {
      val md24w =
        """list_reduce(list_transform(string_split(substr(md5(w), 1, 6), ''),
          |      ch -> strpos('0123456789abcdef', ch) - 1), (ja, jb) -> ja * 16 + jb)::BIGINT""".stripMargin
      val reSpace = """'\s+'"""
      s"""WITH b AS MATERIALIZED (
         |  SELECT doc_id, encode(text) AS p, lower(trim(text)) AS t FROM documents
         |  WHERE octet_length(encode(text)) >= 4),
         |s AS MATERIALIZED (SELECT doc_id, upper(hex(p)) AS h,
         |    floor((octet_length(p) - 4) / 15)::INTEGER AS st, t FROM b),
         |f AS (SELECT doc_id, i::INTEGER AS d,
         |    substr(h, (i * st * 2 + 1)::BIGINT, 8) AS th
         |  FROM s, unnest(range(0, 16)) AS tt(i)),
         |iv AS (SELECT doc_id, d,
         |    list_sum(list_transform(range(0, 4), j ->
         |      list_reduce(list_transform(string_split(substr(th, (j * 2 + 1)::BIGINT, 2), ''),
         |        ch -> strpos('0123456789ABCDEF', ch) - 1), (xa, xb) -> xa * 16 + xb)))::BIGINT AS v
         |  FROM f),
         |bk AS (SELECT doc_id, list_transform(string_split_regex(t, $reSpace),
         |    w -> $md24w % 16) AS bks FROM s),
         |tv AS (SELECT doc_id, i::INTEGER AS d,
         |    list_sum(list_transform(bks, bb -> CASE WHEN bb = i THEN 1 ELSE 0 END))::BIGINT AS v
         |  FROM bk, unnest(range(0, 16)) AS tt(i)),
         |m AS (SELECT iv.doc_id,
         |    sum(iv.v * tv.v)::BIGINT AS dot,
         |    sum(iv.v * iv.v)::BIGINT AS n1,
         |    sum(tv.v * tv.v)::BIGINT AS n2
         |  FROM iv JOIN tv ON tv.doc_id = iv.doc_id AND tv.d = iv.d GROUP BY 1)
         |SELECT doc_id,
         |  CASE WHEN n1 > 0 AND n2 > 0
         |    THEN dot::DOUBLE / (sqrt(n1::DOUBLE) * sqrt(n2::DOUBLE)) ELSE 0.0 END AS clip_score,
         |  (CASE WHEN n1 > 0 AND n2 > 0
         |    THEN dot::DOUBLE / (sqrt(n1::DOUBLE) * sqrt(n2::DOUBLE)) ELSE 0.0 END) >= 0.95 AS kept
         |FROM m ORDER BY doc_id""".stripMargin
    },

    // t-closeness: variational distance per class as exact HUGEINT cross
    // products, one float division, Privacy.tCloseness's association
    "privacy_tcloseness" ->
      """WITH triple AS MATERIALIZED (
        |  SELECT lang, n_chars // 500 AS len_bucket, source, count(*)::BIGINT AS n
        |  FROM documents GROUP BY 1, 2, 3),
        |g AS (SELECT source, sum(n)::BIGINT AS ns FROM triple GROUP BY 1),
        |tot AS (SELECT sum(n)::BIGINT AS nt FROM triple),
        |cls AS (SELECT lang, len_bucket, sum(n)::BIGINT AS group_n FROM triple GROUP BY 1, 2),
        |grid AS (SELECT c.lang, c.len_bucket, c.group_n, g.source, g.ns,
        |    coalesce(t3.n, 0)::BIGINT AS n
        |  FROM cls c CROSS JOIN g
        |  LEFT JOIN triple t3 ON t3.lang = c.lang AND t3.len_bucket = c.len_bucket
        |    AND t3.source = g.source),
        |agg AS (SELECT lang, len_bucket, max(group_n) AS group_n,
        |    sum(abs(n::HUGEINT * (SELECT nt FROM tot) - ns::HUGEINT * group_n)) AS num
        |  FROM grid GROUP BY 1, 2),
        |fin AS (SELECT lang, len_bucket, group_n,
        |    num::DOUBLE / (2.0 * (SELECT nt FROM tot)::DOUBLE * group_n::DOUBLE) AS t_dist
        |  FROM agg)
        |SELECT lang, len_bucket, group_n, t_dist, t_dist <= 0.25 AS close
        |FROM fin ORDER BY lang, len_bucket""".stripMargin
  )
}
