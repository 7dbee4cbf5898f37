package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.functions._

import graft.functions.TimeFns
import graft.operators.Dedup
import graft.schema.EngineConfig
import graft.sinks.Sink
import graft.state.StateStore
import graft.transform.IssueTransform

/** Pipeline orchestration ≙ YandexTrackerETL.run (etl.py:202-264):
  * watermark-bounded scan → transform into three tables → latest-version
  * dedup → sinks → commit watermark only after every write succeeded
  * (:242-256). Re-runs are idempotent because dedup is an explicit
  * operator on the DDL sort keys (replacing ReplacingMergeTree +
  * `OPTIMIZE FINAL`, S7/A4).
  */
object IssuePipeline {

  final case class Payload(issues: DataFrame, metrics: DataFrame, changelog: DataFrame) {
    /** Typed `Dataset[T]` view (by-name conversion: column order is
      * irrelevant, U1 extension columns are dropped) for consumers that
      * want compile-time field access over the three tables.
      */
    def typed: TypedPayload = {
      val spark = issues.sparkSession
      import spark.implicits._
      TypedPayload(
        issues.as[graft.schema.IssueRow],
        metrics.as[graft.schema.MetricRow],
        changelog.as[graft.schema.ChangelogRow])
    }
  }

  final case class TypedPayload(
      issues: org.apache.spark.sql.Dataset[graft.schema.IssueRow],
      metrics: org.apache.spark.sql.Dataset[graft.schema.MetricRow],
      changelog: org.apache.spark.sql.Dataset[graft.schema.ChangelogRow])

  /** Run statistics ≙ A5/P10 (etl.py:155-190): processed counts plus the
    * count of issues whose changelog yielded no metric rows (they still
    * load an issue row; reference etl.py:173-177).
    */
  final case class RunStats(
      issuesProcessed: Long,
      metricsRows: Long,
      changelogRows: Long,
      issuesWithoutMetrics: Long,
      newWatermark: Option[String],
      uploaded: Boolean)

  /** DDL sort keys (migrations/clickhouse/000001..000003 ORDER BY) —
    * the dedup identity of each table; `version` picks the survivor.
    */
  val sortKeys: Map[String, Seq[String]] = Map(
    "issues" -> Seq("issue_key"),
    "issue_metrics" -> Seq("issue_key", "status_name", "last_seen"),
    "issues_changelog" -> Seq("issue_key", "event_time", "event_type", "changed_field"))

  def transform(raw: DataFrame, cfg: EngineConfig = EngineConfig(),
                version: Column = current_timestamp()): Payload = {
    val wf = IssueTransform.workflowEvents(raw, cfg)
    Payload(
      issues = IssueTransform.issues(raw, cfg, version),
      metrics = IssueTransform.metrics(wf, version),
      changelog =
        if (cfg.changelogExportEnabled) IssueTransform.changelog(raw, version)
        else IssueTransform.changelog(raw.limit(0), version))
  }

  /** Latest-version dedup per table on its DDL sort key (A4). One run
    * pins one `version` for every row, so a window holding two documents
    * of one issue ties on it; `updated_at` breaks the tie towards the
    * newer document, whatever order the source delivers them in.
    *
    * Every sort key starts with `issue_key`, so each table is first
    * clustered on `issue_key` alone, as the reference's ReplacingMergeTree
    * stores it. That one shuffle already satisfies the dedup's
    * distribution, so the dedup aggregates after it, with no sort or
    * partial aggregate before it (a partial pass merges nothing when a
    * table holds one row per key), and all rows of one issue land in one
    * output file. The repartition takes no partition count, so AQE still
    * coalesces small outputs.
    */
  def dedup(p: Payload): Payload = {
    def latest(df: DataFrame, table: String, versionCols: Seq[String]): DataFrame =
      Dedup.latestByKey(df.repartition(col("issue_key")), sortKeys(table), versionCols)
    Payload(
      issues = latest(p.issues, "issues", Seq("version", "updated_at")),
      metrics = latest(p.metrics, "issue_metrics", Seq("version")),
      changelog = latest(p.changelog, "issues_changelog", Seq("version")))
  }

  /** Compile the scan predicate with the reference's three-way precedence
    * (etl.py:66-111, `_build_search_query`):
    *
    *   1. explicit search query — overrides everything ("Search query
    *      received, ignoring other filter params");
    *   2. stateful — `Updated > watermark`; on the FIRST run (no
    *      committed watermark) fall back to `now − statefulInitialRange`
    *      (reference default 1w, config.py:187), so a fresh deployment
    *      backfills a bounded window instead of the whole history. A
    *      configured queue list also applies in this arm (etl.py:85);
    *   3. sliding window — queue filter and/or `Updated >= now − range`
    *      (reference range default 2h, config.py:84).
    *
    * Returns None for an unbounded full scan — the library default when
    * nothing is configured (the reference CLI raises ConfigurationError
    * instead, etl.py:108-110: a service polling a live API must be
    * bounded; a library scanning a finite source need not be).
    *
    * Comparisons happen on PARSED timestamps, not wire strings — see the
    * watermark note on `windowStats`. The function-of-column predicate
    * evaluates inside the scan's codegen stage (not as a parquet
    * PushedFilter); at 100 TB raw documents land date-partitioned and
    * the same bound prunes partitions via the partition column.
    */
  def scanFilter(cfg: EngineConfig, watermark: Option[String],
                 now: java.time.Instant = java.time.Instant.now()): Option[Column] = {
    val updatedTs = TimeFns.parseTrackerDatetime(col("updatedAt"))
    def since(range: String): Column =
      updatedTs >= lit(java.sql.Timestamp.from(
        now.minusSeconds(TimeFns.fromHumanTime(range)))).cast("timestamp")
    val queueFilter: Option[Column] =
      if (cfg.search.queues.nonEmpty) Some(col("queue.key").isInCollection(cfg.search.queues))
      else None
    cfg.search.query match {
      case Some(q) => Some(expr(q))
      case None if cfg.stateful || watermark.isDefined =>
        val bound = watermark match {
          case Some(w) => Some(updatedTs > TimeFns.parseTrackerDatetime(lit(w)))
          case None => cfg.statefulInitialRange.map(since)
        }
        (queueFilter.toSeq ++ bound.toSeq).reduceOption(_ && _)
      case None if queueFilter.isDefined || cfg.search.range.isDefined =>
        (queueFilter.toSeq ++ cfg.search.range.map(since).toSeq).reduceOption(_ && _)
      case None => None
    }
  }

  /** One scheduled micro-batch. `source` is the full raw-issue corpus;
    * stateful mode filters it above the committed watermark
    * (etl.py:80-89), transforms, writes the three tables, and commits the
    * new watermark only after all writes succeed (etl.py:242-256).
    *
    * Single pass. The bounded window is cached, so the three tables and
    * the watermark come from one snapshot of a source that may change
    * under the run, and nothing is computed before the writes except one
    * aggregate over that window (`windowStats`). Where each
    * [[RunStats]] field comes from:
    *   - `issuesProcessed` (documents read), `issuesWithoutMetrics` and
    *     `newWatermark`: the window aggregate, which also fills the cache;
    *   - `metricsRows` and `changelogRows`: the `issue_metrics` and
    *     `issues_changelog` writes themselves, through an [[Observation]]
    *     on each frame (`writtenRows`).
    * Each table shuffles once, keyed on `issue_key`: `issues` and
    * `issues_changelog` in [[dedup]]'s clustering, `issue_metrics` in the
    * transform's own grouping. `issue_metrics` is written without a
    * dedup: it holds one row per (`issue_key`, `status_name`) under one
    * `version`, so it is already unique on its sort key.
    *
    * A run over the README walkthrough costs 10 Spark jobs (AQE runs each
    * shuffle stage and each cache fill as its own job): the cache fill,
    * the aggregate's two shuffle stages and result, and one shuffle plus
    * the write for each table. It cost 27 while the counts and the
    * watermark were separate actions.
    */
  def run(source: DataFrame,
          cfg: EngineConfig = EngineConfig(),
          sink: Sink,
          state: Option[StateStore] = None,
          stateKey: String = "last_update_at",
          version: Column = null,
          now: java.time.Instant = java.time.Instant.now()): RunStats = {

    // Bind version ONCE driver-side: current_timestamp() is query-constant
    // but not action-constant, so a per-action default would stamp the
    // three tables with three different versions within one run.
    val ver = Option(version).getOrElse(
      lit(new java.sql.Timestamp(System.currentTimeMillis())).cast("timestamp"))

    val watermark = state.flatMap(_.get(stateKey))
    val bounded = scanFilter(cfg, watermark, now)
      .map(source.where).getOrElse(source)
      .cache() // one snapshot: the window aggregate, the three writes

    try {
      val window = windowStats(bounded)
      // Early exit: nothing to export (etl.py:143-145).
      if (window.documents == 0) return RunStats(0, 0, 0, 0, watermark, uploaded = false)

      val tables = transform(bounded, cfg, ver)
      val payload = dedup(tables).copy(metrics = tables.metrics)
      val metricsRows = Observation("issue_metrics_rows")
      val changelogRows = Observation("issues_changelog_rows")
      sink.write(payload.issues, "issues")
      sink.write(payload.metrics.observe(metricsRows, count(lit(1))), "issue_metrics")
      sink.write(payload.changelog.observe(changelogRows, count(lit(1))), "issues_changelog")
      val stats = RunStats(window.documents, writtenRows(metricsRows, payload.metrics),
        writtenRows(changelogRows, payload.changelog),
        window.keys - window.keysWithMetrics, window.watermark.orElse(watermark), uploaded = true)

      // Commit-after-write ordering: the watermark moves only once every
      // table landed, so a failed run re-reads the same window and dedup
      // collapses the duplicates (exactly the reference's tolerance level).
      window.watermark.foreach(w => state.foreach(_.set(stateKey, w)))
      stats
    } finally bounded.unpersist()
  }

  /** What one aggregate over the bounded window yields: documents read,
    * distinct issue keys (a null key counts as one), the keys with at
    * least one valid status transition — exactly the keys that get
    * `issue_metrics` rows (P10: the others still load an issue row,
    * etl.py:173-177) — and the watermark to commit.
    */
  private final case class WindowStats(documents: Long, keys: Long, keysWithMetrics: Long,
                                       watermark: Option[String])

  /** The watermark is the wire string of the chronologically max
    * `updatedAt`, compared on PARSED timestamps, not wire strings:
    * ISO-8601 strings with mixed UTC offsets do not sort chronologically
    * as text ('...16:30+0000' < '...18:00+0300' lexicographically even
    * though it is the later instant). An all-null window has none.
    */
  private def windowStats(bounded: DataFrame): WindowStats = {
    val updatedTs = TimeFns.parseTrackerDatetime(col("updatedAt"))
    val hasTransition = exists(col("changelog"),
      ev => IssueTransform.isStatusTransition(ev, col("createdAt")))
    val r = bounded
      .groupBy(col("key"))
      .agg(
        count(lit(1)).as("documents"),
        max(hasTransition).as("has_metrics"),
        max_by(col("updatedAt"), updatedTs).as("wm"),
        max(updatedTs).as("wm_ts"))
      .agg(
        coalesce(sum(col("documents")), lit(0L)),
        count(lit(1)),
        count_if(col("has_metrics")),
        max_by(col("wm"), col("wm_ts")))
      .head()
    WindowStats(r.getLong(0), r.getLong(1), r.getLong(2), Option(r.getString(3)))
  }

  /** Rows the sink's write counted through `obs`. Spark completes an
    * [[Observation]] from its asynchronous listener bus after the action
    * returns, so the bus is drained before reading it. A sink that never
    * ran the frame leaves the observation empty; the frame is then
    * counted explicitly — still exact, since the window is cached.
    */
  private def writtenRows(obs: Observation, frame: DataFrame): Long = {
    if (!obs.future.isCompleted)
      try GraftBridge.drainListenerBus(frame.sparkSession)
      catch { case _: java.util.concurrent.TimeoutException => () }
    obs.future.value.flatMap(_.toOption).filter(_.length == 1).map(_.getLong(0))
      .getOrElse(frame.count())
  }
}
