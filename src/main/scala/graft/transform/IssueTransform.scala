package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{StringFns, TimeFns}
import graft.plans.GraftExtensions
import graft.schema.EngineConfig

/** The issue-document transform: nested raw issues → the three flat
  * tables (`issues`, `issue_metrics`, `issues_changelog`).
  *
  * Spark-first re-expression of the reference's per-issue Python loop
  * (models/issue.py:74-258): the projection is one `select`, the changelog
  * walk is `posexplode` + filters, the metric accumulator is a hash
  * aggregate, and the per-issue scalars derived from the changelog
  * (closed_at fallback, moved flags) are array filters over each
  * document's own changelog — every shuffle boundary is keyed by issue,
  * so at 100 TB each table is one partition-local pass after a single
  * exchange.
  */
object IssueTransform {

  private val WIRE_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSXX"
  private val OUT_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSS"

  private def parseDt(c: Column): Column = TimeFns.parseTrackerDatetime(c)

  /** null-safe lowered access (validate_resource low=True, helpers.py:91-99). */
  private def low(c: Column): Column = lower(c)

  /** Lowercase, then the one-pass `snake_case` kernel
    * ([[graft.plans.SnakeCase]], equal to `StringFns.snakeCase`).
    */
  private def snakeLower(c: Column): Column = GraftExtensions.snakeCaseExpr(lower(c))

  private def emptyStrArray: Column = array().cast("array<string>")

  /** Whether changelog event `ev` is a valid status transition
    * (models/issue.py:169-199): an `IssueWorkflow` event with ≥2 fields,
    * fields[0].field.id == "status", and a parseable datetime range whose
    * start falls back to the document's `createdAt` (issue.py:185). An
    * unparseable wire datetime nulls out under try-parse; the event is
    * dropped like the reference's per-row error isolation drops it (P9,
    * etl.py:180-183), so downstream durations and last_seen stay
    * non-null. The one predicate behind [[workflowEvents]], the
    * per-document `closed_at` scalar of [[issues]], and the run's count
    * of issues without metrics.
    */
  def isStatusTransition(ev: Column, createdRaw: Column): Column =
    ev.getField("type") === "IssueWorkflow" &&
      size(ev.getField("fields")) >= 2 &&
      ev.getField("fields")(0).getField("field").getField("id") === "status" &&
      transitionStart(ev, createdRaw).isNotNull && transitionEnd(ev).isNotNull

  private def transitionStart(ev: Column, createdRaw: Column): Column =
    parseDt(coalesce(ev.getField("fields")(1).getField("from").getField("s"), createdRaw))

  private def transitionEnd(ev: Column): Column =
    parseDt(ev.getField("fields")(1).getField("to").getField("s"))

  private def transitionStatus(ev: Column, side: String): Column =
    snakeLower(ev.getField("fields")(0).getField(side).getField("ref").getField("name"))

  /** Workflow status-transition events, one row per valid transition
    * ([[isStatusTransition]]). `pos` is the changelog array index (event
    * order — used for set-once/last-wins semantics downstream);
    * `updated_at` is the parsed `updatedAt` of the document the event
    * came from, which tells two documents of one issue apart.
    */
  def workflowEvents(raw: DataFrame, cfg: EngineConfig = EngineConfig()): DataFrame =
    raw
      .select(
        col("key").as("issue_key"),
        parseDt(col("updatedAt")).as("updated_at"),
        col("createdAt").as("_created_raw"),
        posexplode(col("changelog")).as(Seq("pos", "ev")))
      .where(isStatusTransition(col("ev"), col("_created_raw")))
      .select(
        col("issue_key"), col("updated_at"), col("pos"),
        transitionStatus(col("ev"), "from").as("status_name"),
        transitionStatus(col("ev"), "to").as("to_status"),
        transitionStart(col("ev"), col("_created_raw")).as("start_ts"),
        transitionEnd(col("ev")).as("end_ts"))
      .withColumn("duration", abs(TimeFns.timedeltaSeconds(col("end_ts"), col("start_ts"))))
      .withColumn("busdays_duration",
        GraftExtensions.businessSecondsExpr(col("start_ts"), col("end_ts"), cfg.calendar))

  /** A1: per-(issue, from-status) metric rows ≙ issue_metrics DDL
    * (models/issue.py:212-224, row class :43-62). `last_seen` is the end
    * time of the *first* event that created the group (set once —
    * `min_by(end_ts, pos)`), durations/counts accumulate.
    *
    * Only the newest document of an issue counts: a window may hold a
    * re-versioned document next to the one it replaces, and both carry the
    * shared history, so accumulating over both would count each old
    * transition twice. The newest is the max `updated_at` among the
    * documents with transitions — the document the issues dedup keeps,
    * since a Tracker changelog only grows. Documents tied on `updated_at`
    * all count. The window is partitioned by `issue_key`, which already
    * satisfies the aggregate's distribution: no extra shuffle.
    */
  def metrics(workflow: DataFrame, version: Column): DataFrame =
    workflow
      .withColumn("_newest", max(col("updated_at")).over(Window.partitionBy(col("issue_key"))))
      .where(col("updated_at") <=> col("_newest"))
      .groupBy(col("issue_key"), col("status_name"))
      .agg(
        count(lit(1)).cast("int").as("status_transitions_count"),
        sum(col("duration")).as("duration"),
        sum(col("busdays_duration")).as("busdays_duration"),
        min_by(col("end_ts"), col("pos")).as("last_seen"))
      .select(
        version.as("version"),
        col("last_seen"), col("issue_key"), col("status_name"),
        col("status_transitions_count"),
        col("duration"),
        TimeFns.toHumanTime(col("duration"), 2).as("human_readable_duration"),
        col("busdays_duration"),
        TimeFns.toHumanTime(col("busdays_duration"), 2).as("human_readable_busdays_duration"))

  /** P1–P5 wide projection ≙ issues DDL (models/issue.py:74-107), plus the
    * changelog-derived scalars: `closed_at` fallback (issue.py:204-210 —
    * resolved time if resolved, else end time of the last transition into
    * a closed status when the current status is closed) and
    * was_moved/moved_at/moved_by (issue.py:162-167, last IssueMoved wins).
    * Each scalar is read from the document's own `changelog` array (the
    * last matching element), so a row never mixes two documents of one
    * issue, and the projection needs no aggregate or join.
    *
    * U1 extensibility: extra user columns appended to the projection —
    * the Spark-first replacement for subclassing `TrackerIssue`
    * (examples/extended_model/main.py:9-31): each (name, expression over
    * the raw document) lands as an additional output column.
    */
  def issues(raw: DataFrame, cfg: EngineConfig = EngineConfig(), version: Column = current_timestamp(),
             extraColumns: Seq[(String, Column)] = Nil): DataFrame = {
    val closedSeq = cfg.closedStatuses.toSeq.sorted
    def last(p: Column => Column): Column = try_element_at(filter(col("changelog"), p), lit(-1))
    val lastClosing = last(ev =>
      isStatusTransition(ev, col("createdAt")) && transitionStatus(ev, "to").isInCollection(closedSeq))
    val lastMove = last(ev => ev.getField("type") === "IssueMoved")

    val extra = extraColumns.map { case (n, c) => c.as(n) }
    val proj = raw.select(Seq(
      col("key").as("issue_key"),
      col("queue.key").as("queue"),
      StringFns.stripEmoji(col("summary")).as("title"),
      // lowercase BEFORE snake_casing (validate_resource low=True then
      // to_snake_case, helpers.py:91-99 + models/issue.py:83-86): the
      // reference maps 'InProgress' → 'inprogress', not 'in_progress' —
      // and the transitions' to-status uses the same composition, so the
      // is_closed/closed_at comparisons below see consistent spellings
      snakeLower(col("type.name")).as("issue_type"),
      low(col("priority.name")).as("priority"),
      snakeLower(col("status.name")).as("status"),
      snakeLower(col("resolution.name")).as("resolution"),
      low(col("assignee.email")).as("assignee"),
      low(col("createdBy.email")).as("author"),
      low(col("qaEngineer.email")).as("qa_engineer"),
      coalesce(col("tags"), emptyStrArray).as("tags"),
      coalesce(transform(col("components"), c => c.getField("name")), emptyStrArray).as("components"),
      low(col("project.name")).as("project"),
      parseDt(col("createdAt")).as("created_at"),
      parseDt(col("updatedAt")).as("updated_at"),
      to_date(col("deadline")).as("deadline"),
      parseDt(col("resolvedAt")).as("resolved_at"),
      to_date(col("start")).as("start_date"),
      to_date(col("end")).as("end_date"),
      coalesce(col("storyPoints"), lit(0f)).as("story_points"),
      coalesce(transform(col("sprint"), s => s.getField("name")), emptyStrArray).as("sprints"),
      col("parent.key").as("parent_issue_key"),
      col("epic.key").as("epic_issue_key"),
      coalesce(col("aliases"), emptyStrArray).as("aliases"),
      transitionEnd(lastClosing).as("_last_closed_end"),
      lastMove.as("_last_move")) ++ extra: _*)

    proj
      .withColumn("is_resolved", col("resolution").isNotNull)
      // coalesce keeps is_closed BOOLEAN-not-null for a null status:
      // Python's `None in closed` is False, while SQL's `null IN (...)`
      // is null — the reference semantics are the non-null ones
      .withColumn("is_closed",
        coalesce(col("status").isInCollection(closedSeq), lit(false)) || col("is_resolved"))
      .withColumn("is_subtask", col("parent_issue_key").isNotNull && col("parent_issue_key") =!= "")
      .withColumn("closed_at",
        when(col("is_resolved") && col("resolved_at").isNotNull, col("resolved_at"))
          .when(col("status").isInCollection(closedSeq), col("_last_closed_end")))
      .withColumn("moved_at", parseDt(col("_last_move.updatedAt")))
      .withColumn("moved_by", low(col("_last_move.updatedBy.email")))
      .withColumn("was_moved", col("moved_at").isNotNull)
      .withColumn("version", version)
      .select(Seq(
        col("version"), col("queue"), col("title"), col("issue_key"), col("issue_type"),
        col("priority"), col("status"), col("resolution"), col("assignee"), col("author"),
        col("qa_engineer"), col("tags"), col("components"), col("project"), col("created_at"),
        col("updated_at"), col("deadline"), col("closed_at"), col("resolved_at"),
        col("start_date"), col("end_date"), col("is_subtask"), col("is_closed"),
        col("is_resolved"), col("story_points"), col("sprints"), col("parent_issue_key"),
        col("epic_issue_key"), col("aliases"), col("was_moved"), col("moved_at"), col("moved_by"))
        ++ extraColumns.map { case (n, _) => col(n) }: _*)
  }

  /** F9: stringify a heterogeneous changelog value (variant struct) —
    * type dispatch ≙ extract_changelog_field (utils/helpers.py:261-298):
    * list → comma-join; string → datetime-reformat if parseable, else
    * >100-char truncation; reference → first of key/email(lowered)/name/id;
    * number → integral-aware str; json passes through; null → "".
    */
  def stringifyVariant(v: Column): Column = {
    val s = v.getField("s")
    val asDt = try_to_timestamp(s, lit(WIRE_FMT))
    val strCase = when(asDt.isNotNull, date_format(asDt, OUT_FMT))
      .when(length(s) > 100, lit("text too long, see history in UI"))
      .otherwise(s)
    val r = v.getField("ref")
    val refCase = coalesce(r.getField("key"), low(r.getField("email")), r.getField("name"), r.getField("id"))
    val n = v.getField("n")
    val numCase = when(n === floor(n), n.cast("long").cast("string")).otherwise(n.cast("string"))
    coalesce(
      when(s.isNotNull, strCase),
      when(n.isNotNull, numCase),
      when(r.isNotNull, refCase),
      when(v.getField("list").isNotNull, array_join(v.getField("list"), ", ")),
      v.getField("json"),
      lit(""))
  }

  /** Whether `stringifyVariant(v) === ""`, without computing the string:
    * the same coalesce chain, each arm asking only whether its value is
    * empty. A string is empty only as `""` (a parsed datetime and the
    * too-long marker never are), a number never is, and lowering an email
    * keeps it empty or not. Never null.
    */
  private[graft] def isEmptyVariant(v: Column): Column = {
    val s = v.getField("s")
    val r = v.getField("ref")
    val firstRef = coalesce(r.getField("key"), r.getField("email"), r.getField("name"), r.getField("id"))
    val list = v.getField("list")
    coalesce(
      when(s.isNotNull, s === ""),
      when(v.getField("n").isNotNull, lit(false)),
      when(r.isNotNull, firstRef === ""),
      when(list.isNotNull, array_join(list, ", ") === ""),
      v.getField("json") === "",
      lit(true))
  }

  /** S3 comments lookup ≙ `get_comments` (services/tracker.py:46-48).
    * The reference fetches one issue's comments over HTTP and returns the
    * API objects untransformed; the engine-side analog is the flat
    * comment relation derived from the nested document — a per-issue
    * lookup composes as a pushdown-friendly `issue_key` filter on top
    * (see `pipeline_comments`). Author resolution and null handling
    * follow the changelog actor rules (email lowered, name fallback).
    */
  def comments(raw: DataFrame): DataFrame =
    raw
      .select(col("key").as("issue_key"), explode(col("comments")).as("c"))
      .select(
        col("issue_key"),
        col("c.id").as("comment_id"),
        col("c.text").as("text"),
        coalesce(low(col("c.createdBy.email")), low(col("c.createdBy.name")), lit("")).as("author"),
        parseDt(col("c.createdAt")).as("created_at"),
        parseDt(col("c.updatedAt")).as("updated_at"))

  /** Changelog rows ≙ issues_changelog DDL (models/issue.py:126-160):
    * every event × changed field, P8-filtered (non-null field, at least one
    * non-empty side), values stringified per F9.
    *
    * P8 runs on each event's raw field structs, inside `filter` before the
    * explode, through [[isEmptyVariant]]. A `where` on the stringified
    * columns would be pushed below the projection with both
    * `stringifyVariant`s inlined into it, a row loop of ~11.9k bytes of
    * bytecode. HotSpot does not JIT-compile a method over 8,000 bytes, so
    * that loop would stay interpreted (IssuePipelineSpec guards the limit
    * on all three tables' writes).
    */
  def changelog(raw: DataFrame, version: Column = current_timestamp()): DataFrame =
    raw
      .select(
        col("key").as("issue_key"),
        col("queue.key").as("queue"),
        explode(col("changelog")).as("ev"))
      .select(
        col("issue_key"), col("queue"),
        parseDt(col("ev.updatedAt")).as("event_time"),
        col("ev.type").as("event_type"),
        col("ev.transport").as("transport"),
        coalesce(low(col("ev.updatedBy.email")), low(col("ev.updatedBy.name")), lit("")).as("actor"),
        explode(filter(col("ev.fields"), f =>
          changedField(f).isNotNull &&
            !(isEmptyVariant(f.getField("from")) && isEmptyVariant(f.getField("to"))))).as("change"))
      .select(
        version.as("version"), col("event_time"), col("issue_key"), col("queue"),
        col("event_type"), col("transport"), col("actor"),
        changedField(col("change")).as("changed_field"),
        stringifyVariant(col("change.from")).as("changed_from"),
        stringifyVariant(col("change.to")).as("changed_to"))

  private def changedField(change: Column): Column =
    coalesce(change.getField("field").getField("name"), change.getField("field").getField("id"))
}
