package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.schema.Schemas
import graft.sources.Tables
import graft.transform.IssueTransform

/** Deterministic raw-issue fixture (the README 7-step walkthrough +
  * no-changelog + resolved variants, FIXTURES.md §3) built in-memory, so
  * the REAL pipeline transform gets driver-verified correctness rows: its
  * expected output is a literal `VALUES` oracle in [[Oracles]].
  */
object PipelineFixture {

  private def ref1(v: String): Row = Row(v)
  private def variant(s: String = null, r: Row = null): Row = Row(s, null, r, null, null)
  private def refv(name: String): Row = Row(null, null, name, null)

  /** Full variant-struct constructor (s / n / ref / list / json) for the
    * changelog fixture rows that exercise every stringifyVariant arm.
    */
  private def fullVariant(s: String = null, n: java.lang.Double = null, r: Row = null,
                          list: Seq[String] = null, json: String = null): Row =
    Row(s, n, r, list, json)

  private def refFull(key: String = null, email: String = null,
                      name: String = null, id: String = null): Row =
    Row(key, email, name, id)

  private def chField(id: String, name: String, from: Row, to: Row): Row =
    Row(Row(id, name), from, to)

  private def statusField(from: String, to: String): Row =
    Row(Row("status", "Status"), variant(r = refv(from)), variant(r = refv(to)))

  private def dtField(from: String, to: String): Row =
    Row(Row("statusStartTime", "Status start time"), variant(s = from), variant(s = to))

  private def wfEvent(at: String, fields: Seq[Row]): Row =
    Row(at, "IssueWorkflow", "front", Row("Dev@Example.com", "Dev Name"), fields)

  private def t(hhmm: String): String = s"2024-01-09T$hhmm:00.000+0000"

  private def comment(id: String, text: String, email: String, name: String,
                      at: String, upd: String = null): Row =
    Row(id, text, Row(email, name), at, upd)

  private def issue(key: String, status: String, resolution: String = null,
                    resolvedAt: String = null, changelog: Seq[Row] = Seq.empty,
                    comments: Seq[Row] = null): Row =
    Row(
      key, "Walkthrough😎", ref1("TEST"), ref1("Task"), ref1("Normal"), ref1(status),
      Option(resolution).map(ref1).orNull,
      ref1("Dev@Example.com"), ref1("Author@Example.com"), ref1("QA@Example.com"),
      null, null, ref1("MyProject"),
      Seq(ref1("Sprint 1")), Seq(ref1("backend")), Seq("t1"), null,
      3.0f, t("10:00"), t("18:00"), resolvedAt,
      "2024-01-09", "2024-01-10", "2024-01-11", changelog, comments)

  /** One IssueUpdated event whose field changes fire every
    * stringifyVariant branch (≙ extract_changelog_field,
    * utils/helpers.py:261-298): list join, integral + fractional number,
    * all four ref coalesce arms (key / lowered email / name / id),
    * >100-char truncation, short-string passthrough, wire-datetime
    * reformat, json passthrough, id-fallback field naming, and the P8
    * both-sides-empty / null-field drop rules. Actor exercises the
    * name-fallback arm (updatedBy.email is null).
    */
  private val variantShowcaseEvent: Row = Row(
    t("12:30"), "IssueUpdated", "front", Row(null, "Robot Name"), Seq(
      chField("tags", "Tags",
        fullVariant(list = Seq("a", "b")), fullVariant(list = Seq("a", "b", "c"))),
      chField("storyPoints", "Story Points",
        fullVariant(n = 3.0), fullVariant(n = 5.5)),
      chField("queue", "Queue",
        fullVariant(r = refFull(key = "OLDQ")), fullVariant(r = refFull(email = "New@Owner.com"))),
      chField("assignee", "Assignee",
        fullVariant(r = refFull(name = "Ref Name")), fullVariant(r = refFull(id = "42"))),
      chField("description", "Description",
        fullVariant(s = "x" * 120), fullVariant(s = "short text")),
      chField("deadline", "Deadline",
        fullVariant(), fullVariant(s = t("12:00"))),
      chField("meta", null,
        fullVariant(json = """{"k": 1}"""), fullVariant()),
      // both sides stringify to "" -> row dropped by the P8 filter
      chField("noop", "Noop", fullVariant(), fullVariant()),
      // null field struct -> changed_field null -> dropped
      Row(null, fullVariant(s = "val"), fullVariant())))

  private val walkthroughEvents = Seq(
    wfEvent(t("11:00"), Seq(statusField("Open", "In progress"), dtField(null, t("11:00")))),
    wfEvent(t("13:00"), Seq(statusField("In progress", "Testing"), dtField(t("11:00"), t("13:00")))),
    wfEvent(t("14:00"), Seq(statusField("Testing", "In progress"), dtField(t("13:00"), t("14:00")))),
    wfEvent(t("16:00"), Seq(statusField("In progress", "Testing"), dtField(t("14:00"), t("16:00")))),
    wfEvent(t("17:00"), Seq(statusField("Testing", "Ready for release"), dtField(t("16:00"), t("17:00")))),
    wfEvent(t("18:00"), Seq(statusField("Ready for release", "Closed"), dtField(t("17:00"), t("18:00")))))

  def raw(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        issue("TEST-1", "Closed", changelog = walkthroughEvents,
          // S3 fixture: email author, name-fallback author (null email),
          // and a null updatedAt — the comment-model null paths
          comments = Seq(
            comment("1001", "LGTM, shipping", "Dev@Example.com", "Dev Name", t("12:00"), t("12:30")),
            comment("1002", "re-opened for QA", null, "Robot Name", t("15:00")))),
        issue("TEST-2", "Open"),
        issue("TEST-3", "Closed", resolution = "Fixed", resolvedAt = t("19:00"),
          changelog = Seq(wfEvent(t("18:00"), Seq(statusField("Open", "Closed"), dtField(null, t("18:00"))))),
          // a comment on ANOTHER issue: the per-issue lookup must exclude it
          comments = Seq(comment("2001", "unrelated", "Qa@Example.com", "QA", t("17:00")))),
        // CamelCase status/type names: the reference lowercases BEFORE
        // snake_casing ('InProgress' → 'inprogress'), and this row makes
        // the driver's oracle catch any drift in that composition
        issue("TEST-4", "InProgress",
          changelog = Seq(wfEvent(t("12:00"), Seq(statusField("SelectedForDev", "InProgress"), dtField(null, t("12:00")))))),
        // non-workflow event with every variant shape (no metric rows —
        // workflowEvents filters IssueUpdated out; changelog keeps it)
        issue("TEST-5", "Open", changelog = Seq(variantShowcaseEvent)))),
      Schemas.rawIssue)

  /** Metric rows of the walkthrough corpus (A1 end-to-end). */
  def pipelineMetrics(s: SparkSession, d: String): DataFrame =
    IssueTransform.metrics(IssueTransform.workflowEvents(raw(s)), lit(null).cast("timestamp"))
      .drop("version")
      .orderBy(col("issue_key"), col("status_name"))

  /** The pipeline at volume: synthesize one nested issue document per
    * events-table user (its events become workflow status transitions,
    * assembled into a changelog array via window-ordered collect_list),
    * then run the REAL workflow-event extraction + metric aggregation.
    * Exercises the whole nested-document path — struct/array construction,
    * posexplode, filters, wire-format datetime round trip, business
    * seconds — on ~100k rows at sf0.1, with a full DuckDB oracle.
    */
  def pipelineScale(s: SparkSession, d: String): DataFrame = {
    val wire = "yyyy-MM-dd'T'HH:mm:ss.SSSXX"
    def fmt(c: Column): Column = date_format(c, wire)
    def vS(c: Column): Column =
      struct(c.as("s"), lit(null).cast("struct<name:string>").as("ref"))
    def vRef(c: Column): Column =
      struct(lit(null).cast("string").as("s"), struct(c.as("name")).as("ref"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // wire-format each timestamp ONCE, before the window: the formatted
    // string is then reused as this row's "to"/updatedAt AND (via lag)
    // the next row's "from" — the inline form ran date_format 3× per row
    // and dominated the query's codegen size
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        fmt(col("ts")).as("ts_w"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("ts_w"),
        lag(col("event_type"), 1).over(w).as("prev_type"),
        lag(col("ts"), 1).over(w).as("prev_ts"),
        lag(col("ts_w"), 1).over(w).as("prev_ts_w"))
      .where(col("prev_type").isNotNull)
    val eventStruct = struct(
      col("ts_w").as("updatedAt"),
      lit("IssueWorkflow").as("type"),
      lit("api").as("transport"),
      array(
        struct(struct(lit("status").as("id")).as("field"),
          vRef(col("prev_type")).as("from"), vRef(col("event_type")).as("to")),
        struct(struct(lit("times").as("id")).as("field"),
          vS(col("prev_ts_w")).as("from"), vS(col("ts_w")).as("to"))).as("fields"))
    val raw = ev
      .groupBy(col("user_id"))
      .agg(
        sort_array(collect_list(struct(col("ts"), col("event_id"), eventStruct.as("ev")))).as("evs"),
        min(col("prev_ts")).as("created"),
        max(col("ts")).as("updated"))
      .select(
        concat(lit("U"), col("user_id").cast("string")).as("key"),
        fmt(col("created")).as("createdAt"),
        fmt(col("updated")).as("updatedAt"),
        transform(col("evs"), x => x.getField("ev")).as("changelog"))
    IssueTransform.metrics(IssueTransform.workflowEvents(raw), lit(null).cast("timestamp"))
      .drop("version")
      .orderBy(col("issue_key"), col("status_name"))
  }

  /** Issue rows (P1–P5 end-to-end, changelog-derived scalars included). */
  def pipelineIssues(s: SparkSession, d: String): DataFrame =
    IssueTransform.issues(raw(s), version = lit(null).cast("timestamp"))
      .select(
        col("issue_key"), col("queue"), col("title"), col("issue_type"), col("priority"),
        col("status"), col("resolution"), col("assignee"), col("project"),
        col("is_closed"), col("is_resolved"), col("is_subtask"), col("was_moved"),
        col("story_points"), col("created_at"), col("closed_at"), col("deadline"))
      .orderBy(col("issue_key"))

  /** Changelog rows (P8 + F9 end-to-end): the REAL changelog transform
    * over the fixture corpus, whose TEST-5 event fires every
    * stringifyVariant type-dispatch arm — so the trickiest F9 logic (the
    * ref/string/number/list/json coalesce order ≙ utils/helpers.py:261-298)
    * meets the DuckDB oracle, not just the ScalaTest suite.
    */
  def pipelineChangelog(s: SparkSession, d: String): DataFrame =
    IssueTransform.changelog(raw(s), version = lit(null).cast("timestamp"))
      .drop("version")
      .orderBy(col("issue_key"), col("event_time"), col("changed_field"))

  /** S3 comments lookup end-to-end ≙ get_comments("TEST-1")
    * (services/tracker.py:46-48): the flat comment relation filtered to
    * one issue key — TEST-3's comment must be excluded by the lookup.
    */
  def pipelineComments(s: SparkSession, d: String): DataFrame =
    IssueTransform.comments(raw(s))
      .where(col("issue_key") === "TEST-1")
      .orderBy(col("comment_id"))

  /** U1 extensibility end-to-end: issues() with caller-supplied extra
    * columns over the RAW document (≙ subclassing TrackerIssue,
    * examples/extended_model/main.py:9-31) — the extension seam itself
    * gets a driver-oracle row.
    */
  def pipelineIssuesExtended(s: SparkSession, d: String): DataFrame =
    IssueTransform.issues(raw(s), version = lit(null).cast("timestamp"),
      extraColumns = Seq(
        "changelog_events" -> size(col("changelog")),
        "priority_upper" -> upper(col("priority.name"))))
      .select(col("issue_key"), col("status"), col("changelog_events"), col("priority_upper"))
      .orderBy(col("issue_key"))
}
