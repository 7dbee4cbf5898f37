package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.types.{StructField, StructType}

import graft.SparkSuite
import graft.SparkSuite.planNodes
import graft.schema.{EngineConfig, Schemas}
import graft.sinks.{BucketedTableSink, ClickHouseBatchSink, ConsoleSink, ParquetSink, Sink, SinksSpec}
import graft.state.MemoryStateStore
import graft.transform.IssueTransform

/** End-to-end goldens for the issue pipeline (FIXTURES.md §3): the README
  * 7-step walkthrough (reference README.md:106-130) plus the named edge
  * cases — no_changelog, moved_issue, unresolved_closed vs resolved,
  * dirty_changelog, dedup_rerun, stateful incremental run.
  */
class IssuePipelineSpec extends SparkSuite {
  import spark.implicits._

  // ---- fixture builders (rawIssue schema order) ----

  private def ref1(v: String): Row = Row(v)

  private def variant(s: String = null, n: java.lang.Double = null, r: Row = null,
                      list: Seq[String] = null, json: String = null): Row =
    Row(s, n, r, list, json)

  private def refv(key: String = null, email: String = null, name: String = null,
                   id: String = null): Row = Row(key, email, name, id)

  private def statusField(from: String, to: String): Row =
    Row(Row("status", "Status"), variant(r = refv(name = from)), variant(r = refv(name = to)))

  private def dtField(from: String, to: String): Row =
    Row(Row("statusStartTime", "Status start time"), variant(s = from), variant(s = to))

  private def wfEvent(at: String, fields: Seq[Row], transport: String = "front",
                      byEmail: String = "Dev@Example.com", byName: String = "Dev Name"): Row =
    Row(at, "IssueWorkflow", transport, Row(byEmail, byName), fields)

  private def t(hhmm: String, day: String = "2024-01-09"): String =
    s"${day}T$hhmm:00.000+0000"

  private def issue(key: String, status: String, resolution: String = null,
                    resolvedAt: String = null, updatedAt: String = t("18:00"),
                    changelog: Seq[Row] = Seq.empty, parent: String = null): Row =
    Row(
      key, "Walkthrough😎", ref1("TEST"), ref1("Task"), ref1("Normal"), ref1(status),
      Option(resolution).map(ref1).orNull,
      ref1("Dev@Example.com"), ref1("Author@Example.com"), ref1("QA@Example.com"),
      Option(parent).map(ref1).orNull, null, ref1("MyProject"),
      Seq(ref1("Sprint 1")), Seq(ref1("backend")), Seq("t1"), null,
      3.0f, t("10:00"), updatedAt, resolvedAt,
      "2024-01-09", "2024-01-10", "2024-01-11", changelog, null)

  private val walkthroughEvents = Seq(
    wfEvent(t("11:00"), Seq(statusField("Open", "In progress"), dtField(null, t("11:00")))),
    wfEvent(t("13:00"), Seq(statusField("In progress", "Testing"), dtField(t("11:00"), t("13:00")))),
    wfEvent(t("14:00"), Seq(statusField("Testing", "In progress"), dtField(t("13:00"), t("14:00")))),
    wfEvent(t("16:00"), Seq(statusField("In progress", "Testing"), dtField(t("14:00"), t("16:00")))),
    wfEvent(t("17:00"), Seq(statusField("Testing", "Ready for release"), dtField(t("16:00"), t("17:00")))),
    wfEvent(t("18:00"), Seq(statusField("Ready for release", "Closed"), dtField(t("17:00"), t("18:00")))))

  private def raw(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), Schemas.rawIssue)

  private lazy val walkthrough = raw(issue("TEST-1", "Closed", changelog = walkthroughEvents))

  // ---- README 7-step walkthrough goldens ----

  test("walkthrough metrics: from-status attribution, accumulation, final status excluded") {
    val m = IssueTransform.metrics(IssueTransform.workflowEvents(walkthrough), lit("2024-02-01 00:00:00").cast("timestamp"))
      .orderBy("status_name")
      .select("status_name", "status_transitions_count", "duration", "busdays_duration",
        "human_readable_duration", "last_seen")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4),
        r.getTimestamp(5).toInstant.toString))
    assert(m.toSeq == Seq(
      ("in_progress", 2, 14400L, 14400L, "4h", "2024-01-09T13:00:00Z"),
      ("open", 1, 3600L, 3600L, "1h", "2024-01-09T11:00:00Z"),
      ("ready_for_release", 1, 3600L, 3600L, "1h", "2024-01-09T18:00:00Z"),
      ("testing", 2, 7200L, 7200L, "2h", "2024-01-09T14:00:00Z")))
  }

  test("walkthrough issue row: projection, derived flags, closed_at from last closing transition") {
    val r = IssueTransform.issues(walkthrough).collect()(0)
    assert(r.getAs[String]("issue_key") == "TEST-1")
    assert(r.getAs[String]("queue") == "TEST")
    assert(r.getAs[String]("title") == "Walkthrough")
    assert(r.getAs[String]("issue_type") == "task")
    assert(r.getAs[String]("priority") == "normal")
    assert(r.getAs[String]("status") == "closed")
    assert(r.getAs[String]("resolution") == null)
    assert(r.getAs[String]("assignee") == "dev@example.com")
    assert(r.getAs[String]("author") == "author@example.com")
    assert(r.getAs[String]("qa_engineer") == "qa@example.com")
    assert(r.getAs[String]("project") == "myproject")
    assert(r.getAs[scala.collection.Seq[String]]("sprints").toSeq == Seq("Sprint 1"))
    assert(r.getAs[scala.collection.Seq[String]]("components").toSeq == Seq("backend"))
    assert(r.getAs[scala.collection.Seq[String]]("aliases").toSeq == Seq.empty)
    assert(r.getAs[Float]("story_points") == 3.0f)
    assert(!r.getAs[Boolean]("is_resolved"))
    assert(r.getAs[Boolean]("is_closed"))
    assert(!r.getAs[Boolean]("is_subtask"))
    assert(!r.getAs[Boolean]("was_moved"))
    assert(r.getAs[java.sql.Timestamp]("closed_at").toInstant.toString == "2024-01-09T18:00:00Z")
    assert(r.getAs[java.sql.Date]("deadline").toString == "2024-01-11")
  }

  test("no_changelog: no metric rows, issue row still emitted") {
    val df = raw(issue("TEST-2", "Open"))
    val p = IssuePipeline.transform(df)
    assert(p.issues.count() == 1)
    assert(p.metrics.count() == 0)
    assert(p.changelog.count() == 0)
  }

  test("moved_issue: was_moved / moved_at / moved_by from the last IssueMoved event") {
    val moved = Row(t("12:00"), "IssueMoved", "api", Row("Mover@Example.com", "Mover"), Seq.empty[Row])
    val df = raw(issue("TEST-3", "Open", changelog = Seq(moved)))
    val r = IssueTransform.issues(df).collect()(0)
    assert(r.getAs[Boolean]("was_moved"))
    assert(r.getAs[java.sql.Timestamp]("moved_at").toInstant.toString == "2024-01-09T12:00:00Z")
    assert(r.getAs[String]("moved_by") == "mover@example.com")
  }

  test("unresolved_closed vs resolved: closed_at precedence") {
    val closingEvent = Seq(
      wfEvent(t("18:00"), Seq(statusField("Open", "Closed"), dtField(null, t("18:00")))))
    val unresolved = issue("TEST-4", "Closed", changelog = closingEvent)
    val resolved = issue("TEST-5", "Closed", resolution = "Fixed",
      resolvedAt = t("19:00"), changelog = closingEvent)
    val notClosedStatus = issue("TEST-6", "Open", changelog = closingEvent)
    val out = IssueTransform.issues(raw(unresolved, resolved, notClosedStatus))
      .select("issue_key", "closed_at", "is_resolved").orderBy("issue_key").collect()
    assert(out(0).getTimestamp(1).toInstant.toString == "2024-01-09T18:00:00Z") // last closing transition
    assert(out(1).getTimestamp(1).toInstant.toString == "2024-01-09T19:00:00Z") // resolved wins
    assert(out(2).isNullAt(1)) // current status not closed -> no closed_at
  }

  test("dirty_changelog: P6-P8 filters and F9 stringification") {
    val longText = "x" * 150
    val events = Seq(
      // <2 fields -> no metric
      wfEvent(t("11:00"), Seq(statusField("Open", "In progress"))),
      // non-status workflow field -> no metric
      wfEvent(t("12:00"), Seq(
        Row(Row("assignee", "Assignee"), variant(r = refv(email = "A@x.com")), variant(r = refv(email = "B@x.com"))),
        dtField(t("11:00"), t("12:00")))),
      // null end datetime -> no metric
      wfEvent(t("13:00"), Seq(statusField("Open", "Testing"), dtField(t("11:00"), null))),
      // non-workflow event type: ignored for metrics, kept in changelog
      Row(t("14:00"), "IssueCommentAdded", "api", Row(null, "Ghost Writer"), Seq(
        Row(Row("comment", "Comment"), variant(), variant(s = longText)),
        Row(Row("tags", "Tags"), variant(), variant(list = Seq("a", "b"))),
        Row(Row("votes", "Votes"), variant(), variant(n = 42.0)),
        Row(Row("weight", "Weight"), variant(), variant(n = 2.5)),
        Row(null, variant(), variant(s = "dropped: null field")),
        Row(Row("empty", "Empty"), variant(), variant()))))
    val df = raw(issue("TEST-7", "Open", changelog = events))
    assert(IssueTransform.metrics(IssueTransform.workflowEvents(df), lit(null).cast("timestamp")).count() == 0)

    val ch = IssueTransform.changelog(df)
      .select("changed_field", "changed_to", "actor", "event_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    // null-field and both-empty rows dropped; 2 status rows + 2 datetime-pair
    // rows (workflow events) + 5 comment-event rows survive:
    assert(ch.length == 9)
    assert(!ch.exists(_._1 == "Empty"))
    assert(ch.contains(("Comment", "text too long, see history in UI", "ghost writer", "IssueCommentAdded")))
    assert(ch.contains(("Tags", "a, b", "ghost writer", "IssueCommentAdded")))
    assert(ch.contains(("Votes", "42", "ghost writer", "IssueCommentAdded")))
    assert(ch.contains(("Weight", "2.5", "ghost writer", "IssueCommentAdded")))
    assert(ch.contains(("Assignee", "b@x.com", "dev@example.com", "IssueWorkflow")))
    // the datetime pair is stringified via the tracker format; the
    // null-`to` variant normalizes to "" (kept — `from` side is non-empty):
    assert(ch.contains(("Status start time", "2024-01-09T12:00:00.000", "dev@example.com", "IssueWorkflow")))
    assert(ch.contains(("Status start time", "", "dev@example.com", "IssueWorkflow")))
  }

  test("isEmptyVariant is stringifyVariant(v) === \"\" over every variant kind") {
    val vs = Seq(
      null, variant(),
      variant(s = ""), variant(s = "x"), variant(s = t("11:00")), variant(s = "x" * 150),
      variant(s = "", n = 1.0), variant(n = 0.0), variant(n = 2.5), variant(n = -3.0),
      variant(r = refv()), variant(r = refv(key = "")), variant(r = refv(key = "K-1", email = "")),
      variant(r = refv(email = "")), variant(r = refv(email = "A@x.com")),
      variant(r = refv(email = "", name = "N")), variant(r = refv(name = "")),
      variant(r = refv(id = "")), variant(r = refv(id = "7")),
      variant(r = refv(), list = Seq("a")), variant(r = refv(), json = ""),
      variant(list = Seq.empty), variant(list = Seq(null)), variant(list = Seq("")),
      variant(list = Seq("", "")), variant(list = Seq(null, "")), variant(list = Seq("a")),
      variant(list = Seq(""), json = "{}"),
      variant(json = ""), variant(json = "{}"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(vs.map(Row(_))),
      StructType(Seq(StructField("v", Schemas.variant))))
    val pairs = df.select(
      IssueTransform.isEmptyVariant(col("v")),
      IssueTransform.stringifyVariant(col("v")) === "").collect()
      .map(r => (r.getAs[java.lang.Boolean](0), r.getAs[java.lang.Boolean](1)))
    assert(pairs.length == vs.size)
    pairs.zip(vs).foreach { case ((empty, expected), v) => assert(empty == expected, String.valueOf(v)) }
    assert(pairs.map(_._2).toSet == Set(true, false))
  }

  test("typed Dataset view: compile-time field access over the three tables") {
    val p = IssuePipeline.transform(walkthrough,
      version = lit("2024-02-01 00:00:00").cast("timestamp")).typed
    val issue = p.issues.collect()(0)
    assert(issue.issue_key == "TEST-1" && issue.is_closed && !issue.is_resolved)
    assert(issue.closed_at.map(_.toInstant.toString).contains("2024-01-09T18:00:00Z"))
    assert(issue.components == Seq("backend"))
    // typed transformations compose: total tracked seconds via a map over MetricRow
    val total = p.metrics.collect().map(_.duration).sum
    assert(total == 28800L) // 8h tracked across the walkthrough statuses
    assert(p.changelog.collect().forall(_.issue_key == "TEST-1"))
  }

  test("null status: is_closed is FALSE (Python `None in closed`), typed view survives") {
    val df = raw(issue("TEST-9", null))
    val r = IssueTransform.issues(df).collect()(0)
    assert(!r.getAs[Boolean]("is_closed")) // not null — reference semantics
    val typed = IssuePipeline.transform(df, version = lit(null).cast("timestamp")).typed
    val row = typed.issues.collect()(0)
    assert(row.status.isEmpty && !row.is_closed && !row.is_resolved)
  }

  test("CamelCase names lowercase BEFORE snake_case (reference composition)") {
    // validate_resource(low=True) then to_snake_case (helpers.py:91-99,
    // models/issue.py:83-86): 'InProgress' → 'inprogress', NOT 'in_progress'
    val ev = Seq(wfEvent(t("12:00"), Seq(statusField("SelectedForDev", "InProgress"), dtField(null, t("12:00")))))
    val df = raw(issue("TEST-8", "InProgress", resolution = "WontFix", changelog = ev))
    val r = IssueTransform.issues(df).collect()(0)
    assert(r.getAs[String]("status") == "inprogress")
    assert(r.getAs[String]("resolution") == "wontfix")
    val m = IssueTransform.metrics(IssueTransform.workflowEvents(df), lit(null).cast("timestamp"))
      .select("status_name").collect().map(_.getString(0))
    assert(m.toSeq == Seq("selectedfordev"))
  }

  test("changelog export disabled yields an empty changelog table") {
    val p = IssuePipeline.transform(walkthrough, EngineConfig(changelogExportEnabled = false))
    assert(p.changelog.count() == 0)
  }

  test("dedup_rerun: two exports with different versions collapse to the latest") {
    val v1 = lit("2024-02-01 00:00:00").cast("timestamp")
    val v2 = lit("2024-02-02 00:00:00").cast("timestamp")
    val p1 = IssuePipeline.transform(walkthrough, version = v1)
    val p2 = IssuePipeline.transform(walkthrough, version = v2)
    val merged = IssuePipeline.dedup(IssuePipeline.Payload(
      p1.issues.union(p2.issues), p1.metrics.union(p2.metrics), p1.changelog.union(p2.changelog)))
    assert(merged.issues.count() == p2.issues.count())
    assert(merged.metrics.count() == p2.metrics.count())
    assert(merged.changelog.count() == p2.changelog.count())
    assert(merged.issues.select("version").distinct().collect()(0).getTimestamp(0).toInstant.toString
      == "2024-02-02T00:00:00Z")
  }

  test("U1 extensible projection: user columns appended to the issue row") {
    val out = IssueTransform.issues(walkthrough,
      extraColumns = Seq(
        "summary_len" -> length(col("summary")),
        "queue_lower" -> lower(col("queue.key"))))
      .select("issue_key", "summary_len", "queue_lower").collect()(0)
    assert(out.getInt(1) == 12) // Spark length() counts codepoints (emoji = 1)
    assert(out.getString(2) == "test")
  }

  test("S3 comments relation: flattened per issue, author fallback, absent arrays yield no rows") {
    val flat = IssueTransform.comments(graft.queries.PipelineFixture.raw(spark))
    assert(flat.count() == 3) // TEST-1 x2 + TEST-3 x1; null arrays contribute nothing
    val byId = flat.collect().map(r => r.getAs[String]("comment_id") -> r).toMap
    assert(byId("1001").getAs[String]("author") == "dev@example.com")
    assert(byId("1002").getAs[String]("author") == "robot name") // null email -> lowered name
    assert(byId("1002").isNullAt(byId("1002").fieldIndex("updated_at")))
    // the per-issue lookup composition (≙ get_comments("TEST-1"))
    assert(flat.where(col("issue_key") === "TEST-1").count() == 2)
  }

  test("watermark compares instants, not wire strings (mixed UTC offsets)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wm").toString
    val state = new MemoryStateStore
    // committed watermark 18:00+0300 == 15:00Z; an issue updated 16:30Z IS
    // newer even though its wire string sorts lexicographically lower
    state.set("last_update_at", "2024-01-09T18:00:00.000+0300")
    val src = raw(issue("TEST-9", "Open", updatedAt = "2024-01-09T16:30:00.000+0000"))
    val r = IssuePipeline.run(src, sink = new ParquetSink(dir), state = Some(state))
    assert(r.uploaded && r.issuesProcessed == 1)
    assert(state.get("last_update_at").contains("2024-01-09T16:30:00.000+0000"))
  }

  test("stateful run: watermark commit and incremental re-run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val state = new MemoryStateStore
    val sink = new ParquetSink(dir)
    val source = raw(
      issue("TEST-1", "Closed", changelog = walkthroughEvents),
      issue("TEST-2", "Open", updatedAt = t("12:00")))

    val r1 = IssuePipeline.run(source, sink = sink, state = Some(state),
      version = lit("2024-02-01 00:00:00").cast("timestamp"))
    assert(r1.uploaded && r1.issuesProcessed == 2)
    assert(r1.issuesWithoutMetrics == 1) // TEST-2 has no changelog (P10)
    assert(state.get("last_update_at").contains(t("18:00")))
    assert(spark.read.parquet(s"$dir/issues").count() == 2)
    assert(spark.read.parquet(s"$dir/issue_metrics").count() == 4)

    // nothing changed -> early exit, no upload
    val r2 = IssuePipeline.run(source, sink = sink, state = Some(state))
    assert(!r2.uploaded && r2.issuesProcessed == 0)

    // one issue touched -> only it is processed
    val updated = raw(issue("TEST-2", "In progress", updatedAt = t("19:00")))
    val r3 = IssuePipeline.run(source.union(updated), sink = sink, state = Some(state),
      version = lit("2024-02-02 00:00:00").cast("timestamp"))
    assert(r3.uploaded && r3.issuesProcessed == 1)
    assert(state.get("last_update_at").contains(t("19:00")))
  }

  test("one window holding two documents of a key keeps the newer, in either union order") {
    // one run pins one version for every row, so only updated_at can
    // tell the re-versioned document from the stale one
    val keys = (1 to 8).map(i => s"TEST-$i")
    val base = raw(keys.map(k => issue(k, "Open", updatedAt = t("12:00"))): _*)
    val delta = raw(keys.map(k => issue(k, "In progress", updatedAt = t("19:00"))): _*)
    for ((label, src) <- Seq("delta first" -> delta.union(base), "base first" -> base.union(delta))) {
      val dir = java.nio.file.Files.createTempDirectory("graft-tie").toString
      val r = IssuePipeline.run(src, sink = new ParquetSink(dir))
      assert(r.uploaded && r.issuesProcessed == 16, label)
      val kept = spark.read.parquet(s"$dir/issues").select("issue_key", "status")
        .as[(String, String)].collect().toMap
      assert(kept == keys.map(_ -> "in_progress").toMap, label)
    }
  }

  test("a failing sink leaves the watermark uncommitted and the scan unpersisted") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fail").toString
    val state = new MemoryStateStore
    state.set("last_update_at", t("09:00"))
    val parquet = new ParquetSink(dir)
    val failing = new Sink {
      def write(df: DataFrame, table: String): Unit =
        if (table == "issue_metrics") throw new java.io.IOException("sink down")
        else parquet.write(df, table)
    }
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    val storedBefore = sc.getRDDStorageInfo.map(_.id).toSet
    val e = intercept[java.io.IOException] {
      IssuePipeline.run(raw(issue("TEST-1", "Closed", changelog = walkthroughEvents)),
        sink = failing, state = Some(state))
    }
    assert(e.getMessage == "sink down")
    assert(spark.read.parquet(s"$dir/issues").count() == 1) // the write before the failure landed
    assert(state.get("last_update_at").contains(t("09:00")))
    assert(sc.getPersistentRDDs.keySet -- persistedBefore == Set.empty)
    assert(sc.getRDDStorageInfo.map(_.id).toSet -- storedBefore == Set.empty)
  }

  test("issue_metrics come from the newest document of a key, in either union order") {
    // the re-versioned document repeats the walkthrough history and adds
    // one transition; counting both documents doubles every old one
    val reopen = wfEvent(t("19:00"), Seq(statusField("Closed", "Open"), dtField(t("18:00"), t("19:00"))))
    val older = issue("TEST-1", "Closed", changelog = walkthroughEvents)
    val newer = issue("TEST-1", "Open", updatedAt = t("19:00"), changelog = walkthroughEvents :+ reopen)
    val v = lit("2024-02-01 00:00:00").cast("timestamp")
    val want = IssueTransform.metrics(IssueTransform.workflowEvents(raw(newer)), v).collect().toSet
    assert(want.size == 5)
    for ((label, src) <- Seq("newer first" -> raw(newer, older), "older first" -> raw(older, newer))) {
      val dir = java.nio.file.Files.createTempDirectory("graft-newest").toString
      val r = IssuePipeline.run(src, sink = new ParquetSink(dir), version = v)
      assert(spark.read.parquet(s"$dir/issue_metrics").collect().toSet == want, label)
      assert(r.metricsRows == 5 && r.issuesWithoutMetrics == 0 && r.issuesProcessed == 2, label)
    }
  }

  test("run writes issue_metrics without a dedup: transform's metrics are unique on the sort key") {
    // TEST-1: a newer document appends a transition; TEST-2: two documents
    // tied on updated_at, so both count towards one group per status
    val reopen = wfEvent(t("19:00"), Seq(statusField("Closed", "Open"), dtField(t("18:00"), t("19:00"))))
    val docs = Seq(
      issue("TEST-1", "Closed", changelog = walkthroughEvents),
      issue("TEST-1", "Open", updatedAt = t("19:00"), changelog = walkthroughEvents :+ reopen),
      issue("TEST-2", "Closed", changelog = walkthroughEvents),
      issue("TEST-2", "Closed", changelog = walkthroughEvents.take(3)))
    val v = lit("2024-02-01 00:00:00").cast("timestamp")
    val keys = IssuePipeline.sortKeys("issue_metrics").map(col)
    for ((label, src) <- Seq("in order" -> raw(docs: _*), "reversed" -> raw(docs.reverse: _*))) {
      val tables = IssuePipeline.transform(src, version = v)
      assert(tables.metrics.groupBy(keys: _*).count().where(col("count") > 1).isEmpty, label)
      val dir = java.nio.file.Files.createTempDirectory("graft-metrics").toString
      val r = IssuePipeline.run(src, sink = new ParquetSink(dir), version = v)
      val written = spark.read.parquet(s"$dir/issue_metrics").collect().toSet
      assert(written == IssuePipeline.dedup(tables).metrics.collect().toSet, label)
      assert(written.size == 9 && r.metricsRows == 9, label) // 5 statuses of TEST-1, 4 of TEST-2
    }
  }

  /** The executed plan of each file write `f` runs, by output directory
    * name.
    */
  private def writePlans(f: => Unit): Map[String, SparkPlan] =
    executions(f).flatMap { case (_, qe) =>
      planNodes(qe.executedPlan).collectFirst {
        case DataWritingCommandExec(cmd: InsertIntoHadoopFsRelationCommand, _) =>
          cmd.outputPath.getName -> qe.executedPlan
      }
    }.toMap

  test("each issue's rows are clustered on issue_key: one changelog file, one shuffle per table") {
    // coalescing off, so the 4 shuffle partitions become 4 files and a key
    // spread over several of them shows
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.getOption(coalesce)
    val keys = (1 to 16).map(i => s"TEST-$i")
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    spark.conf.set(coalesce, "false")
    val plans =
      try writePlans(IssuePipeline.run(raw(keys.map(k => issue(k, "Closed", changelog = walkthroughEvents)): _*),
        sink = new ParquetSink(dir)))
      finally before.fold(spark.conf.unset(coalesce))(spark.conf.set(coalesce, _))

    val files = spark.read.parquet(s"$dir/issues_changelog")
      .select(col("issue_key"), input_file_name().as("file")).distinct()
    assert(files.select("file").distinct().count() > 1)
    val filesPerKey = files.groupBy("issue_key").count().as[(String, Long)].collect().toMap
    assert(filesPerKey == keys.map(_ -> 1L).toMap)

    for (table <- Seq("issues", "issues_changelog")) {
      val nodes = planNodes(plans(table))
      val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size == 1, s"$table: ${shuffles.size} shuffles")
      val on = shuffles.head.outputPartitioning match {
        case HashPartitioning(exprs, _) => exprs.map { case a: AttributeReference => a.name; case e => e.sql }
        case other => Seq(other.toString)
      }
      assert(on == Seq("issue_key"), table)
      val below = planNodes(shuffles.head.child).collect { case a: BaseAggregateExec => a.nodeName }
      assert(below.isEmpty, s"$table: $below below the shuffle")
    }
  }

  test("every generated method of the three writes fits HotSpot's 8,000-byte JIT limit") {
    // -XX:HugeMethodLimit: a larger method is never JIT-compiled, so a
    // stage's per-row loop over it runs in the bytecode interpreter
    val hugeMethodLimit = 8000
    val dir = java.nio.file.Files.createTempDirectory("graft-codegen").toString
    val plans = writePlans(IssuePipeline.run(walkthrough, sink = new ParquetSink(dir)))
    assert(plans.keySet == Set("issues", "issue_metrics", "issues_changelog"))
    for ((table, plan) <- plans) {
      val sizes = planNodes(plan).collect { case w: WholeStageCodegenExec => w }.distinct
        .flatMap(codegenStringSeq(_)).map(_._3.maxMethodCodeSize)
      assert(sizes.nonEmpty, table)
      assert(sizes.forall(_ <= hugeMethodLimit), s"$table: $sizes")
    }
  }

  test("closed_at, moved_at and moved_by of the kept row come from the kept document") {
    def moved(at: String, by: String): Row =
      Row(at, "IssueMoved", "api", Row(by, "Mover"), Seq.empty[Row])
    def closing(end: String): Row =
      wfEvent(end, Seq(statusField("Open", "Closed"), dtField(null, end)))
    // the stale document's matching events sit at higher changelog
    // positions, so a per-key last-by-position pick would take them
    val stale = issue("TEST-1", "Closed", updatedAt = t("12:00"), changelog = Seq(
      closing(t("09:00")), moved(t("09:30"), "Old@Example.com"),
      moved(t("10:30"), "Old@Example.com"), closing(t("11:30"))))
    val kept = issue("TEST-1", "Closed", updatedAt = t("19:00"), changelog = Seq(
      closing(t("08:00")), moved(t("08:30"), "New@Example.com")))
    for ((label, src) <- Seq("kept first" -> raw(kept, stale), "stale first" -> raw(stale, kept))) {
      val dir = java.nio.file.Files.createTempDirectory("graft-scalars").toString
      IssuePipeline.run(src, sink = new ParquetSink(dir))
      val rows = spark.read.parquet(s"$dir/issues").collect()
      assert(rows.length == 1, label)
      val r = rows(0)
      assert(r.getAs[java.sql.Timestamp]("updated_at").toInstant.toString == "2024-01-09T19:00:00Z", label)
      assert(r.getAs[java.sql.Timestamp]("closed_at").toInstant.toString == "2024-01-09T08:00:00Z", label)
      assert(r.getAs[java.sql.Timestamp]("moved_at").toInstant.toString == "2024-01-09T08:30:00Z", label)
      assert(r.getAs[String]("moved_by") == "new@example.com", label)
    }
  }

  /** Spark jobs started while `f` runs. The bus is drained before the
    * listener is added, so no earlier job's event reaches it, and again
    * before it is read, because job events arrive asynchronously.
    */
  private def jobsDuring(f: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      GraftBridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("one run over the walkthrough costs at most 10 Spark jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val jobs = jobsDuring(IssuePipeline.run(walkthrough, sink = new ParquetSink(dir),
      version = lit("2024-02-01 00:00:00").cast("timestamp")))
    assert(jobs <= 10, s"$jobs jobs")
  }

  test("a custom business calendar reaches issue_metrics.busdays_duration") {
    // 10:00-18:00, Monday to Saturday, 2024-01-10 decreed non-working
    val cal = graft.functions.BusinessTime.Calendar(startHour = 10, endHour = 18,
      workDays = java.time.DayOfWeek.values.toSet - java.time.DayOfWeek.SUNDAY,
      extraHolidays = Set(java.time.LocalDate.of(2024, 1, 10)))
    val src = raw(issue("TEST-1", "Closed", updatedAt = t("12:00", "2024-01-15"), changelog = Seq(
      wfEvent(t("15:30"), Seq(statusField("Open", "In progress"), dtField(null, t("15:30")))),
      wfEvent(t("20:00", "2024-01-11"), Seq(statusField("In progress", "Testing"),
        dtField(t("15:30"), t("20:00", "2024-01-11")))),
      wfEvent(t("09:30", "2024-01-15"), Seq(statusField("Testing", "In progress"),
        dtField(t("20:00", "2024-01-11"), t("09:30", "2024-01-15")))),
      wfEvent(t("12:00", "2024-01-15"), Seq(statusField("In progress", "Closed"),
        dtField(t("09:30", "2024-01-15"), t("12:00", "2024-01-15")))))))
    val dir = java.nio.file.Files.createTempDirectory("graft-calendar").toString
    IssuePipeline.run(src, EngineConfig(calendar = cal), new ParquetSink(dir),
      version = lit("2024-02-01 00:00:00").cast("timestamp"))
    val got = spark.read.parquet(s"$dir/issue_metrics")
      .select("status_name", "duration", "busdays_duration").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // (wall seconds, business seconds): Tuesday 10:00-15:30; Tuesday
    // 15:30-18:00 + Thursday 10:00-18:00 + Monday 10:00-12:00; Friday and
    // Saturday 10:00-18:00. Under the default calendar `testing` would
    // read 46,800 (Friday 09:00-22:00, Saturday off).
    assert(got == Map(
      "open" -> ((19800L, 19800L)),
      "in_progress" -> ((198000L, 45000L)),
      "testing" -> ((307800L, 57600L))))
  }

  test("RunStats are identical under every sink; a sink that skips a table gets an exact count") {
    val src = raw(
      issue("TEST-1", "Closed", changelog = walkthroughEvents),
      issue("TEST-2", "Open", updatedAt = t("12:00")),
      issue("TEST-3", "Open", updatedAt = t("12:00"), changelog = Seq(
        Row(t("11:00"), "IssueMoved", "api", Row("Mover@Example.com", "Mover"), Seq.empty[Row]))))
    val v = lit("2024-02-01 00:00:00").cast("timestamp")
    // walkthrough: 4 metric rows and 6 events x 2 fields of changelog rows;
    // TEST-2 and TEST-3 have no transition, and TEST-3's move no field
    val want = IssuePipeline.RunStats(3, 4, 12, 2, Some(t("18:00")), uploaded = true)
    val base = java.nio.file.Files.createTempDirectory("graft-every-sink").toString
    SinksSpec.captured.clear()
    val sinks = Seq(
      "parquet" -> new ParquetSink(base),
      "bucketed" -> new BucketedTableSink(buckets = 2, keys = Seq("issue_key")),
      "clickhouse" -> new ClickHouseBatchSink(SinksSpec.capture),
      "console" -> new ConsoleSink(rows = 1))
    try for ((label, sink) <- sinks)
      assert(IssuePipeline.run(src, sink = sink, version = v) == want, label)
    finally Seq("issues", "issue_metrics", "issues_changelog")
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
    def inserted(table: String): Int = SinksSpec.captured.toList
      .filter(_.startsWith(s"INSERT INTO agile.$table "))
      .map("\"issue_key\":".r.findAllIn(_).size).sum
    assert(inserted("issue_metrics") == 4 && inserted("issues_changelog") == 12)

    val parquet = new ParquetSink(java.nio.file.Files.createTempDirectory("graft-skip").toString)
    val skipping = new Sink {
      def write(df: DataFrame, table: String): Unit =
        if (table != "issues_changelog") parquet.write(df, table)
    }
    assert(IssuePipeline.run(src, sink = skipping, version = v) == want)
  }

  test("daemon ticks drive incremental stateful runs (scheduler thread + watermark)") {
    // the --interval mode end-to-end: IntervalScheduler fires the batch
    // on its worker thread (Spark actions off the main thread), the
    // watermark advances between ticks, and tick 2 exports only the
    // delta — the reference's scheduled-incremental loop
    // (main.py:138-146 + etl.py watermark commit) in one test
    val dir = java.nio.file.Files.createTempDirectory("graft-daemon").toString
    val state = new MemoryStateStore
    val sink = new ParquetSink(dir)
    @volatile var source = raw(
      issue("TEST-1", "Closed", changelog = walkthroughEvents),
      issue("TEST-2", "Open", updatedAt = t("12:00")))
    val stats = scala.collection.mutable.Buffer[IssuePipeline.RunStats]()
    val sched = new IntervalScheduler(() => {
      stats.synchronized {
        stats += IssuePipeline.run(source, sink = sink, state = Some(state),
          version = lit("2024-02-01 00:00:00").cast("timestamp"))
      }
      ()
    })
    def awaitCompleted(n: Long): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (sched.completed < n && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sched.completed >= n, s"tick $n never completed")
    }
    assert(sched.tick())
    awaitCompleted(1)
    assert(stats.head.uploaded && stats.head.issuesProcessed == 2)
    assert(state.get("last_update_at").contains(t("18:00")))
    // new data lands between ticks; the next tick exports ONLY the delta
    source = source.union(raw(issue("TEST-2", "In progress", updatedAt = t("19:00"))))
    assert(sched.tick())
    awaitCompleted(2)
    assert(stats(1).uploaded && stats(1).issuesProcessed == 1)
    assert(state.get("last_update_at").contains(t("19:00")))
    assert(sched.suppressed == 0)
  }

  // ---- scan-mode precedence (≙ _build_search_query, etl.py:66-111) ----

  import graft.schema.SearchSettings

  private def keysKept(src: DataFrame, cfg: EngineConfig, wm: Option[String],
                       now: String): Set[String] =
    src.where(IssuePipeline.scanFilter(cfg, wm, java.time.Instant.parse(now)).get)
      .select("key").as[String].collect().toSet

  test("scan precedence 1: explicit search query overrides stateful and window params") {
    val cfg = EngineConfig(
      search = SearchSettings(query = Some("status.name = 'Open'"),
        range = Some("1m"), queues = Seq("NOPE")),
      stateful = true, statefulInitialRange = Some("1w"))
    val src = raw(issue("TEST-1", "Open"), issue("TEST-2", "Closed"))
    // watermark at 19:00 would exclude everything; the explicit query wins
    assert(keysKept(src, cfg, Some(t("19:00")), "2024-01-09T20:00:00Z") == Set("TEST-1"))
  }

  test("scan precedence 2: stateful watermark beats window range; queues still apply") {
    // range "1m" from now=18:30 would exclude the 18:00 update — the
    // watermark arm (17:00) must win and keep it
    val cfg = EngineConfig(stateful = true,
      search = SearchSettings(range = Some("1m")))
    val src = raw(
      issue("TEST-1", "Open", updatedAt = t("16:00")),
      issue("TEST-2", "Open", updatedAt = t("18:00")))
    assert(keysKept(src, cfg, Some(t("17:00")), "2024-01-09T18:30:00Z") == Set("TEST-2"))
    // a configured queue list filters inside the stateful arm (etl.py:85)
    val cfgQ = cfg.copy(search = SearchSettings(queues = Seq("OTHER")))
    assert(keysKept(src, cfgQ, Some(t("17:00")), "2024-01-09T18:30:00Z").isEmpty)
  }

  test("scan precedence 2b: first stateful run bounds by now - statefulInitialRange") {
    val cfg = EngineConfig(stateful = true, statefulInitialRange = Some("1d"))
    val src = raw(
      issue("TEST-OLD", "Open", updatedAt = t("18:00", day = "2024-01-05")),
      issue("TEST-NEW", "Open", updatedAt = t("18:00")))
    assert(keysKept(src, cfg, None, "2024-01-10T00:00:00Z") == Set("TEST-NEW"))
    // without an initial range (library default) the first run scans all
    assert(IssuePipeline.scanFilter(
      EngineConfig(stateful = true), None, java.time.Instant.now()).isEmpty)
  }

  test("scan precedence 3: sliding window Updated >= now - range") {
    val cfg = EngineConfig(search = SearchSettings(range = Some("2h")))
    val src = raw(
      issue("TEST-1", "Open", updatedAt = t("15:59")),
      issue("TEST-2", "Open", updatedAt = t("16:00")),
      issue("TEST-3", "Open", updatedAt = t("18:00")))
    // now 18:00 - 2h = 16:00 inclusive (reference emits Updated: >=)
    assert(keysKept(src, cfg, None, "2024-01-09T18:00:00Z") == Set("TEST-2", "TEST-3"))
    // nothing configured -> unbounded library scan
    assert(IssuePipeline.scanFilter(EngineConfig(), None, java.time.Instant.now()).isEmpty)
  }

  test("window-mode run end-to-end: only in-range issues are exported") {
    val dir = java.nio.file.Files.createTempDirectory("graft-win").toString
    val cfg = EngineConfig(search = SearchSettings(range = Some("2h")))
    val src = raw(
      issue("TEST-1", "Open", updatedAt = t("10:00")),
      issue("TEST-2", "Closed", updatedAt = t("18:00"), changelog = walkthroughEvents))
    val r = IssuePipeline.run(src, cfg, new ParquetSink(dir),
      now = java.time.Instant.parse("2024-01-09T19:00:00Z"))
    assert(r.uploaded && r.issuesProcessed == 1)
    assert(spark.read.parquet(s"$dir/issues").select("issue_key").as[String].collect().toSeq == Seq("TEST-2"))
  }

  test("EngineConfig.fromEnv binds the EXPORTER_* surface with reference defaults") {
    val cfg = EngineConfig.fromEnv(Map(
      "EXPORTER_STATEFUL" -> "true",
      "EXPORTER_STATEFUL_INITIAL_RANGE" -> "3d",
      "EXPORTER_CHANGELOG_EXPORT_ENABLED" -> "false",
      "EXPORTER_CLOSED_ISSUE_STATUSES" -> "Done,Closed",
      "EXPORTER_WORKDAYS" -> "0,1,2",
      "EXPORTER_BUSINESS_HOURS_START" -> "10:00:00",
      "EXPORTER_BUSINESS_HOURS_END" -> "18",
      "EXPORTER_TRACKER__SEARCH__QUEUES" -> "test, ops",
      "EXPORTER_TRACKER__SEARCH__RANGE" -> "4h",
      "EXPORTER_ETL_INTERVAL_MINUTES" -> "15"))
    assert(cfg.stateful && cfg.statefulInitialRange.contains("3d"))
    assert(!cfg.changelogExportEnabled)
    assert(cfg.closedStatuses == Set("done", "closed"))
    assert(cfg.calendar.workDays == Set(java.time.DayOfWeek.MONDAY,
      java.time.DayOfWeek.TUESDAY, java.time.DayOfWeek.WEDNESDAY))
    assert(cfg.calendar.startHour == 10 && cfg.calendar.endHour == 18)
    assert(cfg.search.queues == Seq("TEST", "OPS")) // validate_queues uppercases
    assert(cfg.search.range.contains("4h"))
    assert(cfg.etlIntervalMinutes == 15)

    // unset env -> the reference deployment defaults (config.py:84, :187)
    val dflt = EngineConfig.fromEnv(Map.empty)
    assert(!dflt.stateful && dflt.statefulInitialRange.contains("1w"))
    assert(dflt.search.range.contains("2h") && dflt.search.queues.isEmpty)
    assert(dflt.changelogExportEnabled) // documented deviation: engine keeps it on
    assert(dflt.etlIntervalMinutes == 30) // daemon cadence (config.py:200)

    // invalid values fail naming the offending variable (ConfigurationError
    // discipline), not with a bare NumberFormatException
    for ((k, v) <- Seq(
        "EXPORTER_WORKDAYS" -> "0,7",
        "EXPORTER_WORKDAYS" -> "mon",
        "EXPORTER_BUSINESS_HOURS_START" -> "25",
        "EXPORTER_BUSINESS_HOURS_END" -> "noon",
        "EXPORTER_ETL_INTERVAL_MINUTES" -> "0",
        "EXPORTER_ETL_INTERVAL_MINUTES" -> "half-hour")) {
      val e = intercept[IllegalArgumentException](EngineConfig.fromEnv(Map(k -> v)))
      assert(e.getMessage.contains(k) && e.getMessage.contains(v), s"$k=$v -> ${e.getMessage}")
    }
  }
}
