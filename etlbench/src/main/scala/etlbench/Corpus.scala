package etlbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.util.AccumulatorV2

import graft.schema.Schemas

/** Seeded raw-issue corpus in the `Schemas.rawIssue` shape.
  *
  * Every document is a pure function of (seed, issue index, delta), so the
  * base snapshot is generated in parallel and each delta on the driver.
  * The generator also counts what a correct export of its documents must
  * produce (one `issue_metrics` row per distinct from-status of the valid
  * workflow events, one `issues_changelog` row per field change), which
  * the workloads check the pipeline's `RunStats` against.
  *
  * Shape choices:
  *   - changelog lengths follow a Pareto-like tail (p99 ≈ 10× the median);
  *   - events mix workflow transitions, field updates and queue moves;
  *   - wire datetimes carry `+0000` or `+0300` offsets at random;
  *   - a snapshot holds one document per issue key, like the Tracker API;
  *   - a delta re-versions existing keys: the full document again, with
  *     one to three new events after every earlier event of the corpus.
  */
object Corpus {

  /** What a correct export of a set of documents yields. */
  final case class Expect(
      issues: Long,
      events: Long,
      metricRows: Long,
      changelogRows: Long,
      withoutMetrics: Long,
      maxUpdatedMs: Long) {
    def +(o: Expect): Expect = Expect(issues + o.issues, events + o.events,
      metricRows + o.metricRows, changelogRows + o.changelogRows,
      withoutMetrics + o.withoutMetrics, math.max(maxUpdatedMs, o.maxUpdatedMs))
  }
  val NoDocs: Expect = Expect(0, 0, 0, 0, 0, Long.MinValue)

  /** Base snapshot written to `dir`, with the changelog-length histogram. */
  final case class Base(expect: Expect, lengths: Array[Long])

  private val Queues: Seq[String] = Seq("CORE", "WEB", "DATA", "OPS", "MOBILE", "INFRA", "SEC", "QA")
  private val Statuses = Seq("Open", "In progress", "Need info", "Review", "Testing",
    "Ready for release", "Closed")
  private val Types = Seq("Task", "Bug", "Story", "Epic", "Improvement")
  private val Priorities = Seq("Trivial", "Minor", "Normal", "Critical", "Blocker")
  private val People = (0 until 60).map(i => s"User.$i@Example.com")
  private val Words = Seq("export", "tracker", "sprint", "queue", "status", "metric", "backlog",
    "release", "review", "deploy", "build", "test", "schema", "index", "window", "filter")
  private val MaxLen = 250

  /** Corpus epoch: 2024-01-01T00:00Z. Issues are created in the following
    * 108 days and their events end before day 200 (at most `MaxLen` gaps
    * of at most 8 h); delta `d` lands in its own later band of one hour.
    */
  private val Epoch = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  private val CreatedSpanMs = 108L * 86400000L
  private val DeltaBandMs = 3600000L
  private def deltaBandStart(d: Int): Long = Epoch + 200L * 86400000L + d.toLong * DeltaBandMs

  private val WireFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSxx")
  private val Utc = ZoneOffset.UTC
  private val Msk = ZoneOffset.ofHours(3)
  private def wire(ms: Long, r: SplittableRandom): String =
    WireFmt.format(Instant.ofEpochMilli(ms).atOffset(if (r.nextInt(3) == 0) Msk else Utc))
  private def day(ms: Long): String =
    DateTimeFormatter.ISO_LOCAL_DATE.format(Instant.ofEpochMilli(ms).atOffset(Utc))

  private def rng(seed: Long, idx: Long, salt: Long): SplittableRandom =
    new SplittableRandom(((seed * 0x9E3779B97F4A7C15L) ^ (idx * 0xBF58476D1CE4E5B9L)) + salt)
  private def pick[T](xs: Seq[T], r: SplittableRandom): T = xs(r.nextInt(xs.size))

  private def key(idx: Long): String = s"${Queues((idx % Queues.size).toInt)}-${idx + 1}"

  // variant struct: (s, n, ref(key, email, name, id), list, json)
  private def vS(s: String): Row = Row(s, null, null, null, null)
  private def vN(n: Double): Row = Row(null, n, null, null, null)
  private def vRefName(n: String): Row = Row(null, null, Row(null, null, n, null), null, null)
  private def vRefKey(k: String): Row = Row(null, null, Row(k, null, null, null), null, null)
  private def vRefEmail(e: String): Row = Row(null, null, Row(null, e, null, null), null, null)
  private def vList(xs: Seq[String]): Row = Row(null, null, null, xs, null)
  private val vNull: Row = Row(null, null, null, null, null)
  private def field(id: String, name: String, from: Row, to: Row): Row = Row(Row(id, name), from, to)

  /** Mutable walk state of one document while its events are appended. */
  private final class Doc(val idx: Long, val createdMs: Long) {
    val events = ArrayBuffer.empty[Row]
    var status = "Open"
    var lastMs: Long = createdMs
    var lastWorkflowMs: Option[Long] = None
    var queue: String = Queues((idx % Queues.size).toInt)
    var fieldChanges = 0L
    val fromStatuses = scala.collection.mutable.Set.empty[String]
  }

  private def appendEvent(d: Doc, atMs: Long, r: SplittableRandom): Unit = {
    val actor = Row(pick(People, r), null)
    val at = wire(atMs, r)
    val kind = r.nextInt(100)
    val (tpe, fields) =
      if (kind < 50) {
        val next = pick(Statuses.filterNot(_ == d.status), r)
        val f = Seq(
          field("status", "Status", vRefName(d.status), vRefName(next)),
          field("statusStartTime", "Status start time",
            d.lastWorkflowMs.map(ms => vS(wire(ms, r))).getOrElse(vNull), vS(at)))
        d.fromStatuses += d.status
        d.status = next
        d.lastWorkflowMs = Some(atMs)
        ("IssueWorkflow", f)
      } else if (kind < 95) {
        val pool = Seq[SplittableRandom => Row](
          r => field("assignee", "Assignee", vRefEmail(pick(People, r)), vRefEmail(pick(People, r))),
          r => field("storyPoints", "Story Points", vN(r.nextInt(13).toDouble), vN(r.nextInt(26) / 2.0 + 0.5)),
          r => field("tags", "Tags", vList(Seq(pick(Words, r))), vList(Seq(pick(Words, r), pick(Words, r)))),
          r => field("description", "Description", vNull,
            vS(Seq.fill(if (r.nextInt(3) == 0) 24 else 4)(pick(Words, r)).mkString(" "))),
          r => field("deadline", "Deadline", vNull, vS(wire(atMs + 86400000L * (1 + r.nextInt(30)), r))),
          r => field("priority", "Priority", vRefName(pick(Priorities, r)), vRefName(pick(Priorities, r))),
          r => field("meta", null, vNull, Row(null, null, null, null, s"""{"k": ${r.nextInt(100)}}""")))
        val chosen = scala.collection.mutable.SortedSet.empty[Int]
        val n = 1 + r.nextInt(3)
        while (chosen.size < n) chosen += r.nextInt(pool.size)
        ("IssueUpdated", chosen.toSeq.map(i => pool(i)(r)))
      } else {
        val to = pick(Queues.filterNot(_ == d.queue), r)
        val f = Seq(field("queue", "Queue", vRefKey(d.queue), vRefKey(to)))
        d.queue = to
        ("IssueMoved", f)
      }
    d.fieldChanges += fields.size
    d.events += Row(at, tpe, if (r.nextBoolean()) "front" else "api", actor, fields)
    d.lastMs = atMs
  }

  /** Changelog length: 3 + Pareto tail (median ≈ 4, p99 ≈ 45), capped. */
  private def changelogLength(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    math.min(MaxLen, 3 + (3 * (math.pow(1 - u, -0.6) - 1)).toInt)
  }

  /** Base-snapshot state of one issue. Base event times are spaced so the
    * last one is unique across the corpus: its millisecond offset within a
    * grid of `n` ms is the issue index.
    */
  private def baseDoc(seed: Long, idx: Long, n: Long): Doc = {
    val r = rng(seed, idx, 1)
    val created = Epoch + (r.nextDouble() * CreatedSpanMs).toLong
    val d = new Doc(idx, created)
    val len = changelogLength(r)
    var t = created
    var i = 0
    while (i < len) {
      t += 60000L + (r.nextDouble() * 7.9 * 3600000L).toLong
      if (i == len - 1) t = (t / n + 2) * n + idx
      appendEvent(d, t, r)
      i += 1
    }
    d
  }

  private def render(d: Doc, r: SplittableRandom, fixedUpdatedMs: Option[Long] = None): Row = {
    val closed = d.status == "Closed"
    def ref(v: String) = Row(v)
    val sprints = Seq.fill(r.nextInt(3))(ref(s"Sprint ${1 + r.nextInt(40)}"))
    val updatedMs = fixedUpdatedMs.getOrElse(d.lastMs)
    Row(
      key(d.idx),
      Seq.fill(2 + r.nextInt(5))(pick(Words, r)).mkString(" ") + (if (r.nextInt(10) == 0) " 🚀" else ""),
      ref(d.queue),
      ref(pick(Types, r)),
      ref(pick(Priorities, r)),
      ref(d.status),
      if (closed && r.nextInt(4) != 0) ref("Fixed") else null,
      ref(pick(People, r)),
      ref(pick(People, r)),
      if (r.nextBoolean()) ref(pick(People, r)) else null,
      if (r.nextInt(5) == 0) Row(key(r.nextInt(1000).toLong)) else null,
      if (r.nextInt(4) == 0) Row(key(r.nextInt(100).toLong)) else null,
      ref(s"Project ${r.nextInt(12)}"),
      sprints,
      Seq.fill(r.nextInt(3))(ref(pick(Words, r))),
      Seq.fill(r.nextInt(4))(pick(Words, r)),
      if (r.nextInt(10) == 0) Seq(s"ALIAS-${d.idx}") else null,
      if (r.nextInt(4) == 0) null else java.lang.Float.valueOf(r.nextInt(21).toFloat),
      wire(d.createdMs, r),
      wire(updatedMs, r),
      if (closed) wire(d.lastWorkflowMs.getOrElse(d.lastMs), r) else null,
      day(d.createdMs),
      day(d.createdMs + 14L * 86400000L),
      if (r.nextBoolean()) day(d.createdMs + 30L * 86400000L) else null,
      d.events.toSeq,
      if (r.nextInt(20) == 0) Seq(Row(s"c${d.idx}", "looks good", Row(pick(People, r), "Reviewer"),
        wire(d.createdMs + 60000L, r), null)) else null)
  }

  private def expectOf(d: Doc): Expect = Expect(
    issues = 1, events = d.events.size, metricRows = d.fromStatuses.size,
    changelogRows = d.fieldChanges, withoutMetrics = if (d.fromStatuses.isEmpty) 1 else 0,
    maxUpdatedMs = d.lastMs)

  /** Writes the base snapshot of `n` issues to `dir` as `files` parquet files. */
  def writeBase(spark: SparkSession, seed: Long, n: Int, files: Int, dir: String): Base = {
    val acc = new StatsAcc
    spark.sparkContext.register(acc, "corpus")
    val rows = spark.sparkContext.range(0L, n.toLong, 1, files).mapPartitions { it =>
      it.map { idx =>
        val d = baseDoc(seed, idx, n)
        acc.add(expectOf(d), d.events.size)
        render(d, rng(seed, idx, 2))
      }
    }
    spark.createDataFrame(rows, Schemas.rawIssue).write.mode(SaveMode.Overwrite).parquet(dir)
    Base(acc.value._1, acc.value._2)
  }

  /** Deltas `0 until count`, each `size` re-versioned documents, written
    * under `dir/delta=<d>/` as one parquet file per delta. Delta `d`
    * re-versions the `d`-th disjoint slice of a seeded key permutation;
    * its update times fall in the delta's own band, after every earlier
    * event, and are unique within it.
    */
  def writeDeltas(spark: SparkSession, seed: Long, n: Int, size: Int, count: Int, dir: String): IndexedSeq[Expect] = {
    val perm = new scala.util.Random(seed ^ 0x5DEECE66DL).shuffle((0L until n.toLong).toVector)
    val deltas = (0 until count).map { d =>
      val band = deltaBandStart(d)
      (0 until size).map { i =>
        val idx = perm((d * size + i) % n)
        val doc = baseDoc(seed, idx, n)
        val r = rng(seed, idx, 1000L + d)
        val extra = 1 + r.nextInt(3)
        val last = band + (i.toLong + 1) * (DeltaBandMs / (size + 1))
        (1 to extra).foreach(j => appendEvent(doc, last - (extra - j) * 1000L, r))
        (Row.fromSeq(render(doc, r).toSeq :+ d), expectOf(doc))
      }
    }
    // one slice per delta, so each delta lands in one file without a shuffle
    val rows = spark.sparkContext.parallelize(deltas.map(_.map(_._1)), count).flatMap(identity)
    spark.createDataFrame(rows, Schemas.rawIssue.add("delta", "int"))
      .write.mode(SaveMode.Overwrite).partitionBy("delta").parquet(dir)
    deltas.map(_.map(_._2).foldLeft(NoDocs)(_ + _))
  }

  /** Sums `Expect`s and histograms changelog lengths across tasks. */
  final class StatsAcc extends AccumulatorV2[(Expect, Int), (Expect, Array[Long])] {
    private var e = NoDocs
    private var h = new Array[Long](MaxLen + 1)
    def isZero: Boolean = e == NoDocs && h.forall(_ == 0)
    def copy(): StatsAcc = { val c = new StatsAcc; c.e = e; c.h = h.clone(); c }
    def reset(): Unit = { e = NoDocs; h = new Array[Long](MaxLen + 1) }
    def add(v: (Expect, Int)): Unit = { e = e + v._1; h(v._2) += 1 }
    def merge(other: AccumulatorV2[(Expect, Int), (Expect, Array[Long])]): Unit = {
      val (oe, oh) = other.value
      e = e + oe
      var i = 0
      while (i < h.length) { h(i) += oh(i); i += 1 }
    }
    def value: (Expect, Array[Long]) = (e, h)
  }

  /** Percentile `q` of a length histogram. */
  def percentile(hist: Array[Long], q: Double): Int = {
    val total = hist.sum
    val target = math.ceil(q * total).toLong
    var seen = 0L
    var i = 0
    while (i < hist.length) {
      seen += hist(i)
      if (seen >= target && seen > 0) return i
      i += 1
    }
    hist.length - 1
  }
}
