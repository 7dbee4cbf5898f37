package etlbench

import java.io.File
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.IssuePipeline
import graft.pipeline.IssuePipeline.RunStats
import graft.schema.EngineConfig
import graft.sinks.{ParquetSink, Sink}
import graft.sources.RawIssueSource
import graft.state.{FileStateStore, StateStore}

/** Sizes of one benchmark scale. `exportS` and `tickS` are the nominal op
  * times on 4 cores: a run of `--seconds s` does `s / exportS` exports or
  * `s / tickS` ticks (at least `minOps`), a count fixed by its arguments.
  */
final case class Scale(backfillIssues: Int, incrementalIssues: Int, files: Int,
                       deltaSize: Int, exportS: Double, tickS: Double, minOps: Int)

object Scale {
  val Full: Scale = Scale(backfillIssues = 10000, incrementalIssues = 24000, files = 8,
    deltaSize = 200, exportS = 9.0, tickS = 3.0, minOps = 2)
  val Tiny: Scale = Scale(backfillIssues = 2000, incrementalIssues = 2000, files = 2,
    deltaSize = 20, exportS = 1.0, tickS = 1.0, minOps = 2)
}

/** One timed call of `IssuePipeline.run`. A failed or wrong op keeps its
  * time only for `run_s`; it never enters an op statistic.
  */
final case class Op(index: Int, seconds: Double, stats: Option[RunStats], error: Option[String],
                    outDir: String, var problem: Option[String] = None) {
  def ok: Boolean = problem.isEmpty
}

final case class Phase(ops: Seq[Op], wallS: Double, cpuS: Double, gcS: Double)

/** The two ETL workloads over one seeded raw-issue corpus.
  *
  * `etl_backfill` repeats full exports (changelog on) of the base snapshot,
  * each into a fresh parquet sink with a fresh state file. `etl_incremental`
  * runs stateful ticks (changelog off, the reference default): before each
  * tick one delta of re-versioned documents lands in the source directory,
  * and the committed watermark admits exactly that delta.
  */
final class Etl(spark: SparkSession, workload: String, seed: Long, scale: Scale,
                seconds: Int, work: String) {

  val incremental: Boolean = workload == "etl_incremental"
  require(incremental || workload == "etl_backfill", s"unknown workload $workload")

  private val cfg: EngineConfig =
    if (incremental) EngineConfig(changelogExportEnabled = false, stateful = true)
    else EngineConfig()

  /** Ops per phase: fixed by `--seconds` and the scale, never by the clock. */
  val opsPerPhase: Int = math.max(scale.minOps,
    math.round(seconds / (if (incremental) scale.tickS else scale.exportS)).toInt)
  private val issues = if (incremental) scale.incrementalIssues else scale.backfillIssues

  private val sourceDir = s"$work/source"
  private val stateUri = s"$work/state/incremental.json"
  private val stateKey = "last_update_at"

  private var base: Corpus.Base = _
  private var deltas: IndexedSeq[Corpus.Expect] = IndexedSeq.empty
  private var nextDelta = 0
  private var opCounter = 0
  var warmOps: Seq[Op] = Seq.empty

  /** `version` and `now`, pinned to the same values in every call, so
    * outputs and `RunStats` repeat exactly. (A deployment stamps a new
    * version per run.)
    */
  private val pinnedAt = Instant.parse("2025-01-01T00:00:00Z")
  private val (ver, now) = (lit(java.sql.Timestamp.from(pinnedAt)), pinnedAt)

  private def wire(ms: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSxx")
      .format(Instant.ofEpochMilli(ms).atOffset(java.time.ZoneOffset.UTC))

  // ---------------------------------------------------------------- setup

  /** Generates the inputs, then warms up on them with one untimed, checked
    * op, so timed ops do not pay for first-use class loading, code
    * generation and JIT compilation.
    */
  def setup(): Unit = {
    val t0 = System.nanoTime()
    base = Corpus.writeBase(spark, seed, issues, scale.files, sourceDir)
    if (incremental) {
      deltas = Corpus.writeDeltas(spark, seed, issues, scale.deltaSize,
        1 + 2 * opsPerPhase, s"$work/deltas")
      // The deployment has already exported the base snapshot.
      new FileStateStore(stateUri).set(stateKey, wire(base.expect.maxUpdatedMs))
    }
    val t1 = System.nanoTime()
    warmOps = Seq(op("warmup", None))
    checkOps(warmOps)
    warmOps.flatMap(_.problem).headOption.foreach(p => throw new IllegalStateException(s"warm-up op: $p"))
    println(f"setup: inputs ${(t1 - t0) / 1e9}%.2f s, warm-up ${(System.nanoTime() - t1) / 1e9}%.2f s")
  }

  def shape: String = {
    val h = base.lengths
    val e = base.expect
    s"issues=${e.issues} events=${e.events} changelog_rows=${e.changelogRows} " +
      s"metric_rows=${e.metricRows} changelog_len_p50=${Corpus.percentile(h, 0.5)} " +
      s"p99=${Corpus.percentile(h, 0.99)} max=${Corpus.percentile(h, 1.0)} " +
      s"delta_size=${if (incremental) scale.deltaSize else 0}"
  }

  // ------------------------------------------------------------- timed ops

  /** Moves the next staged delta into the source directory. */
  private def publishDelta(): Int = {
    val d = nextDelta
    val files = Option(new File(s"$work/deltas/delta=$d").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet"))
    require(files.length == 1, s"delta $d: expected one staged file, found ${files.length}")
    require(files.head.renameTo(new File(f"$sourceDir/delta-$d%04d.parquet")), s"delta $d: rename failed")
    nextDelta += 1
    d
  }

  /** One op; traced ops wrap the sink and the state store in spans. */
  private def op(phase: String, trace: Option[Trace]): Op = {
    val i = opCounter
    opCounter += 1
    val d = if (incremental) publishDelta() else -1
    val out = if (incremental) s"$work/out/tick-$d" else s"$work/out/$phase-$i"
    val sink0: Sink = new ParquetSink(out)
    val state0: StateStore =
      if (incremental) new FileStateStore(stateUri) else new FileStateStore(s"$work/state/$phase-$i.json")
    val (sink, state) = trace match {
      case Some(t) => (new TracedSink(sink0, t), new TracedState(state0, t))
      case None => (sink0, state0)
    }
    def call(): RunStats = {
      val source = trace.fold(RawIssueSource.Parquet(sourceDir).load(spark))(t =>
        t.span("sources.load")(RawIssueSource.Parquet(sourceDir).load(spark)))
      trace.fold(IssuePipeline.run(source, cfg, sink, Some(state), stateKey, ver, now))(t =>
        t.span("pipeline.run")(IssuePipeline.run(source, cfg, sink, Some(state), stateKey, ver, now)))
    }
    val t0 = System.nanoTime()
    val result =
      try Right(trace.fold(call())(t => t.span("op")(call())))
      catch { case scala.util.control.NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val sec = (System.nanoTime() - t0) / 1e9
    Op(if (incremental) d else i, sec, result.toOption, result.left.toOption, out)
  }

  def timed(phase: String, trace: Option[Trace]): Phase = {
    val cpu0 = Metrics.processCpuS
    val gc0 = Metrics.gcS
    val t0 = System.nanoTime()
    val ops = (0 until opsPerPhase).map { _ =>
      val o = op(phase, trace)
      trace.foreach(_.markOp())
      o
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val phaseResult = Phase(ops, wall, Metrics.processCpuS - cpu0, Metrics.gcS - gc0)
    checkOps(ops)
    phaseResult
  }

  // ---------------------------------------------------------------- checks

  private def expected(o: Op): Corpus.Expect =
    if (incremental) deltas(o.index) else base.expect

  /** RunStats against what the generator wrote; row counts of every table
    * against the same; and a digest of every table for the repeat checks.
    */
  private def checkOps(ops: Seq[Op]): Unit = ops.foreach { o =>
    val e = expected(o)
    val problems = mutable.ArrayBuffer.empty[String]
    o.error.foreach(problems += _)
    o.stats.foreach { s =>
      val wantChangelog = if (cfg.changelogExportEnabled) e.changelogRows else 0L
      if (s.issuesProcessed != e.issues) problems += s"issues ${s.issuesProcessed} != ${e.issues}"
      if (s.metricsRows != e.metricRows) problems += s"metrics ${s.metricsRows} != ${e.metricRows}"
      if (s.changelogRows != wantChangelog) problems += s"changelog ${s.changelogRows} != $wantChangelog"
      if (s.issuesWithoutMetrics != e.withoutMetrics)
        problems += s"without_metrics ${s.issuesWithoutMetrics} != ${e.withoutMetrics}"
      if (!s.uploaded) problems += "not uploaded"
      val wm = s.newWatermark.map(w => java.time.OffsetDateTime.parse(w,
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSxx")).toInstant.toEpochMilli)
      if (!wm.contains(e.maxUpdatedMs)) problems += s"watermark ${s.newWatermark} != ${wire(e.maxUpdatedMs)}"
      val counts = tableDigests(o.outDir).map { case (t, d) => t -> d.split(":")(0).toLong }.toMap
      val want = Map("issues" -> e.issues, "issue_metrics" -> e.metricRows, "issues_changelog" -> wantChangelog)
      want.foreach { case (t, n) =>
        if (!counts.get(t).contains(n)) problems += s"$t has ${counts.get(t)} rows, want $n"
      }
    }
    o.problem = if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  private val digestCache = mutable.HashMap.empty[String, Seq[(String, String)]]

  /** Order-independent digest of each sink table: rows, and the sum and
    * xor of a per-row xxhash64 over every column.
    */
  def tableDigests(dir: String): Seq[(String, String)] = digestCache.getOrElseUpdate(dir,
    Seq("issues", "issue_metrics", "issues_changelog").map { t =>
      val path = s"$dir/$t"
      val hasData = Option(new File(path).listFiles()).exists(_.exists(_.getName.endsWith(".parquet")))
      t -> (if (!hasData) "0:0:0" else {
        val df = spark.read.parquet(path)
        val h = xxhash64(df.columns.map(col).toSeq: _*)
        val r = df.agg(count(lit(1)), sum(pmod(h, lit(2147483647L))), bit_xor(h)).head()
        def l(i: Int) = Option(r.get(i)).getOrElse(0L)
        s"${l(0)}:${l(1)}:${l(2)}"
      })
    })

  def digest(o: Op): String = tableDigests(o.outDir).map { case (t, d) => s"$t=$d" }.mkString(";")

  /** Digest repeat checks: every export of the same snapshot must match,
    * and every op must match the digest recorded for this seed, if any.
    */
  def checkDigests(ops: Seq[Op], recorded: Seq[String]): Unit = {
    if (!incremental) {
      val first = ops.find(_.ok).map(digest)
      ops.filter(_.ok).foreach { o =>
        if (first.exists(_ != digest(o))) o.problem = Some(s"digest ${digest(o)} != ${first.get}")
      }
    }
    ops.filter(_.ok).foreach { o =>
      val want = if (incremental) recorded.lift(o.index) else recorded.headOption
      want.foreach(w => if (w != digest(o)) o.problem = Some(s"digest ${digest(o)} != recorded $w"))
    }
  }

  def sinkBytes(o: Op): Long = Metrics.dirBytes(new File(o.outDir))

  // ---------------------------------------------------------------- probes

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Layer probes over the window of the last traced op: noop writes of
    * the bounded source, of each transform output, and of each deduped
    * table, each in its own span.
    */
  def probe(t: Trace, previousWatermark: Option[String]): Map[String, Double] = {
    val src = RawIssueSource.Parquet(sourceDir).load(spark)
    val bounded = IssuePipeline.scanFilter(cfg, previousWatermark, now).map(src.where).getOrElse(src)
    t.span("sources.scan")(noop(bounded))
    val cached = bounded.cache()
    try {
      t.span("probe.cache")(cached.count())
      val p = IssuePipeline.transform(cached, cfg, ver)
      val tables = Seq("issues" -> ((x: IssuePipeline.Payload) => x.issues),
        "metrics" -> ((x: IssuePipeline.Payload) => x.metrics),
        "changelog" -> ((x: IssuePipeline.Payload) => x.changelog))
      tables.foreach { case (n, f) => t.span(s"transform.$n")(noop(f(p))) }
      val d = IssuePipeline.dedup(p)
      tables.foreach { case (n, f) => t.span(s"operators.dedup.$n")(noop(f(d))) }
      val rowsIn = tables.map { case (_, f) => f(p).count() }.sum
      val rowsOut = tables.map { case (_, f) => f(d).count() }.sum
      val changelogRows = p.changelog.count()
      val admitted = cached.count()
      t.drain()
      def spanNamed(n: String) = t.spans.filter(_.name == n).last
      def sumOf(prefix: String)(f: Trace.Span => Double) =
        tables.map { case (n, _) => f(spanNamed(s"$prefix.$n")) }.sum
      val scanSpan = spanNamed("sources.scan")
      val scanCounts = t.total(scanSpan.id)
      val probeCpuS = (t.total(spanNamed("probe.cache").id).cpuNs +
        tables.map { case (n, _) => t.total(spanNamed(s"operators.dedup.$n").id).cpuNs }.sum) / 1e9
      Map(
        "sources.scan_s" -> scanSpan.seconds,
        // every column of every file is read: the bytes are the source's
        "sources.input_mb" -> Metrics.dirBytes(new File(sourceDir)) / 1e6,
        "sources.rows_read_per_admitted" -> scanCounts.inputRecords.toDouble / math.max(1L, admitted),
        "transform.issues_s" -> spanNamed("transform.issues").seconds,
        "transform.metrics_s" -> spanNamed("transform.metrics").seconds,
        "transform.changelog_s" -> spanNamed("transform.changelog").seconds,
        "transform.changelog_rows_per_issue" -> changelogRows.toDouble / math.max(1L, admitted),
        "operators.dedup_s" -> (sumOf("operators.dedup")(_.seconds) - sumOf("transform")(_.seconds)),
        "operators.dedup_shuffle_mb" -> (sumOf("operators.dedup")(s => t.total(s.id).shuffleWriteBytes.toDouble) -
          sumOf("transform")(s => t.total(s.id).shuffleWriteBytes.toDouble)) / 1e6,
        "operators.dedup_keep_ratio" -> rowsOut.toDouble / math.max(1L, rowsIn),
        "probe.executor_cpu_s" -> probeCpuS)
    } finally cached.unpersist(blocking = true)
  }
}

/** `Sink` that times each table write in a span named `sinks.<table>`. */
final class TracedSink(inner: Sink, t: Trace) extends Sink {
  def write(df: DataFrame, table: String): Unit = t.span(s"sinks.$table")(inner.write(df, table))
}

/** `StateStore` that times each call in a `state.*` span. */
final class TracedState(inner: StateStore, t: Trace) extends StateStore {
  def get(key: String): Option[String] = t.span("state.get")(inner.get(key))
  def set(key: String, value: String): Unit = t.span("state.set")(inner.set(key, value))
  def delete(key: String): Unit = t.span("state.delete")(inner.delete(key))
}
