package graft

import java.util.concurrent.atomic.AtomicBoolean

import graft.pipeline.{IntervalScheduler, IssuePipeline}
import graft.schema.{EngineConfig, EnvFile}
import graft.sinks.{ConsoleSink, ParquetSink}
import graft.sources.RawIssueSource
import graft.state.StateStore

/** CLI entry ≙ the reference's `tracker-exporter` (main.py:127-147):
  * run-once by default, scheduled daemon with `--interval`.
  *
  * Usage: PipelineMain <rawIssues.(json|parquet)> <outDir> [stateUri]
  *          [--env-file <path>] [--error-report-url <url>]
  *          [--run-once | --daemon | --interval <minutes>]
  *   - rawIssues: newline-delimited JSON or parquet in the
  *     [[graft.schema.Schemas.rawIssue]] shape
  *   - outDir: parquet sink base dir ("console" → dry-run S9 sink)
  *   - stateUri: optional watermark KV → stateful incremental scan;
  *     a file/S3 path, or `redis://host[:port][/namespace]`
  *   - --env-file: dotenv file loaded UNDER the process environment
  *     (≙ `load_dotenv(args.env_file)`, main.py:30-33)
  *   - --run-once: one batch and exit (≙ the reference flag,
  *     main.py:26,131 — also this CLI's default, so the flag is
  *     drop-in parity rather than a behavior switch)
  *   - --daemon: scheduled mode at the configured cadence
  *     (`EXPORTER_ETL_INTERVAL_MINUTES`, default 30 — config.py:200),
  *     with `max_instances=1` overlap suppression (≙ the APScheduler
  *     job of main.py:138-146) until SIGTERM/SIGINT
  *   - --interval: daemon mode with an explicit cadence in minutes
  *     (overrides the env cadence)
  *
  * Configuration binds from the `EXPORTER_*` environment exactly like
  * the reference (config.py:246-250; see [[EngineConfig.fromEnv]]), so
  * the deployment DEFAULT is the reference's sliding 2h window —
  * `Updated >= now() − 2h` — which exports nothing from an archival
  * file. Set EXPORTER_TRACKER__SEARCH__RANGE (e.g. `4w`), an explicit
  * EXPORTER_TRACKER__SEARCH__QUERY (`"true"` scans everything), or pass
  * a stateUri for watermark mode. In daemon mode the stateful watermark
  * is what makes each tick INCREMENTAL: tick k exports only issues
  * updated since tick k−1's high-water mark.
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    // flags may appear anywhere; positionals keep their order
    val (flagParts, positional) = {
      val flags = scala.collection.mutable.Map[String, String]()
      val pos = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < args.length) {
        args(i) match {
          case f @ ("--env-file" | "--interval" | "--error-report-url") =>
            require(i + 1 < args.length, s"$f needs a value")
            flags(f) = args(i + 1); i += 2
          case f @ ("--run-once" | "--daemon") =>
            flags(f) = "true"; i += 1
          case other => pos += other; i += 1
        }
      }
      (flags.toMap, pos.toSeq)
    }
    require(positional.length >= 2,
      "usage: PipelineMain <rawIssues> <outDir> [stateUri] [--env-file <path>] " +
        "[--run-once | --daemon | --interval <minutes>]")
    require(!(flagParts.contains("--run-once") &&
      (flagParts.contains("--daemon") || flagParts.contains("--interval"))),
      "--run-once conflicts with --daemon/--interval")
    val Seq(rawPath, outDir) = positional.take(2)
    val env = flagParts.get("--env-file").map(EnvFile.overlay(_)).getOrElse(sys.env)

    val spark = Session.local(Session.cpus(env))
    spark.sparkContext.setLogLevel("WARN")

    val sink = if (outDir == "console") new ConsoleSink() else new ParquetSink(outDir)
    val state = positional.lift(2).map(StateStore.fromUri)
    // a stateUri on the command line IS the stateful opt-in (≙ EXPORTER_STATEFUL)
    val cfg = {
      val c = EngineConfig.fromEnv(env)
      if (state.isDefined) c.copy(stateful = true) else c
    }
    val mode =
      if (cfg.search.query.isDefined) s"explicit query ${cfg.search.query.get}"
      else if (cfg.stateful || state.isDefined) s"stateful (initial range ${cfg.statefulInitialRange.getOrElse("-")})"
      else s"window (queues=${cfg.search.queues.mkString(",")} range=${cfg.search.range.getOrElse("-")})"
    System.err.println(s"[pipeline] scan mode: $mode")

    def runBatch(): Unit = {
      val stats = RawIssueSource.withFile(spark, rawPath)(IssuePipeline.run(_, cfg, sink, state))
      println(s"[pipeline] issues=${stats.issuesProcessed} metrics=${stats.metricsRows} " +
        s"changelog=${stats.changelogRows} no_metrics=${stats.issuesWithoutMetrics} " +
        s"watermark=${stats.newWatermark.getOrElse("-")} uploaded=${stats.uploaded}")
    }

    // error-report hook ≙ configure_sentry (main.py:70-80): every
    // pipeline failure ships one fingerprinted event before propagating;
    // without --error-report-url the stderr reporter stands in
    import graft.pipeline.ErrorReporting
    val reporter: ErrorReporting.ErrorReporter =
      flagParts.get("--error-report-url")
        .map(u => ErrorReporting.fromConfig(enabled = true, Some(u)))
        .getOrElse(new ErrorReporting.ConsoleErrorReporter)
    val release = "graft-engine@0.1.0" // ≙ f"{appname}@{version}" (main.py:77)
    def reported(mode: String)(e: Throwable): Unit =
      ErrorReporting.filtered(
        ErrorReporting.eventOf(e, release, Map("mode" -> mode, "raw" -> rawPath)),
        ev => Some(ev))
        .foreach(reporter.report)

    val intervalMinutes: Option[Double] =
      flagParts.get("--interval").map(_.toDouble)
        .orElse(if (flagParts.contains("--daemon")) Some(cfg.etlIntervalMinutes.toDouble) else None)
    intervalMinutes match {
      case None =>
        try runBatch()
        catch {
          case scala.util.control.NonFatal(e) =>
            reported("batch")(e)
            reporter.close()
            throw e
        }
      case Some(minutes) =>
        val intervalMs = (minutes * 60000L).toLong
        System.err.println(s"[pipeline] daemon mode: every $minutes min (max_instances=1)")
        val stop = new AtomicBoolean(false)
        val sched = new IntervalScheduler(() => runBatch(),
          onError = e => {
            reported("daemon")(e)
            System.err.println(s"[pipeline] tick failed: ${e.getMessage}")
          })
        sun.misc.Signal.handle(new sun.misc.Signal("TERM"), _ => stop.set(true))
        sun.misc.Signal.handle(new sun.misc.Signal("INT"), _ => stop.set(true))
        sched.runLoop(intervalMs, stop)
        System.err.println(s"[pipeline] daemon stopped: ticks=${sched.completed} " +
          s"suppressed=${sched.suppressed}")
    }
    reporter.close()
    spark.stop()
  }
}
