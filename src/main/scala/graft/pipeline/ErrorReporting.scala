package graft.pipeline

import java.io.{PrintWriter, StringWriter}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.sinks.HttpTransport

/** Pluggable error-report hook ≙ the reference's Sentry integration
  * (main.py:70-80: `sentry_sdk.init(dsn, release=appname@version,
  * before_send=sentry_events_filter)` when
  * `monitoring.sentry_enabled`): on pipeline failure an event with the
  * exception, a release tag, a stable FINGERPRINT, and the run context
  * goes to a pluggable sink — an HTTP endpoint (loopback-tested, no
  * SaaS dependency), stderr, or nothing.
  *
  * The `before_send` analog is [[ErrorReporting.filtered]]: the
  * reference drops events without an exception trace and collapses its
  * whole Tracker* error family onto one `tracker-error` fingerprint so
  * the backend groups them as a single issue
  * (services/monitoring.py:80-89); here the same grouping rule keys
  * sink/transport IO failures to `sink-io` and config errors to
  * `config` — everything else fingerprints by exception class.
  */
object ErrorReporting {

  final case class ReportEvent(
      error: Throwable,
      release: String,
      fingerprint: String,
      context: Map[String, String])

  trait ErrorReporter extends AutoCloseable {
    def report(event: ReportEvent): Unit
    override def close(): Unit = ()
  }

  /** The grouping rule (≙ sentry_events_filter): stable fingerprints so
    * a backend aggregates recurring failures into one issue.
    */
  def fingerprintOf(e: Throwable): String = e match {
    case _: java.io.IOException        => "sink-io"
    case _: IllegalArgumentException   => "config"
    case _: org.apache.spark.SparkException => "spark-job"
    case other                         => other.getClass.getSimpleName
  }

  /** Build the event a reporter ships (release ≙ `appname@version`). */
  def eventOf(e: Throwable, release: String,
              context: Map[String, String]): ReportEvent =
    ReportEvent(e, release, fingerprintOf(e), context)

  /** `before_send` hook shape: return None to drop the event. The
    * default mirrors the reference's filter — events WITHOUT a real
    * exception are dropped (monitoring.py:81-83).
    */
  def filtered(event: ReportEvent,
               beforeSend: ReportEvent => Option[ReportEvent]): Option[ReportEvent] =
    Option(event.error).flatMap(_ => beforeSend(event))

  /** No-op (≙ `sentry_enabled = false` — init skipped entirely). */
  object Noop extends ErrorReporter {
    def report(event: ReportEvent): Unit = ()
  }

  /** Stderr reporter — the zero-dependency default for `--run-once`
    * batch runs where the operator IS the backend.
    */
  final class ConsoleErrorReporter extends ErrorReporter {
    def report(event: ReportEvent): Unit = {
      val ctx = event.context.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")
      System.err.println(s"[error-report] release=${event.release} " +
        s"fingerprint=${event.fingerprint} $ctx " +
        s"error=${event.error.getClass.getName}: ${event.error.getMessage}")
    }
  }

  /** HTTP reporter: one JSON envelope POSTed per event — the Sentry
    * store-endpoint SHAPE (release, fingerprint, exception type,
    * message, stacktrace, extra context) against any URL, so a real
    * deployment points it at a relay and tests point it at a loopback
    * stub. Jackson writes the envelope, so any message (quotes, control
    * characters, non-ASCII) stays valid JSON; the POST goes through
    * [[graft.sinks.HttpTransport]], the same wire the ClickHouse client
    * uses (a non-2xx answer is an `IOException`). Reporting failures are
    * swallowed to stderr: the error path must never mask the original
    * pipeline error.
    */
  final class HttpErrorReporter(url: String,
                                connectTimeoutMs: Int = 5000,
                                readTimeoutMs: Int = 5000) extends ErrorReporter {
    private val transport = new HttpTransport(url,
      connectTimeoutMs = connectTimeoutMs, readTimeoutMs = readTimeoutMs)

    def report(event: ReportEvent): Unit =
      try transport(toJson(event))
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[error-report] delivery failed (${e.getMessage}); " +
            s"original error: ${event.error.getMessage}")
      }

    private[pipeline] def toJson(event: ReportEvent): String = {
      val sw = new StringWriter()
      event.error.printStackTrace(new PrintWriter(sw))
      val root = json.createObjectNode().put("release", event.release)
      root.putArray("fingerprint").add(event.fingerprint)
      root.putObject("exception")
        .put("type", event.error.getClass.getName)
        .put("value", String.valueOf(event.error.getMessage))
        .put("stacktrace", sw.toString.take(8192))
      val extra = root.putObject("extra")
      event.context.toSeq.sorted.foreach { case (k, v) => extra.put(k, v) }
      json.writeValueAsString(root)
    }
  }

  private val json = new ObjectMapper()

  /** ≙ configure_sentry (main.py:70-80): enabled + URL → HTTP reporter,
    * enabled without URL is a configuration error (the reference
    * asserts `sentry_dsn is not None`), disabled → Noop.
    */
  def fromConfig(enabled: Boolean, url: Option[String]): ErrorReporter =
    if (!enabled) Noop
    else url match {
      case Some(u) => new HttpErrorReporter(u)
      case None => throw new IllegalArgumentException(
        "error reporting enabled but no report URL configured")
    }
}
