package graft.examples

import org.apache.spark.sql.SparkSession

import graft.pipeline.{ErrorReporting, IssuePipeline}
import graft.schema.EngineConfig
import graft.sinks.Sink
import graft.sources.RawIssueSource
import graft.state.StateStore

/** Single-invocation (serverless / FaaS) entry point ≙ the reference's
  * `examples/serverless/main.py:7-14`: a `handler(event, context)` that
  * runs one ETL pass and maps the outcome to a status envelope —
  * `{"statusCode": 200, "message": "success"}` on success, 500 with the
  * exception otherwise. The function-platform adapter (cloud function,
  * container job, Airflow PythonOperator analog) calls [[handler]] once
  * per trigger; the warm SparkSession is reused across invocations the
  * same way the reference reuses its interpreter.
  *
  * Failures additionally flow through the [[ErrorReporting]] hook
  * before being mapped to 500 — the serverless shape is exactly where
  * an error backend matters (there is no operator tailing stderr).
  */
object ServerlessHandler {

  final case class Response(statusCode: Int, message: String)

  /** One ETL invocation. `event` carries the raw-input path (platform
    * payloads reduce to this); everything else binds from the
    * environment exactly like [[graft.PipelineMain]].
    */
  def handler(event: Map[String, String], spark: SparkSession, sink: Sink,
              cfg: EngineConfig = EngineConfig(), state: Option[StateStore] = None,
              reporter: ErrorReporting.ErrorReporter = ErrorReporting.Noop): Response =
    try {
      val rawPath = event.getOrElse("raw",
        throw new IllegalArgumentException("event must carry a 'raw' input path"))
      RawIssueSource.withFile(spark, rawPath)(IssuePipeline.run(_, cfg, sink, state))
      Response(200, "success") // ≙ serverless/main.py:10-11
    } catch {
      case scala.util.control.NonFatal(exc) =>
        ErrorReporting.filtered(
          ErrorReporting.eventOf(exc, "graft-engine@0.1.0",
            Map("mode" -> "serverless")),
          ev => Some(ev)).foreach(reporter.report)
        Response(500, String.valueOf(exc.getMessage)) // ≙ :12-13
    }
}
