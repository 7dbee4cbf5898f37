package graft.examples

import org.apache.spark.sql.functions._

import graft.pipeline.IssuePipeline
import graft.queries.PipelineFixture
import graft.schema.EngineConfig
import graft.sinks.ConsoleSink
import graft.transform.IssueTransform

/** Library-embedding example ≙ the reference's extended-model entry point
  * (examples/extended_model/main.py:9-31): add user columns to the issue
  * projection without touching engine code — extra `Column` expressions
  * over the raw document replace Python subclassing.
  *
  * Run: `sbt "runMain graft.examples.ExtendedModelExample"`
  */
object ExtendedModelExample {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("WARN")

    val raw = PipelineFixture.raw(spark)

    // user-defined columns, like the reference example's custom fields
    val extended = IssueTransform.issues(raw,
      extraColumns = Seq(
        "summary_length" -> length(col("summary")),
        "has_deadline" -> col("deadline").isNotNull,
        "sprint_count" -> coalesce(size(col("sprint")), lit(0))))

    extended.select("issue_key", "status", "summary_length", "has_deadline", "sprint_count")
      .show(truncate = false)

    // the same raw frame still drives the full pipeline
    val stats = IssuePipeline.run(raw, EngineConfig(), new ConsoleSink(5))
    println(s"[example] processed=${stats.issuesProcessed} metrics=${stats.metricsRows}")
    spark.stop()
  }
}
