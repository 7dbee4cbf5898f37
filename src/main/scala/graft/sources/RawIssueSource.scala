package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.Schemas

/** Raw-issue source seam (SURVEY.md §2.1 S1): the pipeline consumes a
  * DataFrame in the [[Schemas.rawIssue]] shape from any provider — offline
  * parquet/JSON corpora here; a live REST fetch (driver-side paging +
  * 10k-cap warning, reference services/tracker.py:50-67) would implement
  * the same trait without touching transform code.
  */
trait RawIssueSource {
  def load(spark: SparkSession): DataFrame
}

object RawIssueSource {

  final case class Parquet(path: String) extends RawIssueSource {
    def load(spark: SparkSession): DataFrame = spark.read.parquet(path)
  }

  /** Live REST adapter skeleton — S1's online path (reference
    * services/tracker.py:50-67) behind the same seam. Transport is
    * INJECTED: `fetchPage(page, perPage)` returns one page of raw-issue
    * JSON documents, None or empty = exhausted. This container has zero
    * egress, so no HTTP client ships here; a production impl binds
    * fetchPage to the tracker's search endpoint with retry/backoff (the
    * engine's backoff discipline lives in [[graft.sinks.Retry.withBackoff]]).
    *
    * Scale notes: the page loop is driver-side BY NECESSITY (a paged
    * search API is a sequential cursor), and the accumulation is bounded
    * by the API itself — the reference's search hard limit is 10k issues
    * per query (services/tracker.py:58-65), which is why its ETL slices
    * work into watermark/range windows rather than big scans. `countHint`
    * mirrors the reference's count_only pre-flight; crossing the cap
    * emits the same warning. Parsing happens DISTRIBUTED: page strings
    * parallelize to executors and parse against the typed schema there.
    */
  final case class Rest(
      fetchPage: (Int, Int) => Option[Seq[String]],
      perPage: Int = 100,
      countHint: Option[Long] = None,
      searchHardLimit: Long = 10000L) extends RawIssueSource {
    def load(spark: SparkSession): DataFrame = {
      countHint.filter(_ > searchHardLimit).foreach { n =>
        System.err.println(s"[source] search matched $n issues, above the API hard limit " +
          s"$searchHardLimit — the API truncates; narrow the scan window")
      }
      import spark.implicits._
      val docs = Iterator.from(0)
        .map(p => fetchPage(p, perPage).getOrElse(Seq.empty))
        .takeWhile(_.nonEmpty)
        .flatten
        .toSeq
      spark.read.schema(Schemas.rawIssue).json(
        spark.createDataset(docs).repartition(spark.sparkContext.defaultParallelism))
    }
  }

  /** The raw-issue file at `path`, passed to `f`: newline-delimited JSON
    * (`.json` / `.ndjson`) through [[withJsonBadRecords]], whose
    * malformed rows are counted to stderr and skipped; anything else is
    * read as [[Parquet]]. Read afresh on every call, and the JSON parse
    * is released when `f` returns, so a file refreshed between daemon
    * ticks or serverless invocations is picked up.
    */
  def withFile[A](spark: SparkSession, path: String)(f: DataFrame => A): A =
    if (path.endsWith(".json") || path.endsWith(".ndjson"))
      withJsonBadRecords(spark, path) { (good, bad) =>
        val nBad = bad.count()
        if (nBad > 0) System.err.println(s"[source] $nBad malformed source rows skipped")
        f(good)
      }
    else f(Parquet(path).load(spark))

  /** P9 per-row error isolation (reference etl.py:180-183 skips a failed
    * issue and continues): malformed source rows land on a bad-record side
    * channel instead of failing the batch — PERMISSIVE parse with a
    * corrupt-record column, split into (good, bad) and passed to `f`.
    *
    * The parse is cached for the duration of `f` only: both branches read
    * it (and Spark requires a cached parse to split on the corrupt-record
    * column), and releasing it when `f` returns or throws means the next
    * read of the same path parses the file again. A cache left behind
    * would be matched by the next read's plan (file indexes compare
    * equal by root path), which would then get the earlier rows.
    */
  def withJsonBadRecords[A](spark: SparkSession, path: String)(f: (DataFrame, DataFrame) => A): A = {
    val schema = Schemas.rawIssue.add("_corrupt_record", "string")
    val parsed = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache()
    try {
      val good = parsed.where(col("_corrupt_record").isNull).drop("_corrupt_record")
      val bad = parsed.where(col("_corrupt_record").isNotNull).select(col("_corrupt_record").as("raw"))
      f(good, bad)
    } finally parsed.unpersist()
  }
}
