package graft.sinks

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** Output seam ≙ the reference's load stage (etl.py:193-200).
  *
  * `IssuePipeline.run` counts the rows of a table from the sink's first
  * action on the frame (an `Observation`), so that action must compute
  * every row of it, as a file or table write does. A sink that never runs
  * a frame is fine: the run then counts it separately.
  */
trait Sink extends Serializable {
  def write(df: DataFrame, table: String): Unit
}

/** The one parquet encoding of every parquet-writing sink: zstd level-9
  * pages, INT64 `TIMESTAMP_MICROS` timestamps, and timestamp columns
  * written PLAIN. The reference stores its `DateTime64(3, 'UTC')` columns
  * as 8-byte integers in compressed ClickHouse parts. Spark's defaults are
  * snappy pages and the deprecated 12-byte INT96 timestamp, which parquet
  * cannot dictionary- or delta-encode; those columns were 41 % of a
  * backfill export, and the two changes cut bytes per exported issue by a
  * third.
  *
  * parquet-mr then dictionary-encodes an INT64 timestamp column whenever
  * its dictionary fits a page. For `issues_changelog.event_time` (~17.5k
  * distinct instants per file) that is a dictionary of 8-byte values plus
  * an index per row, which compresses worse under zstd than the plain
  * 8-byte values: in a seed-1 `etlbench` backfill export the column was
  * 711,009 B of 2,816,033 B, and 406,107 B written PLAIN (the export
  * −10.8 %). So every top-level `TimestampType` / `TimestampNTZType`
  * column gets `parquet.enable.dictionary#<column>` = false; every other
  * column keeps the dictionary.
  *
  * Pages are zstd level 9, not Spark's default level 3. Each of the 7
  * data files of a seed-4 `etlbench` backfill export, rewritten on its own
  * with everything else fixed, totalled 2,462,618 B at level 3,
  * 2,413,201 B at 6 (−2.0 %), 2,382,781 B at 9 (−3.2 %), 2,370,649 B at
  * 12 (−3.7 %) and 2,232,660 B at 19 (−9.3 %). Levels 3 to 9 rewrote in
  * the same 2–3.5 s, 12 took 9.6 s and 19 took 12.7 s, so 9 is the knee.
  * zstd decompresses at the same speed whatever the level, so readers
  * pay nothing. The price is compression CPU (0.12 → 0.21 CPU-s for that
  * export's three tables, pyarrow on one thread), and `etlbench`'s peak
  * RSS read 1.4–3.0 % higher. All of this is constant, not an option.
  *
  * Tried on the same export and rejected: parquet v2 pages (−0.4 %; delta
  * encoding shrinks the `issues` and `issue_metrics` timestamps ~17 % but
  * grows `issues_changelog.event_time` from 394 to 451 KB);
  * `BYTE_STREAM_SPLIT` (this write path does not apply it to INT64, and
  * the float `story_points` grows); 8 MB pages (+0.3 %) and 8 MB
  * dictionary pages (±0); no page checksums with 1-byte column-index
  * truncation (−0.1 %); changelog rows ordered (issue_key, changed_field,
  * event_time) (+3.3 %) or by changed_field first (+15.7 %), and
  * `issue_metrics` sorted by its DDL key (±0) — the DDL order the dedup's
  * sort already produces is the smallest; `TIMESTAMP_MILLIS`, which would
  * drop the microseconds the round-trip keeps.
  *
  * Compression, its level and the dictionary are writer options. The
  * timestamp type is not: Spark reads it only from the session conf, so
  * the conf is set for the one write and the caller's value restored (or
  * unset) afterwards, also when the write throws.
  */
private[sinks] object ParquetEncoding {
  private val TimestampTypeKey = "spark.sql.parquet.outputTimestampType"
  private val ZstdLevel = "9"

  /** One `parquet.enable.dictionary#<column>` = false per top-level
    * timestamp column of `schema`.
    */
  private[sinks] def plainTimestamps(schema: StructType): Map[String, String] =
    schema.fields.collect {
      case f if f.dataType == TimestampType || f.dataType == TimestampNTZType =>
        s"parquet.enable.dictionary#${f.name}" -> "false"
    }.toMap

  def write(df: DataFrame)(save: DataFrameWriter[Row] => Unit): Unit = {
    val conf = df.sparkSession.conf
    // getAll holds only explicitly set keys; getOption would report the
    // built-in default and turn an unset key into a set one
    val callers = conf.getAll.get(TimestampTypeKey)
    conf.set(TimestampTypeKey, "TIMESTAMP_MICROS")
    try save(df.write.option("compression", "zstd")
      .option("parquet.compression.codec.zstd.level", ZstdLevel)
      .options(plainTimestamps(df.schema)))
    finally callers match {
      case Some(v) => conf.set(TimestampTypeKey, v)
      case None => conf.unset(TimestampTypeKey)
    }
  }
}

/** Parquet sink for tests/goldens and offline corpora; pages are zstd
  * level 9 and timestamps plain INT64 micros (see [[ParquetEncoding]]).
  */
final class ParquetSink(baseDir: String) extends Sink {
  def write(df: DataFrame, table: String): Unit =
    ParquetEncoding.write(df)(_.mode("overwrite").parquet(s"$baseDir/$table"))
}

/** Bucketed parquet sink — the co-location story of SCALING.md made
  * executable: the pipeline's three tables share `issue_key`-family
  * keys, and writing them bucketed on that key (hive-bucketed parquet
  * via `bucketBy` + `saveAsTable`) lets every downstream equi-join and
  * re-export dedup read both sides pre-partitioned — Catalyst plans the
  * join with ZERO Exchange operators (asserted in SinksSpec). At 100 TB
  * that deletes the dominant shuffle of every issues⋈metrics /
  * issues⋈changelog readback; the write itself costs one clustering
  * pass, amortized across every consumer.
  *
  * Both sides must agree on bucket COUNT and key (the Spark bucketing
  * contract); `spark.sql.sources.bucketing.enabled` (default true) and
  * AQE leave bucketed scans un-coalesced. Files are encoded like
  * [[ParquetSink]]'s: zstd level-9 pages, plain INT64 micros timestamps.
  */
final class BucketedTableSink(buckets: Int, keys: Seq[String]) extends Sink {
  def write(df: DataFrame, table: String): Unit =
    ParquetEncoding.write(df)(_.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table))
}

/** S9 console sink (dry run, etl.py:260-264). The header's row count
  * runs the whole frame first: `show` alone computes only the rows it
  * prints, and the pipeline counts a table from the sink's first action.
  */
final class ConsoleSink(rows: Int = 20) extends Sink {
  def write(df: DataFrame, table: String): Unit = {
    println(s"== $table (${df.count()} rows)")
    df.show(rows, truncate = false)
  }
}

/** Exponential backoff ≙ the reference's `backoff` decorator
  * (utils/helpers.py:149-186; defaults config.py:57-60: base 0.5 s,
  * factor 2.5, 3 tries, jitter).
  */
object Retry {
  def withBackoff[T](tries: Int = 3, baseDelayMs: Long = 500, factor: Double = 2.5,
                     jitter: Boolean = true, seed: Option[Long] = None)(op: => T): T = {
    // unseeded by default — a fixed seed would give every partition the
    // identical "jitter", defeating its thundering-herd purpose
    val rnd = seed.map(new scala.util.Random(_)).getOrElse(new scala.util.Random())
    var attempt = 0
    var delay = baseDelayMs.toDouble
    while (true) {
      // Only NonFatal errors are retried: sleeping through an OutOfMemoryError
      // (or swallowing an InterruptedException — an executor kill signal
      // inside foreachPartition) would mask conditions retrying cannot fix.
      try return op
      catch {
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw e
        case scala.util.control.NonFatal(e) =>
          attempt += 1
          if (attempt >= tries) throw e
          val sleep = delay + (if (jitter) rnd.nextDouble() * delay * 0.1 else 0.0)
          try Thread.sleep(sleep.toLong)
          catch {
            case ie: InterruptedException =>
              Thread.currentThread().interrupt()
              ie.addSuppressed(e)
              throw ie
          }
          delay *= factor
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** S6/S7: raw-SQL client ≙ ClickhouseClient (services/clickhouse.py:72-128)
  * — arbitrary statement execution behind the retry policy, plus the
  * explicit `OPTIMIZE TABLE ... FINAL` dedup compaction trigger. In this
  * engine dedup is a first-class operator (Dedup.latestByKey) applied
  * before the sink, so `deduplicate` exists for wire-compatibility with
  * deployments that still rely on storage-side collapse.
  */
final class ClickHouseClient(transport: String => String, tries: Int = 3,
                             baseDelayMs: Long = 500) {
  def execute(sql: String): String =
    Retry.withBackoff(tries = tries, baseDelayMs = baseDelayMs)(transport(sql))
  def deduplicate(database: String, table: String): String =
    execute(s"OPTIMIZE TABLE $database.$table FINAL")
}

/** ClickHouse batch-insert sink ≙ `insert_batch`
  * (services/clickhouse.py:110-123): rows serialized to JSONEachRow, one
  * `INSERT INTO db.table FORMAT JSONEachRow` statement per batch, retried
  * with exponential backoff (:72-107). The HTTP/JDBC transport is a
  * pluggable `String => Unit` so tests (and environments without a
  * ClickHouse) can capture statements; a real deployment passes an HTTP
  * POST or JDBC statement executor.
  *
  * Scale note: batching is per executor partition (`foreachPartition`),
  * not a driver-side collect — each of N partitions independently issues
  * `ceil(rows/batchSize)` inserts, so the sink throughput scales with the
  * cluster instead of the driver's memory (the reference materializes the
  * whole payload in RAM, etl.py:135-137).
  *
  * P11 null-date cleanup (`fix_null_dates`, utils/helpers.py:76-87) is
  * inherited for free: `df.toJSON` omits null fields entirely, so null
  * date columns are absent from the JSONEachRow payload and ClickHouse
  * applies its column DEFAULTs — exactly the reference's behavior.
  */
final class ClickHouseBatchSink(
    execute: String => Unit,
    database: String = "agile",
    batchSize: Int = 10000,
    tries: Int = 3) extends Sink {

  def write(df: DataFrame, table: String): Unit = {
    val exec = execute
    val db = database
    val bs = batchSize
    val t = tries
    df.toJSON.foreachPartition { (rows: Iterator[String]) =>
      rows.grouped(bs).foreach { batch =>
        val sql = s"INSERT INTO $db.$table FORMAT JSONEachRow ${batch.mkString(" ")}"
        Retry.withBackoff(tries = t)(exec(sql))
      }
    }
  }
}
