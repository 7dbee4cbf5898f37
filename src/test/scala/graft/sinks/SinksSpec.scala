package graft.sinks

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions.{col, explode, lit, raise_error, sequence, when}

import graft.SparkSuite

object SinksSpec {
  // local-mode executors share the JVM, so a synchronized buffer captures
  // the per-partition statements the transport would POST
  val captured: mutable.Buffer[String] = mutable.Buffer.empty[String]
  def capture(sql: String): Unit = captured.synchronized { captured += sql }
}

class SinksSpec extends SparkSuite {
  import spark.implicits._

  test("ClickHouseBatchSink: JSONEachRow batches per partition, null dates omitted (P11)") {
    SinksSpec.captured.clear()
    val df = Seq(
      ("K-1", Some("2024-01-09"), 1),
      ("K-2", None, 2),
      ("K-3", None, 3)).toDF("issue_key", "deadline", "n").coalesce(1)
    new ClickHouseBatchSink(SinksSpec.capture, database = "agile", batchSize = 2)
      .write(df, "issues")
    val stmts = SinksSpec.captured.toList
    assert(stmts.size == 2) // 3 rows, batchSize 2, one partition
    assert(stmts.forall(_.startsWith("INSERT INTO agile.issues FORMAT JSONEachRow ")))
    val payload = stmts.mkString(" ")
    assert(payload.contains(""""deadline":"2024-01-09""""))
    // fix_null_dates semantics: null fields are absent, CH DEFAULT applies
    assert(!payload.contains(""""deadline":null"""))
    assert(payload.contains(""""issue_key":"K-2""""))
  }

  test("ClickHouseClient executes raw SQL with retry and issues OPTIMIZE FINAL") {
    val seen = mutable.Buffer.empty[String]
    var failures = 1
    val client = new ClickHouseClient({ sql =>
      if (failures > 0) { failures -= 1; throw new RuntimeException("transient") }
      seen += sql; "ok"
    }, baseDelayMs = 1)
    assert(client.deduplicate("agile", "issues") == "ok")
    assert(seen == Seq("OPTIMIZE TABLE agile.issues FINAL"))
  }

  test("Retry.withBackoff does not retry fatal errors or swallow interrupts") {
    var calls = 0
    intercept[OutOfMemoryError] {
      Retry.withBackoff(tries = 3, baseDelayMs = 1) { calls += 1; throw new OutOfMemoryError("boom") }
    }
    assert(calls == 1) // fatal: no retry, no backoff sleep
    var calls2 = 0
    intercept[InterruptedException] {
      Retry.withBackoff(tries = 3, baseDelayMs = 1) { calls2 += 1; throw new InterruptedException("killed") }
    }
    assert(calls2 == 1)
    assert(Thread.interrupted()) // interrupt flag restored (and cleared here)
  }

  test("Retry.withBackoff retries then succeeds / exhausts") {
    var calls = 0
    val r = Retry.withBackoff(tries = 3, baseDelayMs = 1) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(r == "ok" && calls == 3)
    var calls2 = 0
    intercept[RuntimeException] {
      Retry.withBackoff(tries = 2, baseDelayMs = 1) { calls2 += 1; throw new RuntimeException("always") }
    }
    assert(calls2 == 2)
  }

  test("BucketedTableSink: joins between co-bucketed tables plan ZERO exchanges") {
    import spark.implicits._
    val issues = (0 until 200).map(i => (s"K-$i", s"queue${i % 5}", i.toLong))
      .toDF("issue_key", "queue", "version")
    val metrics = (0 until 200).flatMap(i =>
      Seq("open", "closed").map(st => (s"K-$i", st, i * 10L)))
      .toDF("issue_key", "status", "duration")
    val sink = new BucketedTableSink(buckets = 8, keys = Seq("issue_key"))
    sink.write(issues, "sink_spec_issues")
    sink.write(metrics, "sink_spec_metrics")
    // tables this small take the broadcast path (which ignores
    // bucketing); disable it so the plan is the sort-merge join a
    // 100 TB issues⋈metrics would use — THAT is the exchange-free claim
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = spark.table("sink_spec_issues")
      val b = spark.table("sink_spec_metrics")
      val joined = a.join(b, Seq("issue_key"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 400)
      // the dedup readback (A4 latest-version) also rides the bucketing:
      // its aggregate needs no exchange either
      val dedup = graft.operators.Dedup.latestByKey(a, Seq("issue_key"), Seq("version"))
      assert(!dedup.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
      assert(dedup.count() == 200)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS sink_spec_issues")
      spark.sql("DROP TABLE IF EXISTS sink_spec_metrics")
    }
  }

  // ---- the parquet encoding of ParquetSink and BucketedTableSink ----

  private val TsKey = "spark.sql.parquet.outputTimestampType"

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // micros precision, a pre-epoch instant and nulls: what INT96 carried
  private lazy val stamped: DataFrame = Seq(
    ("K-1", Some(ts("2024-01-09 18:00:00.123456")), Some(ts("1969-12-31 23:59:59.999999")), 1),
    ("K-2", None, Some(ts("2024-02-29 00:00:00")), 2),
    ("K-3", Some(ts("2024-03-01 12:30:00.5")), None, 3),
    ("K-4", None, None, 4)).toDF("issue_key", "updated_at", "closed_at", "n").repartition(2)

  // every row of `stamped` 50 times: few distinct values per column, so
  // parquet-mr would dictionary-encode each of them unless told otherwise
  private lazy val repeated: DataFrame = stamped
    .withColumn("copy", explode(sequence(lit(1), lit(50)))).drop("copy").repartition(2)

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Assert every data file is zstd throughout, stores each timestamp
    * column as INT64 TIMESTAMP(MICROS) without a dictionary, and keeps the
    * dictionary of `issue_key`; returns the timestamp column names.
    */
  private def assertEncoding(files: Seq[String]): Set[String] = {
    assert(files.nonEmpty)
    val dictionary = Set(Encoding.PLAIN_DICTIONARY, Encoding.RLE_DICTIONARY)
    files.flatMap { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f), spark.sparkContext.hadoopConfiguration))
      try {
        val footer = reader.getFooter
        val chunks = footer.getBlocks.asScala.flatMap(_.getColumns.asScala)
        assert(chunks.nonEmpty, f)
        assert(chunks.forall(_.getCodec == CompressionCodecName.ZSTD), f)
        val prims = footer.getFileMetaData.getSchema.getColumns.asScala.map(_.getPrimitiveType)
        assert(!prims.exists(_.getPrimitiveTypeName == PrimitiveTypeName.INT96), f)
        val stamps = prims.collect { p => p.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation =>
            assert(p.getPrimitiveTypeName == PrimitiveTypeName.INT64, f)
            assert(t.getUnit == TimeUnit.MICROS, f)
            p.getName
        } }
        for (c <- chunks) {
          val name = c.getPath.toDotString
          val encodings = c.getEncodings.asScala.toSet
          if (stamps.contains(name)) {
            assert(!c.hasDictionaryPage, s"$f: $name")
            assert(encodings.intersect(dictionary).isEmpty, s"$f: $name $encodings")
          }
          if (name == "issue_key") assert(c.hasDictionaryPage, s"$f: $name $encodings")
        }
        stamps
      } finally reader.close()
    }.toSet
  }

  private def withTsConf[T](callers: Option[String])(body: => T): T = {
    callers.fold(spark.conf.unset(TsKey))(spark.conf.set(TsKey, _))
    try body finally spark.conf.unset(TsKey)
  }

  private def tsConf: Option[String] = spark.conf.getAll.get(TsKey)

  test("ParquetSink writes zstd pages and INT64 TIMESTAMP_MICROS in every data file") {
    val dir = tempDir("graft-enc")
    new ParquetSink(dir).write(repeated, "t")
    val files = spark.read.parquet(s"$dir/t").inputFiles.toSeq
    assert(assertEncoding(files) == Set("updated_at", "closed_at"))
  }

  test("BucketedTableSink writes the same encoding") {
    try {
      new BucketedTableSink(buckets = 2, keys = Seq("issue_key")).write(repeated, "sink_spec_stamped")
      val files = spark.table("sink_spec_stamped").inputFiles.toSeq
      assert(assertEncoding(files) == Set("updated_at", "closed_at"))
    } finally spark.sql("DROP TABLE IF EXISTS sink_spec_stamped")
  }

  // 20k seeded rows of words and timestamps, in the local relation's
  // fixed split: enough page bytes for the zstd level to show in the size
  private lazy val compressible: DataFrame = {
    val rnd = new scala.util.Random(12)
    val words = Vector.fill(500)(rnd.alphanumeric.take(3 + rnd.nextInt(8)).mkString.toLowerCase)
    val start = ts("2024-01-01 00:00:00").getTime
    (0 until 20000).map { i =>
      (s"K-${i % 4000}",
        Seq.fill(4 + rnd.nextInt(12))(words(rnd.nextInt(words.size))).mkString(" "),
        new Timestamp(start + rnd.nextInt(90 * 86400) * 1000L + rnd.nextInt(1000)))
    }.toDF("issue_key", "text", "updated_at")
  }

  /** `df.write` with everything [[ParquetEncoding]] sets but the zstd
    * level, which stays Spark's default.
    */
  private def defaultLevel(df: DataFrame)(save: DataFrameWriter[Row] => Unit): Unit =
    withTsConf(Some("TIMESTAMP_MICROS")) {
      save(df.write.option("compression", "zstd").options(ParquetEncoding.plainTimestamps(df.schema)))
    }

  private def bytes(files: Seq[String]): Long = {
    assert(files.nonEmpty)
    files.map { f =>
      val p = new Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }.sum
  }

  // parquet records the codec but not its level, so the size is the check
  test("both sinks write smaller files than zstd at Spark's default level") {
    val dir = tempDir("graft-level")
    new ParquetSink(dir).write(compressible, "t")
    defaultLevel(compressible)(_.parquet(s"$dir/default"))
    val (sink, default) =
      (spark.read.parquet(s"$dir/t").inputFiles, spark.read.parquet(s"$dir/default").inputFiles)
    assert(sink.length == default.length)
    assert(bytes(sink) < bytes(default), s"ParquetSink ${bytes(sink)} B vs default level ${bytes(default)} B")
    try {
      new BucketedTableSink(buckets = 2, keys = Seq("issue_key")).write(compressible, "sink_spec_level")
      defaultLevel(compressible)(_.bucketBy(2, "issue_key").sortBy("issue_key")
        .format("parquet").saveAsTable("sink_spec_level_default"))
      val (bucketed, bucketedDefault) =
        (spark.table("sink_spec_level").inputFiles, spark.table("sink_spec_level_default").inputFiles)
      assert(bucketed.length == bucketedDefault.length)
      assert(bytes(bucketed) < bytes(bucketedDefault),
        s"BucketedTableSink ${bytes(bucketed)} B vs default level ${bytes(bucketedDefault)} B")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sink_spec_level")
      spark.sql("DROP TABLE IF EXISTS sink_spec_level_default")
    }
  }

  test("ParquetSink round-trips rows exactly, null timestamps included") {
    val dir = tempDir("graft-rt")
    new ParquetSink(dir).write(stamped, "t")
    val back = spark.read.parquet(s"$dir/t")
    // parquet reads every column back nullable; names and types must match
    assert(back.schema.map(f => f.name -> f.dataType) == stamped.schema.map(f => f.name -> f.dataType))
    assert(back.collect().toSet == stamped.collect().toSet)
    assert(back.where(col("updated_at").isNull).count() == 2)
  }

  test("the caller's outputTimestampType is left as found: unset, INT96, and a failing write") {
    withTsConf(None) {
      new ParquetSink(tempDir("graft-conf")).write(stamped, "t")
      assert(tsConf.isEmpty)
    }
    withTsConf(Some("INT96")) {
      new ParquetSink(tempDir("graft-conf")).write(stamped, "t")
      assert(tsConf.contains("INT96"))
    }
    val boom = stamped.withColumn("n",
      when(col("n") === 3, raise_error(lit("sink spec boom"))).otherwise(col("n")))
    for (callers <- Seq(None, Some("TIMESTAMP_MILLIS"))) withTsConf(callers) {
      val e = intercept[Exception](new ParquetSink(tempDir("graft-conf")).write(boom, "t"))
      assert(String.valueOf(e.getMessage).contains("sink spec boom") ||
        String.valueOf(e.getCause).contains("sink spec boom"), e)
      assert(tsConf == callers)
    }
  }
}
