package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query profile of the registry queries named in `SPARK_GRAFT_ONLY`,
  * on the [[Session]] engine configuration Bench runs. Each query runs
  * once warm and once timed; from the timed run:
  *
  *   - `<outDir>/<query>.txt` holds `explain("formatted")` of the plan
  *     that ran (AQE's final plan, with its runtime broadcasts and
  *     coalesced partitions);
  *   - the condensed form of that plan goes to stdout, one operator per
  *     line: scans and pushed filters, joins, exchanges, aggregates,
  *     codegen stages and cache reads;
  *   - one JSON line with the wall seconds, Spark jobs and completed
  *     stages.
  *
  * The timed action writes the query to Spark's `noop` sink, which
  * computes every output column; a `count()` would let Catalyst prune
  * the projections a row count does not need.
  *
  * With `copies` > 1 each query also runs on a corpus `copies` times the
  * size, and the line adds its seconds and the ratio: near `copies` says
  * the plan scales linearly, well above says some stage is quadratic or
  * collapses onto few tasks. The larger corpus, under `<outDir>/x<copies>`,
  * holds `copies` token-renamed copies of `documents` (document count and
  * vocabulary scale, per-document structure is kept, no cross-copy
  * near-duplicates appear) and `copies` id-shifted copies of `events`
  * (more users and events, not hotter keys); every other table is linked
  * unchanged.
  *
  * Usage:
  * {{{
  *   SPARK_GRAFT_ONLY=ann_graph,graph_hits sbt "runMain graft.Profile <sfDir> <outDir> [copies]"
  * }}}
  * Exits non-zero if a query is unknown or fails.
  */
object Profile {

  /** Substrings that select the condensed plan lines. */
  private val PlanMarkers = Seq("Scan parquet", "Scan ExistingRDD", "PushedFilters", "ReadSchema",
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin",
    "TakeOrderedAndProject", "WholeStageCodegen", "Exchange", "HashAggregate(",
    "InMemoryTableScan", "InMemoryRelation")

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3, "usage: Profile <sfDir> <outDir> [copies]")
    val sfDir = args(0)
    val outDir = Files.createDirectories(Paths.get(args(1)))
    val copies = if (args.length == 3) args(2).toInt else 1
    require(copies >= 1, s"copies must be >= 1, got $copies")
    val names = sys.env.get("SPARK_GRAFT_ONLY").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    require(names.nonEmpty, "set SPARK_GRAFT_ONLY to the queries to profile")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    })

    /** Warm run, then the timed run: (seconds, jobs, stages) of the latter
      * and the completed execution of its `noop` write, the last query it
      * runs.
      */
    def measure(fn: (SparkSession, String) => DataFrame, dir: String): (Double, Int, Int, QueryExecution) = {
      def once(): Double = {
        val t0 = System.nanoTime()
        try fn(spark, dir).write.format("noop").mode("overwrite").save()
        finally spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      GraftBridge.drainListenerBus(spark)
      jobs.set(0); stages.set(0)
      val last = new AtomicReference[QueryExecution]()
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = last.set(qe)
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val sec = once()
        GraftBridge.drainListenerBus(spark)
        (sec, jobs.get, stages.get, last.get)
      } finally spark.listenerManager.unregister(listener)
    }

    lazy val scaledDir = scaledCorpus(spark, sfDir, outDir.resolve(s"x$copies"), copies)
    var failed = 0
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      try {
        val (sec, nJobs, nStages, qe) = measure(fn, sfDir)
        Files.writeString(outDir.resolve(s"$name.txt"), qe.explainString(FormattedMode))
        println(s"===== $name")
        // AQE prints the initial plan after the final one; only the final ran
        qe.executedPlan.toString.linesIterator.takeWhile(!_.contains("== Initial Plan =="))
          .filter(l => PlanMarkers.exists(l.contains)).map(_.take(220)).foreach(println)
        val scaled =
          if (copies == 1) ""
          else {
            val (secN, _, _, _) = measure(fn, scaledDir)
            f""","sec_x$copies":$secN%.3f,"ratio":${secN / sec}%.2f"""
          }
        println(f"""{"q":"$name","sec":$sec%.3f,"jobs":$nJobs,"stages":$nStages$scaled}""")
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[profile] FAILED $name: $e"); failed += 1
      } finally {
        try spark.catalog.clearCache() catch { case NonFatal(_) => () }
      }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** `copies` copies of the sf tables under `dir` (see the object doc);
    * returns `dir`.
    */
  private def scaledCorpus(spark: SparkSession, sfDir: String, dir: Path, copies: Int): String = {
    def write(table: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$sfDir/$table.parquet")
      (0 until copies).map(k => copy(base, k)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(dir.resolve(s"$table.parquet").toString)
    }
    write("documents") { (docs, k) =>
      if (k == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + k * 1000000L)
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), "\\s+"), t => concat(t, lit(s"_$k")))))
    }
    write("events") { (ev, k) =>
      ev.withColumn("event_id", col("event_id") + k * 100000000L)
        .withColumn("user_id", col("user_id") + k * 1000000L)
    }
    Files.list(Paths.get(sfDir)).forEach { src =>
      val dst = dir.resolve(src.getFileName.toString)
      if (!Files.exists(dst)) Files.createSymbolicLink(dst, src.toAbsolutePath)
    }
    dir.toString
  }
}
