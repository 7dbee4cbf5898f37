package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one way the engine builds a `SparkSession`: Bench, Verify, Profile,
  * PipelineMain, the examples and the test suites all run this engine
  * configuration, so a profile measures what the bench runs.
  */
object Session {

  /** Worker threads: `SPARK_GRAFT_CPUS` in `env`, default 4. */
  def cpus(env: Map[String, String] = sys.env): Int = {
    val raw = env.getOrElse("SPARK_GRAFT_CPUS", "4").trim
    val n = raw.toIntOption.getOrElse(
      throw new IllegalArgumentException(s"SPARK_GRAFT_CPUS must be an integer, got '$raw'"))
    require(n >= 1, s"SPARK_GRAFT_CPUS must be >= 1, got $n")
    n
  }

  /** The engine configuration at `cpus` worker threads. */
  def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // events.parquet stores TIMESTAMP(NANOS), which Spark 4 refuses by
    // default; read as long nanos and truncate to micros in the reader
    // (graft.sources.Tables.events) — the same truncation DuckDB applies.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Let AQE coalesce the output partitioning of CACHED plans (off by
    // default): an operator's persist()-cut intermediate otherwise keeps
    // the full shuffle.partitions fan-out however small its data, and
    // each downstream pass pays per-task overhead on mostly-empty
    // partitions (measured: the perceptron's cached feature table at 32
    // fixed partitions cost 0.45 s per epoch, 0.15 s coalesced). Results
    // stay partitioning-independent; the oracle sweep re-proves it.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** A local session of [[conf]] at `threads` worker threads, with the
    * engine's SQL functions and optimizer rule ([[GraftExtensions]])
    * installed.
    */
  def local(threads: Int = cpus()): SparkSession = {
    val builder = SparkSession.builder()
    conf(threads).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    GraftExtensions.register(spark)
    spark
  }
}
