package graft
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q1,q2 restricts the dump for isolated oracle
    // iteration (mirrors Bench; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }.foreach { case (name, fn) =>
      try {
        // Timestamps → TIMESTAMP_NTZ in the dump: the session runs UTC, so
        // the cast is identity on values, but the parquet type then matches
        // DuckDB's timezone-naive TIMESTAMP — otherwise the oracle compare
        // sees tz-aware vs naive dtypes for identical instants.
        val df = fn(spark, sfDir)
        val ntz = df.schema.fields.foldLeft(df) { (acc, f) =>
          if (f.dataType.typeName == "timestamp")
            acc.withColumn(f.name, acc.col(f.name).cast("timestamp_ntz"))
          else acc
        }
        ntz.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // Operator-internal persist cuts pin MEMORY_AND_DISK blocks in
        // the session's cache manager; across 100+ queries in one JVM
        // they would accumulate for the process lifetime (mirrors
        // Bench's per-query clear).
        spark.catalog.clearCache()
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleSqlJson(SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) }))
    spark.stop()
  }

  /** `oracle_sql.json`, the query name → DuckDB SQL object the driver
    * reads with `json.load`. */
  private[graft] def oracleSqlJson(sql: Map[String, String]): String =
    new ObjectMapper().writeValueAsString(sql.asJava)
}
