package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.plans.{GraftExtensions, ThresholdLevenshteinRule}

/** [[Session]] is the one way the engine builds a session, and it builds
  * the configuration Bench and Verify have always run.
  */
class SessionSpec extends SparkSuite {

  test("the factory's conf equals the Bench and Verify conf, key by key") {
    assert(Session.conf(8).toMap == Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true"))
    assert(Session.conf(8).map(_._1).distinct.size == Session.conf(8).size)
    // the suites' session is that conf at four threads
    for ((k, v) <- Session.conf(4)) assert(spark.conf.get(k) == v, k)
    assert(spark.sparkContext.master == "local[4]")
  }

  test("SPARK_GRAFT_CPUS defaults to 4 and a bad value fails loudly") {
    assert(Session.cpus(Map.empty) == 4)
    assert(Session.cpus(Map("SPARK_GRAFT_CPUS" -> " 16 ")) == 16)
    for (bad <- Seq("0", "-2", "four", "")) {
      val e = intercept[IllegalArgumentException](Session.cpus(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }

  test("SQL functions resolve and the Levenshtein rule is installed once") {
    val r = spark.sql(
      """SELECT snake_case('PascalCase') AS s,
        |       business_seconds(TIMESTAMP '2023-10-16 10:00:00', TIMESTAMP '2023-10-16 23:00:00') AS b""".stripMargin)
      .collect()(0)
    assert(r.getString(0) == "pascal_case" && r.getLong(1) == 12L * 3600)
    def installed: Int =
      spark.sessionState.optimizer.batches.flatMap(_.rules).count(_ == ThresholdLevenshteinRule)
    assert(installed == 1)
    GraftExtensions.register(spark)
    GraftExtensions.register(spark)
    assert(installed == 1)
  }

  test("no file under src/main/scala but the factory builds a session") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val builders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains("SparkSession.builder"))
      .map(root.relativize(_).toString).toSeq.sorted
    assert(builders == Seq("graft/Session.scala"))
  }
}
