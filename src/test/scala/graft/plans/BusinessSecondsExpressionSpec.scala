package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.BusinessTime

/** The native expression must agree with the plain-Scala
  * [[BusinessTime.businessSeconds]] on every input under any calendar,
  * run inside whole-stage codegen, and be SQL-callable.
  */
class BusinessSecondsExpressionSpec extends SparkSuite {

  private lazy val registered = { GraftExtensions.register(spark); true }

  private def pairs = {
    // 200 seeded (start, end) pairs spanning weekends/holidays/clipping
    val rnd = new scala.util.Random(5)
    val anchor = java.time.Instant.parse("2024-01-01T00:00:00Z")
    (0 until 200).map { _ =>
      (java.sql.Timestamp.from(anchor.plusSeconds(rnd.nextLong(120L * 86400))),
        java.sql.Timestamp.from(anchor.plusSeconds(rnd.nextLong(120L * 86400))))
    }
  }

  test("kernel == plain Scala, default and custom calendar") {
    assert(registered)
    import spark.implicits._
    // other hours, Saturdays on, and a decreed holiday inside the range
    val custom = BusinessTime.Calendar(startHour = 7, endHour = 19,
      workDays = java.time.DayOfWeek.values.toSet - java.time.DayOfWeek.SUNDAY,
      extraHolidays = Set(java.time.LocalDate.of(2024, 2, 6), java.time.LocalDate.of(2024, 3, 12)))
    // RDD-backed, so the projection is not folded at optimize time, and no
    // interpreted fallback: the calendar must compile as a reference object
    val df = spark.sparkContext.parallelize(pairs).toDF("s", "e")
    val saved = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val out = try df.select(
      GraftExtensions.businessSecondsExpr(col("s"), col("e")).as("default"),
      GraftExtensions.businessSecondsExpr(col("s"), col("e"), custom).as("custom"),
      col("s"), col("e")).collect()
    finally spark.conf.set("spark.sql.codegen.fallback", saved)
    for (r <- out) {
      val (s, e) = (r.getTimestamp(2).toLocalDateTime, r.getTimestamp(3).toLocalDateTime)
      assert(r.getLong(0) == BusinessTime.businessSeconds(s, e))
      assert(r.getLong(1) == BusinessTime.businessSeconds(s, e, custom))
    }
    assert(out.count(r => r.getLong(0) != r.getLong(1)) > out.length / 2,
      "the custom calendar must change most results")
  }

  test("SQL-callable and null-safe") {
    assert(registered)
    val r = spark.sql(
      """SELECT business_seconds(TIMESTAMP '2023-10-16 10:00:00', TIMESTAMP '2023-10-16 23:00:00') AS b,
        |       business_seconds(CAST(NULL AS TIMESTAMP), TIMESTAMP '2023-10-16 23:00:00') AS n""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) == 12L * 3600)
    assert(r.isNullAt(1))
  }

  test("stays inside whole-stage codegen (no ScalaUDF break) over a parquet scan") {
    assert(registered)
    // a file scan prevents local-relation constant folding, so the plan
    // shows the real codegen stage the expression runs in
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(GraftExtensions.businessSecondsExpr(
        col("ts"), col("ts") + expr("INTERVAL 1 DAY")).as("b"))
    val plan = ev.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"))
    // "*(1)" prefixes mark operators inside WholeStageCodegen stage 1
    assert(plan.linesIterator.next().startsWith("*(1) Project [business_seconds"))
    val direct = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("ts"), (col("ts") + expr("INTERVAL 1 DAY")).as("te")).collect()
      .map(r => BusinessTime.businessSeconds(
        r.getTimestamp(0).toLocalDateTime, r.getTimestamp(1).toLocalDateTime))
    assert(ev.collect().map(_.getLong(0)).toSeq == direct.toSeq)
  }
}
