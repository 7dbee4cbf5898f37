package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites, built by [[Session]] like
  * the Bench and Verify sessions.
  *
  * Every test starts from an EMPTY cache: suites run sequentially in
  * one forked JVM against one shared session, so without the clear a
  * persisted intermediate from any earlier test leaks into later
  * plan-shape assertions — canonical-plan cache substitution then
  * inserts extra `InMemoryTableScan`s and reuse-read counts flip
  * depending on suite order (flaky by construction).
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkSuite.session

  override protected def beforeEach(): Unit = {
    super.beforeEach()
    SparkSuite.session.catalog.clearCache()
  }

  /** Evaluate a column expression over a single row. */
  def evalOne(c: Column): Any = {
    val r = spark.range(1).select(c.as("v")).collect()(0)
    if (r.isNullAt(0)) null else r.get(0)
  }

  /** Count physical reuse-read leaves in the executed plan TREE: cache
    * reads (`InMemoryTableScanExec`, the persist policy) plus checkpoint
    * reads (`RDDScanExec`, prints as "Scan ExistingRDD", the
    * localCheckpoint policy). Tree counts, unlike plan-STRING counts,
    * exclude the cached child plans `InMemoryRelation` prints inline — a
    * cut whose own plan reads an earlier cut re-prints that read inside
    * its relation dump even though it never re-executes, so string
    * occurrence counts overshoot the compute count.
    */
  def reuseReads(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val root: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    root.collect {
      case s: InMemoryTableScanExec => s: SparkPlan
      case s: RDDScanExec => s: SparkPlan
    }.size
  }
}

object SparkSuite {
  // four threads whatever SPARK_GRAFT_CPUS says, so test partitioning
  // does not depend on the machine
  lazy val session: SparkSession = Session.local(4)
}
