package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.util.QueryExecutionListener
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

  /** `df`'s rows behind an RDD scan. Over a local relation the optimizer
    * evaluates a cut's projection on the driver and caches the result as
    * a `LocalTableScan`, so the cached plan would hold no expression to
    * count.
    */
  def rddBacked(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

  /** Count physical reuse-read leaves in the executed plan TREE: cache
    * reads (`InMemoryTableScanExec`, a persist cut) plus checkpoint reads
    * (`RDDScanExec`, prints as "Scan ExistingRDD", a `cutPinned` or
    * `cutLoop` result). Tree counts, unlike plan-STRING counts, exclude
    * the cached child plans `InMemoryRelation` prints inline — a cut
    * whose own plan reads an earlier cut re-prints that read inside its
    * relation dump even though it never re-executes, so string
    * occurrence counts overshoot the compute count.
    */
  def reuseReads(df: DataFrame): Int =
    SparkSuite.planNodes(planTree(df)).count {
      case _: InMemoryTableScanExec | _: RDDScanExec => true
      case _ => false
    }

  /** The cache reads (`InMemoryTableScanExec`) in the executed plan TREE. */
  def cacheReads(df: DataFrame): Seq[InMemoryTableScanExec] =
    SparkSuite.planNodes(planTree(df)).collect { case s: InMemoryTableScanExec => s }

  /** Occurrences of `needle` in the node strings of `plan`'s tree. A cache
    * read is a leaf, so the cached plan it prints inline is not searched:
    * pass `read.relation.cachedPlan` to search that.
    */
  def occurrences(plan: SparkPlan, needle: String): Int =
    SparkSuite.planNodes(plan).map(p => needle.r.findAllIn(p.simpleString(Int.MaxValue)).size).sum

  /** The root of `df`'s executed plan tree before AQE re-plans it. */
  def planTree(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.inputPlan
    case p => p
  }

  /** Every `QueryExecution` `f` completes, in completion order, with the
    * action that ran it (`"localCheckpoint"`, `"command"`, …). Listener
    * events arrive asynchronously, so the bus is drained before they are
    * returned.
    */
  def executions(f: => Unit): Seq[(String, QueryExecution)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      GraftBridge.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }
}

object SparkSuite {
  // four threads whatever SPARK_GRAFT_CPUS says, so test partitioning
  // does not depend on the machine
  lazy val session: SparkSession = Session.local(4)

  /** Every node of an executed plan, descending into AQE's current plan
    * and its query stages.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other => other.children.flatMap(planNodes)
  })
}
