package graft.plans

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, TimestampType}

import graft.functions.BusinessTime

/** Native Catalyst expression for business-seconds between two timestamps
  * (the engine's one piece of custom scalar logic, SURVEY.md §4 F5) under
  * `calendar`: the pipeline's `busdays_duration` passes the configured
  * calendar, and the `business_seconds` SQL function uses the default one.
  *
  * An `Expression`, not a UDF: a ScalaUDF node boxes both timestamps into
  * `java.time.Instant`, breaks the whole-stage-codegen span it sits in,
  * and blocks null-intolerant optimizations. This expression stays inside
  * codegen — `doGenCode` emits a call on the primitive micros longs, with
  * the calendar as a reference object. Inputs must already be
  * TimestampType (checkInputDataTypes rejects others; no implicit casts).
  *
  * Null semantics: standard SQL (null in → null out).
  */
final case class BusinessSeconds(left: Expression, right: Expression,
                                  calendar: BusinessTime.Calendar = BusinessTime.Calendar())
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == TimestampType && right.dataType == TimestampType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"business_seconds expects (timestamp, timestamp), got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override protected def nullSafeEval(startMicros: Any, endMicros: Any): Any =
    BusinessSeconds.evalMicros(startMicros.asInstanceOf[Long], endMicros.asInstanceOf[Long], calendar)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cal = ctx.addReferenceObj("calendar", calendar)
    defineCodeGen(ctx, ev, (s, e) =>
      s"graft.plans.BusinessSeconds.evalMicros($s, $e, $cal)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "business_seconds"

  // plans print the two operands, not the calendar's holiday sets
  override protected def flatArguments: Iterator[Any] = Iterator(left, right)
}

object BusinessSeconds {

  /** Static entry the generated code calls: micros-since-epoch → business
    * seconds under `calendar` (naive UTC wall time, matching the
    * reference's UTC-converted naive datetimes).
    */
  def evalMicros(startMicros: Long, endMicros: Long, calendar: BusinessTime.Calendar): Long = {
    val s = LocalDateTime.ofEpochSecond(Math.floorDiv(startMicros, 1000000L),
      (Math.floorMod(startMicros, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
    val e = LocalDateTime.ofEpochSecond(Math.floorDiv(endMicros, 1000000L),
      (Math.floorMod(endMicros, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
    BusinessTime.businessSeconds(s, e, calendar)
  }

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[BusinessSeconds].getName, "business_seconds")
}
