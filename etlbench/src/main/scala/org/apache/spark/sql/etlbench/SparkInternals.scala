package org.apache.spark.sql.etlbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The two package-private Spark readings the traced run needs. Listener
  * events are delivered asynchronously, so counts are read only after the
  * bus has drained.
  */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Total Janino compile time of generated code in this JVM, in ns. */
  def codegenCompileNanos: Long = CodeGenerator.compileTime
}
