package etlbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.etlbench.SparkInternals
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans plus the Spark work attributed to them.
  *
  * A span is opened by the benchmark around a call into one layer. Its id
  * travels to Spark as a local property, so every job submitted while the
  * span is the innermost open one is attributed to it, whichever listener
  * thread delivers the job's events later. Catalyst phase times come from
  * a `QueryExecutionListener` and are summed per drain, which the
  * workloads do once per op. Nothing here touches the program's code.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val lock = new Object
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil

  def span[T](name: String)(f: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Prop, s.id.toString)
    try f
    finally {
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  private val counts = mutable.HashMap.empty[Int, Counts]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private var phases = Phases(0, 0, 0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(stageSpan(_) = id)
      val c = counts.getOrElseUpdate(id, new Counts)
      c.jobs += 1
      c.jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      counts.values.find(_.jobStart.contains(e.jobId)).foreach { c =>
        c.jobIntervals += ((c.jobStart(e.jobId), e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      counts.getOrElseUpdate(stageSpan.getOrElse(e.stageInfo.stageId, -1), new Counts).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val c = counts.getOrElseUpdate(stageSpan.getOrElse(e.stageId, -1), new Counts)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = lock.synchronized {
      val p = qe.tracker.phases
      def ms(n: String) = p.get(n).map(_.durationMs).getOrElse(0L)
      phases = Phases(phases.analysisMs + ms("analysis"), phases.optimizationMs + ms("optimization"),
        phases.planningMs + ms("planning"))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  def drain(): Unit = SparkInternals.drainListenerBus(sc)

  /** Per-op readings taken between ops, outside every span. */
  val opMarks: mutable.ArrayBuffer[OpMark] = mutable.ArrayBuffer.empty
  private var codegenMark = SparkInternals.codegenCompileNanos

  /** Closes an op: Catalyst phase times summed since the previous op, the
    * codegen compile time since then, and the blocks still cached.
    */
  def markOp(): Unit = {
    drain()
    val p = lock.synchronized { val p = phases; phases = Phases(0, 0, 0); p }
    val now = SparkInternals.codegenCompileNanos
    opMarks += OpMark(p, now - codegenMark, sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum)
    codegenMark = now
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Counts of a span and everything opened beneath it. */
  def total(id: Int): Counts = {
    drain()
    val out = new Counts
    def visit(s: Int): Unit = {
      lock.synchronized(counts.get(s)).foreach(out.add)
      children(s).foreach(c => visit(c.id))
    }
    visit(id)
    out
  }

  /** Share of a span's wall time covered neither by a child span nor by a
    * Spark job attributed to the span or below it.
    */
  def unaccountedFrac(s: Span): Double = {
    val jobs = total(s.id).jobIntervals
    val ivs = (children(s.id).map(c => (c.startMs, c.endMs)) ++ jobs)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var reach = s.startMs
    ivs.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    val wall = math.max(1L, s.endMs - s.startMs)
    1.0 - covered.toDouble / wall
  }

  /** Span duration minus the time its children cover (they never overlap:
    * the benchmark opens spans from one thread).
    */
  def selfMs(s: Span): Long = s.durationMs - children(s.id).map(_.durationMs).sum

  def toJson(origin: Long): String = spans.map { s =>
    val c = lock.synchronized(counts.get(s.id)).getOrElse(new Counts)
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.startMs - origin},""" +
      f""""end_ms":${s.endMs - origin},"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
      f""""executor_run_ms":${c.runMs},"executor_cpu_ms":${c.cpuNs / 1000000},""" +
      f""""shuffle_write_bytes":${c.shuffleWriteBytes},"input_bytes":${c.inputBytes},""" +
      f""""output_bytes":${c.outputBytes}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  private val Prop = "etlbench.span"

  final case class Span(id: Int, name: String, parent: Int, startMs: Long) {
    var endMs: Long = startMs
    def durationMs: Long = endMs - startMs
    def seconds: Double = durationMs / 1e3
  }

  final case class Phases(analysisMs: Long, optimizationMs: Long, planningMs: Long)

  final case class OpMark(phases: Phases, codegenNs: Long, blocksHeld: Long)

  final class Counts {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, shuffleWriteBytes, spillBytes, inputBytes, inputRecords, outputBytes = 0L
    val jobStart: mutable.HashMap[Int, Long] = mutable.HashMap.empty
    val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
    def add(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      runMs += o.runMs; cpuNs += o.cpuNs; shuffleWriteBytes += o.shuffleWriteBytes
      spillBytes += o.spillBytes; inputBytes += o.inputBytes; inputRecords += o.inputRecords
      outputBytes += o.outputBytes
      jobIntervals ++= o.jobIntervals
    }
  }
}
