package etlbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its result object to `--result`.
  *
  * Phases: set-up (session, corpus, warm-up), the untraced timed phase that
  * gives every end-to-end metric, and with `--trace 1` a second, traced
  * phase of the same length plus the layer probes, which give the
  * per-layer metrics.
  */
object Main {

  /** Cores and shuffle width are pinned here, not taken from the caller. */
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, scale: Scale,
                        work: String, result: String, traceOut: String, expectFile: String,
                        startedMs: Long)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      m.getOrElse("scale", "full") match {
        case "full" => Scale.Full
        case "tiny" => Scale.Tiny
        case s => throw new IllegalArgumentException(s"unknown scale $s")
      },
      need("work"), need("result"), need("trace-out"), need("expect"), need("started-ms").toLong)
  }

  private def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("etlbench")
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) throw new IllegalStateException(s"non-finite metric $x") else x.toString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.work)
    println(f"setup: session ready ${(System.currentTimeMillis() - a.startedMs) / 1e3}%.2f s after launch")
    try run(spark, a) finally spark.stop()
  }

  private def run(spark: SparkSession, a: Args): Unit = {
    val recorded = {
      val f = new File(a.expectFile)
      if (f.exists()) Files.readAllLines(f.toPath, UTF_8).toArray(Array.empty[String]).toSeq.filter(_.nonEmpty)
      else Seq.empty
    }
    val etl = new Etl(spark, a.workload, a.seed, a.scale, a.seconds, a.work)
    etl.setup()
    val setupS = (System.currentTimeMillis() - a.startedMs) / 1e3
    println(s"corpus: ${etl.shape}")

    val plain = etl.timed("plain", None)
    println("op seconds: " + plain.ops.map(o => f"${o.seconds}%.3f").mkString(" "))
    val rssMb = Metrics.peakRssMb

    val (tracedOps, perLayer) =
      if (!a.trace) (Seq.empty, Seq.empty)
      else {
        val t = new Trace(spark)
        t.install()
        val traced = etl.timed("traced", Some(t))
        val all = plain.ops ++ traced.ops
        val prevWm = if (etl.incremental) all.dropRight(1).lastOption.flatMap(_.stats).flatMap(_.newWatermark) else None
        val probe = etl.probe(t, prevWm)
        val layers = Layers.metrics(t, traced, plain, probe, Cores)
        t.uninstall()
        Files.write(Paths.get(a.traceOut), t.toJson(t.spans.head.startMs).getBytes(UTF_8))
        (traced.ops, layers)
      }

    val ops = plain.ops ++ tracedOps
    etl.checkDigests(etl.warmOps ++ ops, recorded)
    val digests = if (etl.incremental) (etl.warmOps ++ ops).sortBy(_.index).map(etl.digest)
                  else ops.take(1).map(etl.digest)
    println("digests: " + digests.mkString("|"))
    ops.filterNot(_.ok).foreach(o => println(s"failed op ${o.index}: ${o.problem.get}"))

    val good = plain.ops.filter(_.ok)
    val endToEnd: Seq[(String, Double, String)] =
      if (good.isEmpty) Seq.empty
      else {
        val secs = good.map(_.seconds)
        val (q, tailS) = Metrics.tail(secs)
        println(s"op_tail_s: p$q of ${secs.size} ops")
        val issues = good.map(_.stats.get.issuesProcessed)
        Seq(
          ("setup_s", setupS, "s"),
          ("run_s", plain.wallS, "s"),
          ("issues_per_s", issues.sum / secs.sum, "1/s"),
          ("op_p50_s", Metrics.median(secs), "s"),
          ("op_tail_s", tailS, "s"),
          ("cpu_s", plain.cpuS, "s"),
          ("peak_rss_mb", rssMb, "MB"),
          ("sink_bytes_per_issue",
            good.map(o => etl.sinkBytes(o).toDouble / o.stats.get.issuesProcessed).sum / good.size, "B"))
      }
    // run.py keeps the metrics BENCHMARK.json declares for the mode
    val metrics = endToEnd ++ perLayer
    val failed = ops.count(!_.ok)
    val json = s"""{"correct": ${failed == 0 && good.nonEmpty}, "attempted": ${ops.size}, "failed": $failed, """ +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString("\"metrics\": {", ", ", "}}")
    Files.write(Paths.get(a.result), json.getBytes(UTF_8))
  }
}
