package graft.pipeline

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.SparkSuite
import graft.examples.ServerlessHandler
import graft.pipeline.ErrorReporting._
import graft.schema.Schemas
import graft.sinks.ConsoleSink

/** Error-report hook (≙ configure_sentry + sentry_events_filter) and
  * the serverless handler envelope (≙ examples/serverless/main.py:7-14)
  * — delivery over a REAL loopback socket, fingerprint grouping, the
  * never-mask-the-original-error guarantee, and the 200/500 mapping.
  */
class ErrorReportingSpec extends SparkSuite {

  private def withServer(status: Int = 200)
                        (body: (String, mutable.Buffer[String]) => Unit): Unit = {
    val received = mutable.Buffer[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      received.synchronized {
        received += new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      }
      ex.sendResponseHeaders(status, 2)
      ex.getResponseBody.write("ok".getBytes(StandardCharsets.UTF_8))
      ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/report", received)
    finally server.stop(0)
  }

  test("fingerprints group recurring failures (the sentry_events_filter analog)") {
    assert(fingerprintOf(new java.io.IOException("x")) == "sink-io")
    assert(fingerprintOf(new java.net.SocketTimeoutException("t")) == "sink-io")
    assert(fingerprintOf(new IllegalArgumentException("bad flag")) == "config")
    assert(fingerprintOf(new RuntimeException("?")) == "RuntimeException")
  }

  test("before_send can drop an event; null errors are always dropped") {
    val ev = eventOf(new RuntimeException("boom"), "r@1", Map.empty)
    assert(filtered(ev, e => Some(e)).contains(ev))
    assert(filtered(ev, _ => None).isEmpty)
    assert(filtered(ev.copy(error = null), e => Some(e)).isEmpty)
  }

  test("HttpErrorReporter POSTs one JSON envelope per event over a real socket") {
    withServer() { (url, received) =>
      val rep = new HttpErrorReporter(url)
      rep.report(eventOf(new java.io.IOException("sink down"), "graft-engine@0.1.0",
        Map("mode" -> "batch", "raw" -> "/data/x.json")))
      assert(received.size == 1)
      val body = received.head
      assert(body.contains(""""release":"graft-engine@0.1.0""""))
      assert(body.contains(""""fingerprint":["sink-io"]"""))
      assert(body.contains(""""type":"java.io.IOException""""))
      assert(body.contains(""""value":"sink down""""))
      assert(body.contains(""""mode":"batch""""))
      assert(body.contains(""""stacktrace":"""))
    }
  }

  test("JSON envelope escapes quotes and newlines in messages") {
    val rep = new HttpErrorReporter("http://127.0.0.1:1/unused")
    // ESC, NUL and backspace are control characters JSON must escape too
    val msg = "he said \"no\"\nand left \u001b[31m \u0000 \b é"
    val json = rep.toJson(eventOf(new RuntimeException(msg), "r@1", Map("k" -> "v\t1", "a" -> "\\")))
    assert(json.contains("""he said \"no\"\nand left"""))
    assert(json.contains(""""k":"v\t1""""))
    // the envelope is one strict JSON document, and every field round-trips
    val doc = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS).readTree(json)
    assert(doc.path("release").textValue == "r@1")
    assert(doc.path("fingerprint").size == 1)
    assert(doc.path("fingerprint").get(0).textValue == "RuntimeException")
    val exc = doc.path("exception")
    assert(exc.path("type").textValue == "java.lang.RuntimeException")
    assert(exc.path("value").textValue == msg)
    assert(exc.path("stacktrace").textValue.startsWith(s"java.lang.RuntimeException: $msg"))
    assert(doc.path("extra").properties().asScala.map(e => e.getKey -> e.getValue.textValue).toMap ==
      Map("k" -> "v\t1", "a" -> "\\"))
    assert(doc.properties().asScala.map(_.getKey).toSet == Set("release", "fingerprint", "exception", "extra"))
  }

  test("delivery failure is swallowed (the error path never masks the pipeline error)") {
    withServer(status = 503) { (url, received) =>
      val rep = new HttpErrorReporter(url)
      rep.report(eventOf(new RuntimeException("original"), "r@1", Map.empty))
      assert(received.size == 1) // attempted, 503'd, swallowed
    }
    // and an unreachable endpoint is equally silent
    new HttpErrorReporter("http://127.0.0.1:1/nope", connectTimeoutMs = 200)
      .report(eventOf(new RuntimeException("x"), "r@1", Map.empty))
  }

  test("fromConfig mirrors configure_sentry: disabled -> Noop, enabled needs a URL") {
    assert(ErrorReporting.fromConfig(enabled = false, None) eq Noop)
    assert(ErrorReporting.fromConfig(enabled = true, Some("http://h/p"))
      .isInstanceOf[HttpErrorReporter])
    intercept[IllegalArgumentException](ErrorReporting.fromConfig(enabled = true, None))
  }

  test("serverless handler: success -> 200/'success', failure -> 500 + reported event") {
    // 200: an empty raw parquet in the rawIssue schema runs cleanly
    val dir = java.nio.file.Files.createTempDirectory("srvless").toString
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Schemas.rawIssue).write.parquet(s"$dir/raw.parquet")
    val ok = ServerlessHandler.handler(Map("raw" -> s"$dir/raw.parquet"),
      spark, new ConsoleSink(rows = 1))
    assert(ok == ServerlessHandler.Response(200, "success"))

    // 500: missing 'raw' key -> config error, shipped through the hook
    withServer() { (url, received) =>
      val bad = ServerlessHandler.handler(Map.empty, spark, new ConsoleSink(rows = 1),
        reporter = new HttpErrorReporter(url))
      assert(bad.statusCode == 500)
      assert(bad.message.contains("raw"))
      assert(received.size == 1)
      assert(received.head.contains(""""fingerprint":["config"]"""))
      assert(received.head.contains(""""mode":"serverless""""))
    }
  }
}
