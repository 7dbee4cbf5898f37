package graft.sinks

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.SparkSuite

/** End-to-end wire proof over a loopback HTTP stub: the ClickHouse sink
  * POSTing real sockets through [[HttpTransport]] (≙
  * services/clickhouse.py:72-123 — headers, body-as-SQL, non-2xx →
  * retry) and the DSV2 tracker source fetching pages over HTTP on
  * executor tasks (≙ services/tracker.py:50-67). Zero egress: the
  * server binds 127.0.0.1:ephemeral inside the test JVM.
  */
class HttpLoopbackSpec extends SparkSuite {

  /** One-test HTTP server; `failFirst` 503s the first N requests to
    * exercise the backoff path through a REAL failed socket exchange.
    */
  private def withServer(failFirst: Int = 0)
                        (routes: Map[String, String] = Map.empty)
                        (body: (String, mutable.Buffer[(String, String, String)]) => Unit): Unit = {
    val received = mutable.Buffer[(String, String, String)]() // (path, body, user header)
    val failures = new AtomicInteger(failFirst)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val reqBody = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val user = Option(ex.getRequestHeaders.getFirst("X-Clickhouse-User")).getOrElse("")
      received.synchronized { received += ((ex.getRequestURI.getPath, reqBody, user)) }
      val resp =
        if (failures.getAndDecrement() > 0) (503, "simulated unavailable")
        else routes.get(ex.getRequestURI.getPath) match {
          case Some(page) => (200, page)
          case None if routes.isEmpty => (200, "Ok.")
          case None => (404, "no such page")
        }
      val bytes = resp._2.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(resp._1, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}", received)
    finally server.stop(0)
  }

  test("ClickHouseClient retries a real failed HTTP exchange: 503 -> backoff -> 200") {
    withServer(failFirst = 1)() { (url, received) =>
      val transport = new HttpTransport(url, user = Some("agile"), password = Some("pw"))
      val client = new ClickHouseClient(transport, tries = 3, baseDelayMs = 1)
      assert(client.execute("SELECT 1") == "Ok.")
      // two real exchanges: the 503'd first attempt and the successful retry
      assert(received.size == 2)
      assert(received.forall { case (_, body, user) => body == "SELECT 1" && user == "agile" })
    }
  }

  test("ClickHouseClient exhausts its tries against a persistent failure") {
    withServer(failFirst = 100)() { (url, received) =>
      val client = new ClickHouseClient(new HttpTransport(url), tries = 3, baseDelayMs = 1)
      val e = intercept[java.io.IOException](client.execute("SELECT 1"))
      assert(e.getMessage.contains("503"))
      assert(received.size == 3, "expected exactly tries=3 socket exchanges")
    }
  }

  test("ClickHouseBatchSink POSTs JSONEachRow batches from executor partitions, retrying transient 503s") {
    import spark.implicits._
    withServer(failFirst = 1)() { (url, received) =>
      val transport = new HttpTransport(url, user = Some("agile"))
      val sink = new ClickHouseBatchSink(sql => { transport(sql); () },
        database = "agile", batchSize = 2, tries = 3)
      val df = (1 to 5).map(i => (i.toLong, s"ISSUE-$i")).toDF("id", "issue_key").repartition(2)
      sink.write(df, "issues")
      val inserts = received.filter(_._2.startsWith("INSERT INTO agile.issues FORMAT JSONEachRow "))
      // every row arrived despite the 503'd first exchange (no row rides
      // only the failed attempt), and batching stayed per-partition:
      // 2 partitions x ceil(rows/2) batches, +1 for the retried POST
      val rows = inserts.flatMap(_._2.stripPrefix("INSERT INTO agile.issues FORMAT JSONEachRow ")
        .split(" ")).filter(_.nonEmpty)
      assert((1 to 5).forall(i => rows.exists(r => r.contains(s""""ISSUE-$i""""))))
      assert(received.size == inserts.size && inserts.size >= 4)
    }
  }

  test("TrackerSource reads pages over HTTP with filter pushdown (index on driver, pages on executors)") {
    import graft.sources.v2.TrackerSource.encodeLine
    val page0 = Seq(
      encodeLine(1L, 1000000L, 10L, "click", 1.5, "{}"),
      encodeLine(2L, 2000000L, 11L, "view", 2.0, "{}")).mkString("\n")
    val page1 = Seq(
      encodeLine(3L, 3000000L, 10L, "click", 3.0, "{}"),
      encodeLine(4L, 4000000L, 12L, "click", 4.0, "{}")).mkString("\n")
    withServer()(Map(
      "/pages/index" -> "page-0.tsv\npage-1.tsv\n",
      "/pages/page-0.tsv" -> page0,
      "/pages/page-1.tsv" -> page1)) { (url, received) =>
      val df = spark.read.format("graft.sources.v2.TrackerSource")
        .option("path", s"$url/pages").load()
        .where(org.apache.spark.sql.functions.col("event_type") === "click")
        .select("event_id", "user_id")
      // the predicate is CLAIMED by the source (server-side in a real
      // deployment), visible in the scan description
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [") && plan.contains("EqualTo(event_type,click)"), plan)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 10L), (3L, 10L), (4L, 12L)))
      val paths = received.map(_._1)
      // the index GET happens at PLANNING time (once per planning pass —
      // the explain above plans too, so 2 here), each page GET exactly
      // once, by the execution's tasks
      val idx = paths.count(_ == "/pages/index")
      assert(idx >= 1 && idx <= 2, s"index fetched $idx times for 2 planning passes")
      assert(paths.count(_ == "/pages/page-0.tsv") == 1 &&
        paths.count(_ == "/pages/page-1.tsv") == 1,
        s"each page must be fetched exactly once, got $paths")
    }
  }

  test("TrackerSource surfaces a missing HTTP page as a task failure naming the URL") {
    // a page listed by the index but 404ing at fetch time must fail the
    // read VERBATIM (local masters run 1 task attempt; a cluster would
    // re-schedule per spark.task.maxFailures before surfacing this)
    withServer()(Map("/pages/index" -> "gone.tsv\n")) { (url, _) =>
      val e = intercept[org.apache.spark.SparkException] {
        spark.read.format("graft.sources.v2.TrackerSource")
          .option("path", s"$url/pages").load().count()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msgs.contains("gone.tsv") && msgs.contains("404"), msgs)
    }
  }
}
