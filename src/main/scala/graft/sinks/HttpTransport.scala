package graft.sinks

import java.io.{ByteArrayOutputStream, InputStream}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

/** The one HTTP POST of the service adapters. For ClickHouse it is the
  * real wire ≙ `ClickhouseClient.execute`
  * (services/clickhouse.py:72-107): the SQL statement POSTed as the raw
  * request body to `http://host:port/`, identity via the
  * `X-Clickhouse-User` / `X-Clickhouse-Key` headers
  * (services/clickhouse.py:47-54), sent only when `user` / `password`
  * are given; non-2xx → `IOException` (which the caller's
  * [[Retry.withBackoff]] treats as retryable, mirroring the reference's
  * `@backoff` on ConnectionError/Timeout). The error reporter
  * ([[graft.pipeline.ErrorReporting.HttpErrorReporter]]) POSTs its JSON
  * envelope through the same class, with no identity headers.
  *
  * Plugs into [[ClickHouseClient]] / [[ClickHouseBatchSink]] as their
  * `String => String` / `String => Unit` transport. Serializable on
  * purpose: [[ClickHouseBatchSink]] ships its transport to executors
  * inside `foreachPartition`, so every partition POSTs its own batches
  * — sink throughput scales with the cluster, and each executor keeps
  * its own connection (HttpURLConnection pools keep-alive per JVM).
  *
  * Deliberate deviation from the reference's retry scope: its
  * `@backoff` catches only ConnectionError/Timeout, so a 5xx response
  * raises `ClickhouseError` un-retried (services/clickhouse.py:72-83);
  * here a non-2xx ALSO flows into [[Retry.withBackoff]] (which retries
  * any NonFatal), because a load-shedding ClickHouse answers 503 and
  * retrying it is the difference between a nightly batch surviving a
  * rolling restart and paging someone.
  */
final class HttpTransport(
    url: String,
    user: Option[String] = None,
    password: Option[String] = None,
    connectTimeoutMs: Int = 10000,
    readTimeoutMs: Int = 10000) extends (String => String) with Serializable {

  override def apply(sql: String): String = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(connectTimeoutMs)
      conn.setReadTimeout(readTimeoutMs)
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      user.foreach(conn.setRequestProperty("X-Clickhouse-User", _))
      password.foreach(conn.setRequestProperty("X-Clickhouse-Key", _))
      val body = sql.getBytes(StandardCharsets.UTF_8)
      conn.setFixedLengthStreamingMode(body.length)
      val out = conn.getOutputStream
      try { out.write(body); out.flush() } finally out.close()
      val code = conn.getResponseCode
      if (code < 200 || code >= 300) {
        val err = readAll(Option(conn.getErrorStream))
        throw new java.io.IOException(s"HTTP $code: $err")
      }
      readAll(Option(conn.getInputStream))
    } finally conn.disconnect()
  }

  private def readAll(in: Option[InputStream]): String = in match {
    case None => ""
    case Some(s) =>
      try {
        val buf = new ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = s.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = s.read(chunk) }
        new String(buf.toByteArray, StandardCharsets.UTF_8)
      } finally s.close()
  }
}
