package graft.sources

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkSuite
import graft.examples.ServerlessHandler
import graft.sinks.Sink

class RawIssueSourceSpec extends SparkSuite {

  test("P9: malformed JSON rows land on the bad-record channel, batch continues") {
    val f = Files.createTempFile("raw", ".ndjson")
    Files.writeString(f,
      """{"key":"A-1","summary":"ok","queue":{"key":"A"},"createdAt":"2024-01-09T10:00:00.000+0000","updatedAt":"2024-01-09T11:00:00.000+0000","changelog":[]}
        |this is not json at all {{{
        |{"key":"A-2","summary":"also ok","queue":{"key":"A"},"createdAt":"2024-01-09T10:00:00.000+0000","updatedAt":"2024-01-09T12:00:00.000+0000","changelog":[]}
        |""".stripMargin)
    RawIssueSource.withJsonBadRecords(spark, f.toString) { (good, bad) =>
      assert(good.count() == 2)
      assert(bad.count() == 1)
      assert(bad.collect()(0).getString(0).contains("not json"))
      // the good side is transformable end-to-end
      val issues = graft.transform.IssueTransform.issues(good)
      assert(issues.count() == 2)
    }
  }

  test("a warm session re-reading a rewritten JSON source exports the new documents") {
    def doc(key: String) =
      s"""{"key":"$key","summary":"s","queue":{"key":"A"},"createdAt":"2024-01-09T10:00:00.000+0000",""" +
        s""""updatedAt":"2024-01-09T11:00:00.000+0000","changelog":[]}"""
    val f = Files.createTempFile("raw", ".ndjson")
    val exported = mutable.Buffer[Seq[String]]()
    val capture = new Sink {
      def write(df: DataFrame, table: String): Unit =
        if (table == "issues") exported += df.select("issue_key").collect().map(_.getString(0)).toSeq.sorted
    }
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    val keys = Seq(3, 7).map(n => (1 to n).map(i => s"A-$i"))
    for (batch <- keys) {
      Files.writeString(f, batch.map(doc).mkString("", "\n", "\n"))
      assert(ServerlessHandler.handler(Map("raw" -> f.toString), spark, capture) ==
        ServerlessHandler.Response(200, "success"))
    }
    assert(exported == keys)
    assert(sc.getPersistentRDDs.keySet == persistedBefore)
  }

  test("REST adapter skeleton: drains pages until exhaustion, parses distributed, transform-ready") {
    def doc(key: String) =
      s"""{"key":"$key","summary":"s","queue":{"key":"T"},"status":{"name":"Open"},""" +
        s""""createdAt":"2024-01-09T10:00:00.000+0000","updatedAt":"2024-01-09T11:00:00.000+0000","changelog":[]}"""
    // 2 full pages of 2 + a final short page; page 3 signals exhaustion
    val pages = Seq(
      Seq(doc("R-1"), doc("R-2")),
      Seq(doc("R-3"), doc("R-4")),
      Seq(doc("R-5")))
    var fetched = 0
    val src = RawIssueSource.Rest(
      fetchPage = (p, perPage) => {
        assert(perPage == 2)
        fetched += 1
        pages.lift(p)
      },
      perPage = 2)
    val df = src.load(spark)
    assert(df.count() == 5)
    assert(fetched == 4) // 3 data pages + the empty/None probe that ends the loop
    assert(df.schema == graft.schema.Schemas.rawIssue)
    assert(graft.transform.IssueTransform.issues(df).count() == 5)
  }

  test("REST adapter: count pre-flight above the API hard limit warns but still loads") {
    val src = RawIssueSource.Rest(
      fetchPage = (p, _) => if (p == 0) Some(Seq("""{"key":"R-1"}""")) else None,
      countHint = Some(10500L))
    assert(src.load(spark).count() == 1)
  }
}
