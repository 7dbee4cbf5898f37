package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {

  test("oracle_sql.json parses back to every registered oracle's SQL exactly") {
    val sql = SparkEntry.oracleSql
    val doc = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
      .readTree(Verify.oracleSqlJson(sql))
    assert(doc.isObject)
    val parsed = doc.properties().asScala.map { e =>
      assert(e.getValue.isTextual, e.getKey)
      e.getKey -> e.getValue.textValue
    }.toMap
    assert(parsed == sql)
    assert(parsed.keySet == SparkEntry.queries.keySet) // 351 at the time of writing
    assert(parsed.values.exists(_.exists(c => c >= 'А' && c <= 'я')), "no Cyrillic SQL in the registry")
  }
}
