package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a suspect re-run's time is kept only when the re-run succeeded") {
    assert(Bench.keptSeconds(4.0, None) == 4.0)
    assert(Bench.keptSeconds(4.0, Some((1.5, None))) == 1.5)
    assert(Bench.keptSeconds(4.0, Some((6.0, None))) == 4.0)
    // a fast failure is not a fast time
    assert(Bench.keptSeconds(4.0, Some((0.1, Some(new RuntimeException("boom"))))) == 4.0)
  }

  test("bench-reference.json parses as JSON, whatever the number format") {
    assert(Bench.parseReference("""{"a": 1, "b":0.25, "c": 2.5e-1, "d":-0.0}""") ==
      Map("a" -> 1.0, "b" -> 0.25, "c" -> 0.25, "d" -> 0.0))
    assert(Bench.parseReference("{}") == Map.empty)
  }

  test("a bench-reference.json that is not a flat object of numbers fails loudly") {
    Seq("", "[1, 2]", """{"a": "0.3"}""", """{"a": null}""", """{"a": 0.3""", """{"a": {"b": 1}}""")
      .foreach(bad => intercept[Exception](Bench.parseReference(bad)))
  }

  test("the committed bench-reference.json parses and covers only registered queries") {
    val in = getClass.getResourceAsStream("/bench-reference.json")
    val ref = try Bench.parseReference(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    assert(ref.nonEmpty)
    assert(ref.values.forall(_ > 0))
    assert(ref.keySet.subsetOf(SparkEntry.queries.keySet), ref.keySet -- SparkEntry.queries.keySet)
  }
}
