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

  test("the two totals: best-of-2 before the suspect re-runs and kept seconds after, passing queries only") {
    val boom = Some(new RuntimeException("boom"))
    val results = Seq(
      ("a", 2.0, 3.0, None), // no re-run
      ("b", 9.0, 8.0, None), // faster re-run: 8 → 1
      ("c", 5.0, 4.0, None), // failed re-run: best-of-2 stands
      ("d", 0.5, 0.5, boom)) // failed query: in neither total
    val rerun = Map("b" -> ((1.0, None)), "c" -> ((0.1, boom)))
    assert(Bench.totals(results, rerun) == ((14.0, 7.0)))
    assert(Bench.totals(results, Map.empty) == ((14.0, 14.0)))
    assert(Bench.totals(Seq.empty, Map.empty) == ((0.0, 0.0)))
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
