package graft.state

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class StateStoreSpec extends AnyFunSuite {

  private def tmpUri(name: String): String = {
    val dir = Files.createTempDirectory("graft-state")
    s"file://$dir/$name"
  }

  /** A store over a fresh state file holding `doc`, written by another program. */
  private def written(doc: String): FileStateStore = {
    val uri = tmpUri("state.json")
    Files.write(Paths.get(new java.net.URI(uri)), doc.getBytes("UTF-8"))
    new FileStateStore(uri)
  }

  test("FileStateStore: set/get/delete round trip with JSON-hostile values") {
    val uri = tmpUri("state.json")
    val s = new FileStateStore(uri)
    assert(s.get("last_update_at").isEmpty) // missing file = fresh start
    s.set("last_update_at", "2024-01-09T18:00:00.000+0300")
    s.set("weird", "a\"b\\c\nd\te")
    assert(s.get("last_update_at").contains("2024-01-09T18:00:00.000+0300"))
    assert(s.get("weird").contains("a\"b\\c\nd\te"))
    s.delete("weird")
    assert(s.get("weird").isEmpty)
    assert(s.get("last_update_at").nonEmpty)
    // every control character, non-ASCII and a surrogate pair survive set/get
    val hostile = (0 until 32).map(_.toChar).mkString + "\u007f é кириллица \ud83d\ude00"
    s.set(hostile, hostile)
    assert(s.get(hostile).contains(hostile))

    // a document in the earlier hand-written flush's exact format loads
    val old = written("{\"last_update_at\": \"2024-01-09T18:00:00.000+0300\", \"weird\": \"a\\\"b\\\\c\\nd\\te\\u0001\"}")
    assert(old.get("last_update_at").contains("2024-01-09T18:00:00.000+0300"))
    assert(old.get("weird").contains("a\"b\\c\nd\te\u0001"))
    // the standard escapes other writers emit (Python's json.dump, jq):
    // \b and \f, an escaped slash, é raw and escaped, an escaped surrogate pair
    assert(written("{\"k\": \"\\b\\f\\/ é \\u00e9 \\ud83d\\ude00\"}").get("k")
      .contains("\b\f/ é é \ud83d\ude00"))
  }

  test("FileStateStore: flush is temp-file + rename, no temp residue") {
    val uri = tmpUri("state.json")
    val s = new FileStateStore(uri)
    s.set("k", "v")
    val dir = Paths.get(new java.net.URI(uri)).getParent
    val names = Files.list(dir).toArray.map(_.toString)
    assert(names.exists(_.endsWith("state.json")))
    assert(!names.exists(_.contains(".tmp")), s"temp residue in $dir: ${names.mkString(",")}")
  }

  test("FileStateStore: aside copy from a crashed two-rename fallback is recovered") {
    val uri = tmpUri("state.json")
    val s = new FileStateStore(uri)
    s.set("last_update_at", "2024-01-09T18:00:00.000+0000")
    // simulate a crash between the fallback's two renames: the main file
    // was moved aside and the new one never landed
    val p = Paths.get(new java.net.URI(uri))
    Files.move(p, p.getParent.resolve("." + p.getFileName.toString + ".old"))
    assert(new FileStateStore(uri).get("last_update_at")
      .contains("2024-01-09T18:00:00.000+0000")) // restored, not reset
  }

  test("FileStateStore: corrupt or truncated state raises instead of silently resetting") {
    val uri = tmpUri("state.json")
    val p = Paths.get(new java.net.URI(uri))
    Files.write(p, "{\"last_update_at\": \"2024-01-0".getBytes("UTF-8")) // torn write
    val s = new FileStateStore(uri)
    intercept[IllegalStateException](s.get("last_update_at"))
    Files.write(p, "".getBytes("UTF-8")) // zero-length file
    intercept[IllegalStateException](s.get("last_update_at"))
    Seq(
      "{\"a\": \"b\"} x", // trailing garbage
      "{\"a\": \"b\"}}", // trailing brace
      "{\"a\": \"b\"}{\"c\": \"d\"}", // two documents
      "{\"a\": {\"b\": \"c\"}}", // nested value
      "{\"a\": 1}", // numeric value
      "{\"a\": [\"b\"]}", // array value
      "{\"a\": null}", // null value
      "[\"a\"]", // top-level array
      "\"a\"" // top-level string
    ).foreach { bad =>
      Files.write(p, bad.getBytes("UTF-8"))
      intercept[IllegalStateException](s.get("a"))
    }
    Files.write(p, "{}".getBytes("UTF-8")) // explicit empty document is fine
    assert(s.get("last_update_at").isEmpty)
  }
}
