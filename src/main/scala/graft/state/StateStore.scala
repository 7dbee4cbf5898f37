package graft.state

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper, SerializationFeature}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Watermark state KV ≙ the reference's state managers
  * (state/managers.py:77-115; backends state/backends.py:69-249): a
  * single JSON document read-modify-written as a whole. The Hadoop FS API
  * covers both local files and object stores (file:// and s3a:// behave
  * identically), replacing the reference's separate local/S3 backends.
  */
trait StateStore {
  def get(key: String): Option[String]
  def set(key: String, value: String): Unit
  def delete(key: String): Unit
}

/** Flat string-map JSON file via Hadoop FS, written atomically: flush
  * goes to a sibling temp path and renames over the target, so a crash
  * mid-write can never leave a truncated document behind (the reference's
  * whole-document flush, state/backends.py:101-141, has the same
  * read-modify-write semantics but overwrites in place). Jackson reads
  * and writes the document, so any standard JSON writer's escapes load
  * (Python's `json.dump`, `jq`). A state file that exists but is not one
  * JSON object of string values (a torn write, an empty file, trailing
  * tokens, a nested, numeric, array or null value) raises instead of
  * silently returning empty — an empty map here would quietly drop the
  * watermark and trigger a full-corpus rescan.
  */
final class FileStateStore(uri: String, conf: Configuration = new Configuration()) extends StateStore {
  private val path = new Path(uri)
  private val tmpPath = new Path(path.getParent, "." + path.getName + ".tmp")
  private val asidePath = new Path(path.getParent, "." + path.getName + ".old")
  private def fs: FileSystem = path.getFileSystem(conf)

  private def load(): Map[String, String] = {
    // crash recovery for the non-overwriting-rename fallback in flush():
    // if the main document is missing but the aside copy exists, the
    // previous flush died between its two renames — the aside IS the
    // last committed state, so restore it instead of silently starting
    // fresh (which would drop the watermark)
    if (!fs.exists(path) && fs.exists(asidePath) && !fs.rename(asidePath, path))
      throw new IllegalStateException(
        s"state recovery failed: could not restore $asidePath -> $path; " +
          "refusing to return an empty watermark state while a committed copy exists")
    if (!fs.exists(path)) return Map.empty
    val doc =
      try {
        val in = fs.open(path)
        try FileStateStore.json.readTree(in) finally in.close()
      } catch {
        case e: JsonProcessingException => throw corrupt(e.getOriginalMessage, e)
      }
    if (doc == null || !doc.isObject) throw corrupt("the top level is not a JSON object")
    doc.properties().asScala.map { e =>
      if (!e.getValue.isTextual) throw corrupt(s"the value of ${e.getKey} is not a string")
      e.getKey -> e.getValue.textValue
    }.toMap
  }

  private def corrupt(why: String, cause: Throwable = null) = new IllegalStateException(
    s"state file $path is not a flat string-map JSON document ($why); " +
      "refusing to return an empty watermark state from corrupt content", cause)

  private def flush(m: Map[String, String]): Unit = {
    val bytes = FileStateStore.json.writeValueAsBytes(m.asJava)
    val out = fs.create(tmpPath, true)
    try out.write(bytes) finally out.close()
    // rename is atomic on POSIX local FS (overwrites in place) and
    // consistent under the Hadoop FS contract on object stores — readers
    // see the old or the new document, never a prefix of the new one.
    // Some FS impls refuse to rename over an existing target; for those,
    // move the old document ASIDE first (not delete — a crash between the
    // two renames must not lose the committed watermark; load() restores
    // the aside copy when the main file is missing), then rename the new
    // one in and drop the aside copy.
    val renamed =
      try fs.rename(tmpPath, path)
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    if (!renamed) {
      if (fs.exists(asidePath)) fs.delete(asidePath, false)
      if (fs.exists(path) && !fs.rename(path, asidePath))
        throw new IllegalStateException(s"atomic state flush failed: rename $path -> $asidePath")
      if (!fs.rename(tmpPath, path))
        throw new IllegalStateException(s"atomic state flush failed: rename $tmpPath -> $path")
      fs.delete(asidePath, false)
    }
  }

  def get(key: String): Option[String] = load().get(key)
  def set(key: String, value: String): Unit = flush(load() + (key -> value))
  def delete(key: String): Unit = flush(load() - key)
}

private object FileStateStore {
  val json: ObjectMapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
}

/** In-memory store for tests / dry runs. */
final class MemoryStateStore extends StateStore {
  private var m = Map.empty[String, String]
  def get(key: String): Option[String] = m.get(key)
  def set(key: String, value: String): Unit = m += key -> value
  def delete(key: String): Unit = m -= key
}

/** Backend factory ≙ the reference's `state/factory.py:18-50` (backend
  * chosen by config): `redis://host[:port][/namespace]` →
  * [[RedisStateStore]]; any file path or Hadoop FS URI (`file://`,
  * `s3a://`, bare path) → [[FileStateStore]].
  */
object StateStore {
  private val RedisUri = "^redis://([^:/]+)(?::(\\d+))?(?:/([^/]+))?/?$".r

  def fromUri(uri: String): StateStore = uri match {
    case RedisUri(host, port, namespace) =>
      new RedisStateStore(host,
        Option(port).map(_.toInt).getOrElse(6379),
        Option(namespace).getOrElse("graft_default"))
    case _ => new FileStateStore(uri)
  }
}
