package graft.io

import org.json4s.{JArray, JDouble, JLong, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

/** Typed readers over the json4s values of one commit record (a packed
  * index's `index.json`, an IVF index's `ivf.json`). Each fails loudly,
  * naming the record, on a value of another shape or a missing field.
  */
private[graft] final class JsonRecord(path: String) {
  private def bad(v: JValue) = throw new IllegalArgumentException(s"$path: unexpected value $v")
  def obj(v: JValue): Map[String, JValue] = v match {
    case JObject(fields) => fields.toMap.withDefault(k =>
      throw new IllegalArgumentException(s"$path: no field '$k'"))
    case other => bad(other)
  }
  def arr(v: JValue): List[JValue] = v match { case JArray(xs) => xs; case other => bad(other) }
  def str(v: JValue): String = v match { case JString(x) => x; case other => bad(other) }
  def long(v: JValue): Long = v match { case JLong(x) => x; case other => bad(other) }
  def dbl(v: JValue): Double = v match { case JDouble(x) => x; case other => bad(other) }
  def ids(v: JValue): Array[Long] = arr(v).map(long).toArray
}

private[graft] object JsonRecord {

  /** The top-level fields of the record at `path` and the readers over
    * them. No readable record means no committed index at `dir`; `reader`
    * names the caller in that error.
    */
  def read(reader: String, dir: String, path: String): (JsonRecord, Map[String, JValue]) = {
    val text = try MetaIO.readString(path) catch {
      case e: java.io.IOException => throw new IllegalArgumentException(
        s"$reader: no committed index at $dir ($path is unreadable)", e)
    }
    val j = new JsonRecord(path)
    (j, j.obj(JsonMethods.parse(text, useBigIntForLong = false)))
  }

  /** Sorted id sets (tombstones, holes) as a record value. */
  def ids(a: Array[Long]): JValue = JArray(a.toList.map(JLong(_)))

  /** Publish `fields` as the record at `path`, all-or-nothing. */
  def write(path: String, fields: List[(String, JValue)]): Unit =
    MetaIO.writeAtomic(path, JsonMethods.compact(JObject(fields)))
}
