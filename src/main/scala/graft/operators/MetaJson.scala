package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * The one codec of the store's small JSON metadata files: the layout
 * bit `_layout.json`, each versioned artifact's `_meta.json`, the ANN
 * index's `_appended.json`, and the posting index's `_postings.json`
 * and `_gen.json`. A file is one flat JSON object of integers,
 * doubles, booleans and strings.
 *
 * A write stages `<file>.tmp` and renames it onto the file, so a
 * reader sees a whole object or none. A filesystem whose rename does
 * not replace an existing file (HDFS) deletes the old file first; only
 * `_appended.json` is ever replaced, and only writers read it. A read
 * of a malformed file, or of a field the file lacks, fails with an
 * error that names the file.
 */
private[graft] object MetaJson {

  /** A file's fields in order (values as json4s reads them: BigInt,
    * Double, Boolean, String) and its text as read. */
  final case class Fields(file: Path, text: String, fields: Seq[(String, Any)]) {
    private def get[T](name: String)(as: PartialFunction[Any, T]): T =
      fields.collectFirst { case (`name`, v) if as.isDefinedAt(v) => as(v) }.getOrElse(
        throw new IllegalStateException(s"graft: $file has no \"$name\" field of the expected type: $text"))

    def long(name: String): Long = get(name) { case v: BigInt => v.toLong }
    def int(name: String): Int = get(name) { case v: BigInt => v.toInt }
    def double(name: String): Double = get(name) { case v: Double => v }
    def bool(name: String): Boolean = get(name) { case v: Boolean => v }
  }

  /** Write `fields` (Int, Long, BigInt, Double, Boolean or String
    * values) as one JSON object at `file`, in the given order. */
  def write(fs: FileSystem, file: Path, fields: (String, Any)*): Unit = {
    val obj = JObject(fields.toList.map { case (k, v) =>
      k -> (v match {
        case n: Int => JInt(n)
        case n: Long => JInt(n)
        case n: BigInt => JInt(n)
        case d: Double => JDouble(d)
        case b: Boolean => JBool(b)
        case s: String => JString(s)
      })
    })
    val tmp = new Path(s"$file.tmp")
    val out = fs.create(tmp, true)
    try out.write(JsonMethods.compact(JsonMethods.render(obj)).getBytes(UTF_8))
    finally out.close()
    if (!fs.rename(tmp, file)) {
      fs.delete(file, false)
      require(fs.rename(tmp, file), s"graft: metadata rename $tmp -> $file failed")
    }
  }

  /** The object at `file`; None when there is no such file. */
  def read(fs: FileSystem, file: Path): Option[Fields] =
    if (!fs.exists(file)) None
    else {
      val in = fs.open(file)
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      val parsed =
        try JsonMethods.parse(text)
        catch { case scala.util.control.NonFatal(e) =>
          throw new IllegalStateException(s"graft: malformed JSON in $file: $text", e)
        }
      parsed match {
        case JObject(obj) => Some(Fields(file, text, obj.map { case (k, v) => k -> v.values }))
        case _ => throw new IllegalStateException(s"graft: $file is not a JSON object: $text")
      }
    }
}
