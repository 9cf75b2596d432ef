package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dump only those
    // (iteration aid; the driver always runs the 2-arg full dump)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)       => (s, o, None)
      case Array(s, o, sel)  => (s, o, Some(sel.split(',').toSet))
    }
    val spark = graft.core.Session.local()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    val selected = only.map(sel => SparkEntry.queries.view.filterKeys(sel).toMap)
      .getOrElse(SparkEntry.queries)
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name -> String.valueOf(e.getMessage).take(400)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // failures manifest: a query that throws leaves NO parquet dir, and
    // the driver's compare silently drops missing entries from the
    // round's correctness report (r8: the events fixture-schema change
    // vanished 7 rows with zero `err` entries — nobody saw it until the
    // key sets were diffed by hand). An explicit artifact plus a loud
    // final line makes a silent shrink impossible.
    val fjson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"), fjson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} of ${selected.size} " +
        s"queries FAILED (missing from the correctness report!): " +
        failed.keys.mkString(", "))
    else
      System.err.println(s"[verify] all ${selected.size} queries dumped")
    spark.stop()
  }
}
