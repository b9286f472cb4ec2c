package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, only @ _*) = args
    val spark = Session.builder(aqeStart512 = true).getOrCreate()
    new java.io.File(outDir).mkdirs()
    // a failed query must become a RED row, never a silently missing one
    // (r4 lost four regressed queries this way): write an explicit
    // <out>/<name>/_ERROR marker — the driver's parquet read of that
    // directory fails loudly instead of the row vanishing — and collect
    // every failure into <out>/errors.json.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(2000)}"
        System.err.println(s"[verify] $name FAILED: $msg")
        failed += name -> msg
        val d = new java.io.File(s"$outDir/$name")
        d.mkdirs()
        // leave ONLY the marker: a half-written parquet dir must not pass
        // for a result
        d.listFiles().filter(_.getName != "_ERROR").foreach(graft.io.Fs.deleteLocal)
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR"), msg)
      }
      finally spark.catalog.clearCache() // don't let cached intermediates accumulate
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // errors.json is DERIVED from the per-query _ERROR markers on disk —
    // the markers are the single source of truth, so a targeted re-run
    // (`only` filter) that fixes a query also drops it from the summary,
    // while failures in queries that weren't re-run keep their markers
    // and stay listed. (The r5 scheme only rewrote the summary on full
    // runs, so after a targeted fix the two signals could disagree.)
    val markers = Option(new java.io.File(outDir).listFiles()).getOrElse(Array())
      .filter(d => d.isDirectory && new java.io.File(d, "_ERROR").exists())
      .sortBy(_.getName)
      .map(d => d.getName -> Files.readString(Paths.get(d.getPath, "_ERROR")))
    val errJson = markers.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: ${failed.keys.mkString(", ")}")
    // rc stays 0: the per-query artifacts above are the failure signal —
    // a non-zero exit could make a harness discard the 150+ good rows
    spark.stop()
  }
}
