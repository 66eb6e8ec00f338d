package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev-only subset (SPARK_GRAFT_ONLY); the driver never sets it, so
    // the gate always runs the full registry. Parsed before the session
    // starts, so an unregistered name fails fast.
    val rows = SparkEntry.selected()
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    graft.sources.Artifacts.setRoot(artifactsDir(outDir))
    rows.foreach { q =>
      try SparkEntry.run(q)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // rendered after every selected query ran, and only for those rows:
    // the render-after-run guard stays fail-loud in subset mode too
    val json = oracleJson(rows)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** oracle_sql.json's text for `rows`. A row whose oracle throws while
    * rendering gets an invalid marker query naming it and the error, so
    * that row fails alone in the compare — the way the recorded-round
    * markers do — instead of the throw aborting the file for every row. */
  def oracleJson(rows: Seq[QuerySpec]): String =
    rows.map { q =>
      val sql = try SparkEntry.oracle(q) catch { case NonFatal(e) =>
        val msg = String.valueOf(e.getMessage).replace("*/", "* /")
        s"SELECT graft_error_${q.name}_oracle_render_failed /* $msg */"
      }
      s"${js(q.name)}: ${js(sql)}"
    }.mkString("{", ",", "}")

  /** JSON string literal — graft's one escaper (oracle SQL here, stack
    * samples and job sites in Bench): backslash, quote, and ALL control
    * chars (<0x20) — one tab or CR would otherwise make the reader's
    * parse fail and lose the whole file. */
  private[graft] def js(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Self-contained dump: persisted-fit artifacts (and the oracle SQL
    * paths that reference them) live NEXT TO the out dir, in the sibling
    * `<outDir>_artifacts` — same parent, so the gate survives any
    * concurrent graft JVM's /tmp sweep (VERDICT r15 #1), but OUTSIDE the
    * tree the driver's oracle scans as query dumps: in round 16
    * `<outDir>/_artifacts` was picked up as a 268th "query" and recorded
    * as a pyarrow error in CORRECTNESS_r16.json (VERDICT r16 #2). The
    * path is normalized first, so a trailing `/` or `//` cannot put the
    * sibling back inside the tree. */
  def artifactsDir(outDir: String): String =
    s"${Paths.get(outDir).toAbsolutePath.normalize}_artifacts"
}
