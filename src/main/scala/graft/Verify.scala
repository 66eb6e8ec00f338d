package graft
import java.nio.file.{Files, Paths}
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
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def js(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // rendered after every selected query ran, and only for those rows:
    // the render-after-run guard stays fail-loud in subset mode too
    val json = rows.map(q => s"${js(q.name)}: ${js(SparkEntry.oracle(q))}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

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
