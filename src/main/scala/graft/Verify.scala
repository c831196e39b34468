package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: only dump queries whose name contains one of
    // them (local iteration aid; the driver always passes exactly two)
    val only = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(s"local[$cpus]", "graft-verify")
    new java.io.File(outDir).mkdirs()
    // clear any stale manifest from a prior failing run in the same
    // outDir — a leftover would make tools/check.py fail forever
    Files.deleteIfExists(Paths.get(s"$outDir/_verify_errors.json"))
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.exists(name.contains) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += name -> String.valueOf(e.getMessage).take(500)
      }
      // release what the query cached so 200+ queries don't accumulate storage
      GraftSession.releaseCaches(spark)
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
    // LOUD failure manifest: round 7 lost 11 queries SILENTLY because a
    // testdata schema change made them throw here — the per-query stderr
    // lines drowned in Spark logs and the driver simply omitted the
    // missing parquet dirs from the correctness report. Persist the
    // failure list where both the driver artifacts and the next builder
    // session will trip over it.
    if (failures.nonEmpty) {
      val fjson = failures
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/_verify_errors.json"), fjson)
      System.err.println(
        s"[verify] *** ${failures.size} QUERIES FAILED TO DUMP: " +
          failures.map(_._1).mkString(", ") +
          s" — see $outDir/_verify_errors.json ***")
    }
    spark.stop()
  }
}
