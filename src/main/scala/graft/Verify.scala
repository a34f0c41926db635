package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Runs the bench's
  * session and entry loop, so the verified plans are the benched plans.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(4, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=s08,q63 selects a local-iteration subset
    val names = Harness.entries
    val ran = Harness.runEntries(spark, names, "verify") { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      df
    }.collect { case (name, Some(_)) => name }
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
    val json = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of the entries THIS run wrote — lets check_oracle.py scope
    // its no-oracle sweep to fresh outputs instead of tripping over stale
    // dirs left in outDir by an earlier full run (the bogus subset-mode
    // "FAIL q06/q69 NO-ORACLE 0 rows" lines)
    Files.writeString(Paths.get(s"$outDir/ran.json"), ran.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
