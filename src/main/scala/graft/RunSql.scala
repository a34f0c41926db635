package graft

import java.nio.file.{Files, Paths}

/** Differential-test runner: read a JSON object of {name: sql} (shared
  * Spark/DuckDB dialect), run each statement against the registered fixture
  * views, dump one parquet dir per query. `tools/fuzz_oracle.py` generates
  * the queries and replays them in DuckDB for comparison — randomized
  * cross-engine testing beyond the hand-written suite.
  */
object RunSql {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, queryFile, outDir) = args
    val spark = Harness.session(4, "graft-runsql")
    // ANSI-parity mode for the differential fuzzer: DuckDB (the comparison
    // engine) follows the standard's empty-input grand-total rule, so the
    // fuzzer exercises graft.plans.StandardGroupingSets on every random
    // grouping-sets/rollup/cube shape instead of normalizing it away
    spark.conf.set("spark.graft.sqlStandardGroupingSets", "true")
    Tables.registerAll(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // minimal JSON object parser for {"name": "sql", ...} with escaped strings
    val text = Files.readString(Paths.get(queryFile))
    val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    // single left-to-right scan: naive sequential replace() corrupts "\\n"
    // (escaped backslash followed by n) into backslash+newline
    def unescape(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s(i) == '\\' && i + 1 < s.length) {
          s(i + 1) match {
            case 'n' => sb += '\n'
            case 't' => sb += '\t'
            case 'r' => sb += '\r'
            case 'b' => sb += '\b'
            case 'f' => sb += '\f'
            case 'u' if i + 5 < s.length &&
                s.substring(i + 2, i + 6).forall(c => Character.digit(c, 16) >= 0) =>
              sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
              i += 4
            case other => sb += other // covers \" \\ \/ etc.
          }
          i += 2
        } else { sb += s(i); i += 1 }
      }
      sb.toString
    }
    entry.findAllMatchIn(text).foreach { m =>
      val (name, sql) = (unescape(m.group(1)), unescape(m.group(2)))
      try spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[runsql] $name failed: ${msg.linesIterator.next()}")
      }
    }
    spark.stop()
  }
}
