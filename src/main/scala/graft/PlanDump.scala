package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Diagnostic main (optimization rounds): dump `.explain("formatted")` for
  * registry entries and split each entry's wall time into plan construction
  * (fn() — reads, analysis, any driver-side work the entry does eagerly),
  * explain rendering and execution (count(), the bench's timed action).
  * Not part of the driver contract; used to attribute per-entry cost and to
  * produce the `plans/r15/<entry>_{before,after}.txt` evidence files.
  *
  * Usage: runMain graft.PlanDump <outDir> <entryPrefix>[,<entryPrefix>...]
  * (prefixes select as `SPARK_GRAFT_ONLY` does; see [[Harness]]).
  * Env: SPARK_GRAFT_SF_DIR (fixture dir), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_PLAN_EXEC=0 to skip execution (plans only).
  *
  * Streaming (s-family) entries EXECUTE inside fn(); their dumped plan is
  * the returned sink-table frame, not the streaming plan — use
  * ProfileStreaming for those.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = Harness.select(args(1))
    val sfDir = Harness.sfDir
    val exec = sys.env.getOrElse("SPARK_GRAFT_PLAN_EXEC", "1") == "1"
    // SPARK_GRAFT_PLAN_AFTER_EXEC=1: explain AFTER the action so the dump
    // carries AQE's FINAL plan (isFinalPlan=true — runtime SMJ→SHJ
    // rewrites, coalesced/skew-split reads) instead of the initial one
    // (r16; requires exec)
    val afterExec = sys.env.getOrElse("SPARK_GRAFT_PLAN_AFTER_EXEC", "0") == "1"
    // the bench's session, so dumped plans ARE the benched plans
    val spark = Harness.session(32, "graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    Harness.warmUp(spark, sfDir)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      try {
        spark.sparkContext.setJobDescription(s"plandump: $name")
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        def dump(): Unit = Files.writeString(Paths.get(s"$outDir/$name.txt"),
          df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        // ALWAYS dump the initial plan here (r16 review: a query that
        // throws mid-execution under after-exec mode must still leave its
        // plan on disk); after-exec mode overwrites it with the final plan
        // below. Both renders are booked to explain=, never to exec=.
        dump()
        val t2 = System.nanoTime()
        // after-exec mode drives the frame's OWN executedPlan (toRdd —
        // df.count() would plan a separate query and leave this one's
        // AdaptiveSparkPlan unexecuted/initial); every column computes, so
        // it is the noop-sink action in effect
        val cnt = if (!exec) -1L
          else if (afterExec) df.queryExecution.toRdd.count()
          else df.count()
        val t3 = System.nanoTime()
        if (exec && afterExec) dump() // final plan: isFinalPlan=true, AQE rewrites visible
        val t4 = System.nanoTime()
        System.err.println(f"[plandump] $name build=${(t1 - t0) / 1e9}%.3fs " +
          f"explain=${(t2 - t1 + t4 - t3) / 1e9}%.3fs exec=${(t3 - t2) / 1e9}%.3fs rows=$cnt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
