package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Diagnostic main: run the registry entries `SPARK_GRAFT_ONLY` selects
  * (required; prefixes as in [[Harness]], e.g. `SPARK_GRAFT_ONLY=s08`)
  * with a StreamingQueryListener attached and dump every micro-batch's
  * progress JSON (durationMs breakdown: triggerExecution, addBatch,
  * walCommit, commitOffsets, queryPlanning, latestOffset) to stderr.
  * Same session as Bench so the numbers are comparable. Used to
  * attribute the streaming entries' per-trigger fixed cost (round-7
  * verdict item #1); not part of the driver contract.
  */
object ProfileStreaming {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val names = Harness.select(Harness.only.getOrElse(
      sys.error("SPARK_GRAFT_ONLY must name the entries to profile, e.g. s08")))
    val spark = Harness.session(32, "graft-profilestreaming")
    Harness.warmUp(spark, sfDir)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        System.err.println(s"[profile] started ${e.id}")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        System.err.println(s"[profile] batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs}")
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        System.err.println(s"[profile] terminated ${e.id}")
    })
    val passes = sys.env.getOrElse("SPARK_GRAFT_PROFILE_PASSES", "2").toInt
    names.foreach { name =>
      System.err.println(s"[profile] ===== $name =====")
      (1 to passes).foreach { i =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        System.err.println(f"[profile] $name pass $i total ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
