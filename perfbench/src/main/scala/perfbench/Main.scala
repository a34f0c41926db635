package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

import graft.GraftEngine

/** Benchmark JVM: sets the workload up several times on `local[<cores>]`,
  * measures it untraced and, with `--trace 1`, traced, then writes the raw
  * samples as JSON to `--out`. `run.py` turns them into the reported metrics.
  *
  * {{{
  * perfbench.Main --workload log_scan|stream_ingest --seed N --seconds S
  *                --trace 0|1 --work DIR --out FILE
  * }}}
  */
object Main {
  /** Set-ups per run. The first is cold (JVM start, first codegen, first
    * scans) and is reported apart as `cold_setup_s`; `setup_s` is the median
    * of the others, which are warm and alike.
    */
  val Setups = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val work = Paths.get(opts("work"))
    val workload: Workload = opts("workload") match {
      case "log_scan" => new LogScan(seed)
      case "stream_ingest" => new StreamIngest(seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up = session, catalog and metastore ready plus the warm-up
    var spark: SparkSession = null
    val setups = (0 until Setups).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = GraftEngine.localSession(cores, "perfbench")
      workload.prepare(spark, Files.createDirectories(work.resolve(s"setup$i")))
      workload.warmup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    // JVM start to the end of the first set-up
    val coldSetup = ManagementFactory.getRuntimeMXBean.getUptime / 1e3 - setups.tail.sum

    val untraced = workload.measure(spark, seconds, traced = false)
    val out = Map[String, Any](
      "cores" -> cores,
      "cold_setup_s" -> coldSetup,
      "setup_s" -> setups.tail,
      "untraced" -> opsJson(untraced)) ++
      (if (!traced) Map.empty else {
        val t0 = System.nanoTime()
        val (ops, trace) = Trace.around(spark) {
          val attach = (System.nanoTime() - t0) / 1e9
          (workload.measure(spark, seconds, traced = true), attach)
        }
        val (tracedOps, attach) = ops
        val layers = tracedOps.layers ++ execLayers(trace, tracedOps, cores) ++
          Probes.run(spark) ++ streamingProbe(spark, workload, seed, work)
        Map("traced" -> (opsJson(tracedOps) + ("attach_s" -> attach)), "layers" -> layers)
      })
    spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(opts("out")), out)
  }

  private def opsJson(o: Ops): Map[String, Any] =
    Map("op_s" -> o.seconds, "msgs" -> o.msgs, "failed" -> o.failed)

  /** Listener totals per operation (a query or a trigger). */
  private def execLayers(t: Trace, ops: Ops, cores: Int): Map[String, Seq[Double]] = {
    val n = ops.attempted.toDouble
    Map(
      "exec.jobs" -> t.jobs / n,
      "exec.stages" -> t.stages / n,
      "exec.tasks" -> t.tasks / n,
      "exec.task_busy_ms" -> t.busyMs / n,
      "exec.task_cpu_ms" -> t.cpuNs / 1e6 / n,
      "exec.task_wait_ms" -> t.waitMs / n,
      "exec.gc_ms" -> t.gcMs / n,
      "exec.shuffle_write_bytes" -> t.shuffleWrite / n,
      "exec.shuffle_read_bytes" -> t.shuffleRead / n,
      "exec.spill_bytes" -> t.spill / n,
      "exec.peak_exec_mem_bytes" -> t.peakMem.toDouble,
      "exec.core_util" -> t.busyMs / 1e3 / (ops.busy * cores),
      "plans.read_amplification" -> t.recordsRead.toDouble / ops.msgs,
    ).map { case (k, v) => k -> Seq(v) } +
      ("sources.splits" -> t.scanStageTasks.map(_.toDouble).toSeq)
  }

  /** `log_scan` never streams, so its traced run books the streaming layer
    * on one short catch-up stream of the `stream_ingest` shape.
    */
  private def streamingProbe(spark: SparkSession, workload: Workload, seed: Long,
                             work: Path): Map[String, Seq[Double]] = workload match {
    case _: StreamIngest => Map.empty
    case _ =>
      val probe = new StreamIngest(seed, triggers = 10)
      probe.prepare(spark, Files.createDirectories(work.resolve("stream_probe")))
      probe.measure(spark, 0, traced = true, minOps = 1).layers.filter(_._1.startsWith("streaming."))
  }
}
