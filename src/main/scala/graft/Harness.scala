package graft

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.state.GraftStateStoreHygiene

import graft.util.{Cleanup, Scratch}

/** What the project's mains share: the session, the fixture directory, the
  * fixture warm-up, registry-entry selection and the entry loop. Each is
  * defined once here, so a gate, the bench and the diagnostics run the
  * same plans under the same conf.
  *
  * Environment:
  *   - `SPARK_GRAFT_CPUS`: cores of the local session (default per main);
  *   - `SPARK_GRAFT_SF_DIR`: fixture directory (default: the sf0.1 fixtures);
  *   - `SPARK_GRAFT_ONLY`: comma-separated registry-name prefixes, e.g.
  *     `p04,q44`, selecting a diagnostic subset.
  */
object Harness {

  /** [[GraftEngine.localSession]] on `SPARK_GRAFT_CPUS` cores (else
    * `defaultCores`), with [[streaming.StreamMetricsListener]] attached when
    * `SPARK_GRAFT_STREAM_METRICS` names a capture file.
    */
  def session(defaultCores: Int, appName: String): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCores)(_.toInt)
    val spark = GraftEngine.localSession(cores, appName)
    streaming.StreamMetricsListener.attachIfConfigured(spark)
    spark
  }

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** One action per fixture table, so first-entry costs are not file
    * listing, Janino or JIT warm-up. */
  def warmUp(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach(n => Tables.load(spark, dir, n).count())

  /** `SPARK_GRAFT_ONLY`, when set. */
  def only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")

  /** The registry names a main runs: `SPARK_GRAFT_ONLY`'s selection, else all. */
  def entries: Seq[String] = only.fold(SparkEntry.queries.keys.toSeq.sorted)(select)

  /** The sorted registry names starting with any of the comma-separated
    * prefixes in `selector`. A prefix that matches no entry throws: a typo
    * must not pass as an empty run. */
  def select(selector: String): Seq[String] = {
    val prefixes = selector.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val names = SparkEntry.queries.keys.toSeq.sorted
    val unmatched = prefixes.filterNot(p => names.exists(_.startsWith(p)))
    require(prefixes.nonEmpty && unmatched.isEmpty,
      s"entry selector '$selector' matches no registry entry" +
        (if (unmatched.isEmpty) "" else s" for ${unmatched.mkString(", ")}"))
    names.filter(n => prefixes.exists(n.startsWith))
  }

  /** Runs `run` on each of `names` in order and returns its seconds per
    * entry, or None where it threw (logged to stderr as `[tag] <name>
    * failed:`). Between entries, outside the timed region, it releases
    * what one entry leaves behind in the shared JVM:
    *   - at each family boundary (the first letter: all p-entries, whose
    *     shared intermediates persist MEMORY_AND_DISK and localCheckpoint
    *     blocks, sort before q and s) and at the end, [[reset]];
    *   - after each s-entry, the checkpoint blocks of its returned frame
    *     (nothing shares them) and its stream residue.
    * Unreleased, this residue slowed later, unchanged entries 3-10x in one
    * full-registry run. No result depends on it: every shared
    * intermediate rebuilds on demand.
    */
  def runEntries(spark: SparkSession, names: Seq[String], tag: String)(
      run: String => DataFrame): Seq[(String, Option[Double])] = {
    val start = System.nanoTime()
    def log(msg: String): Unit =
      System.err.println(f"[$tag] +${(System.nanoTime() - start) / 1e9}%.1fs $msg")
    var family = 0.toChar
    val results = names.map { name =>
      if (name.head != family) {
        if (family != 0.toChar) reset(spark, s"family $family->${name.head}", log)
        family = name.head
      }
      val t0 = System.nanoTime()
      val df =
        try Some(run(name))
        catch { case e: Throwable =>
          System.err.println(s"[$tag] $name failed: ${e.getMessage}"); None
        }
      val sec = (System.nanoTime() - t0) / 1e9
      log(f"$name $sec%.3fs")
      if (name.head == 's') {
        df.foreach(d => Cleanup.quietly(operators.Dedup.releaseCheckpoints(d)))
        releaseStreams(spark)
      }
      name -> df.map(_ => sec)
    }
    reset(spark, "pass end", log)
    results
  }

  /** Terminated streaming queries (each holds its last micro-batch) and the
    * state store providers loaded for them. */
  private def releaseStreams(spark: SparkSession): Unit = {
    Cleanup.quietly(spark.streams.resetTerminated())
    Cleanup.quietlyAny(GraftStateStoreHygiene.unloadAll())
  }

  /** Drops the shared intermediates and anything else still cached or
    * persisted ([[QueriesPipeline.releaseShared]]; no plan is reused across
    * families) and stream residue, then drives ContextCleaner with a GC now
    * instead of inside a later entry's timed region. The logged
    * `pinnedRdds` is the number of RDDs still persisted after the release,
    * `scratchMB` the disk the JVM's staged intermediates still hold
    * ([[Scratch.bytes]]), and `swallowed` the JVM's count of release
    * failures so far ([[Cleanup.swallowed]]). */
  private def reset(spark: SparkSession, what: String, log: String => Unit): Unit = {
    QueriesPipeline.releaseShared(spark)
    releaseStreams(spark)
    System.gc()
    var (gcN, gcMs) = (0L, 0L)
    ManagementFactory.getGarbageCollectorMXBeans.forEach { b =>
      gcN += math.max(0L, b.getCollectionCount)
      gcMs += math.max(0L, b.getCollectionTime)
    }
    val rt = Runtime.getRuntime
    val usedMb = (rt.totalMemory - rt.freeMemory) / (1024 * 1024)
    log(f"reset $what heapMB=$usedMb gcN=$gcN gcSec=${gcMs / 1000.0}%.1f " +
      s"pinnedRdds=${spark.sparkContext.getPersistentRDDs.size} " +
      f"scratchMB=${Scratch.bytes / 1048576.0}%.1f swallowed=${Cleanup.swallowed}")
  }
}
