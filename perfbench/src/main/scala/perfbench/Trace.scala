package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Executor-side totals for the `exec` layer, gathered by a plain
  * `SparkListener` while the traced loop runs. Nothing inside the engine is
  * instrumented: every number is one Spark already reports per task.
  */
final class Trace extends SparkListener {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var busyMs = 0L
  var cpuNs = 0L
  var waitMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakMem = 0L
  var recordsRead = 0L
  /** Task count of every stage that read from a source (a scan stage). */
  val scanStageTasks = mutable.ArrayBuffer.empty[Int]
  private val stageRecords = mutable.Map.empty[(Int, Int), Long]
  private val untracedStages = mutable.Set.empty[Int]
  private val untracedJobs = mutable.Map.empty[Int, String]
  private val untracedDone = mutable.Set.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.GroupKey))) match {
      case Some(g) if g.startsWith(Trace.UntracedPrefix) =>
        untracedJobs(e.jobId) = g
        untracedStages ++= e.stageIds
      case _ => jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    untracedJobs.remove(e.jobId).foreach(untracedDone += _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && !untracedStages.contains(e.stageId)) {
      tasks += 1
      busyMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      // Spark UI's scheduler delay: launch-to-finish time not spent running,
      // deserializing or shipping the result
      val delay = math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
      waitMs += delay + m.executorDeserializeTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      val read = m.inputMetrics.recordsRead
      recordsRead += read
      val key = (e.stageId, e.stageAttemptId)
      stageRecords(key) = stageRecords.getOrElse(key, 0L) + read
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val read = stageRecords.remove((info.stageId, info.attemptNumber())).getOrElse(0L)
    if (!untracedStages.contains(info.stageId)) {
      stages += 1
      if (read > 0) scanStageTasks += info.numTasks
    }
  }

  /** Blocks until every event posted before this call has reached the
    * listener. The listener bus is asynchronous but delivers in order, so
    * once a marker job's end arrives, so has everything before it.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val id = Trace.untraced(spark)(group => { sc.parallelize(Seq(1), 1).count(); group })
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!synchronized(untracedDone.contains(id))) {
      require(System.nanoTime() < deadline, "listener bus did not drain")
      Thread.sleep(2)
    }
  }
}

object Trace {
  val GroupKey = "spark.jobGroup.id"
  val UntracedPrefix = "perfbench-untraced-"

  /** Runs the benchmark's own bookkeeping jobs (answer checks, the drain
    * marker) in a job group the listener leaves out of every total.
    */
  def untraced[T](spark: SparkSession)(body: String => T): T = {
    val sc = spark.sparkContext
    val group = s"$UntracedPrefix${System.nanoTime()}"
    sc.setJobGroup(group, group)
    try body(group) finally sc.clearJobGroup()
  }

  /** Runs `body` with a fresh listener attached; returns the drained totals. */
  def around[T](spark: SparkSession)(body: => T): (T, Trace) = {
    val t = new Trace
    spark.sparkContext.addSparkListener(t)
    try {
      val out = body
      t.drain(spark)
      (out, t)
    } finally spark.sparkContext.removeSparkListener(t)
  }
}
