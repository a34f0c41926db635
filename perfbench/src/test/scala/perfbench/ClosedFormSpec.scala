package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftEngine
import graft.sources.FakeKafka

/** The closed forms every benchmark answer is checked against, cross-checked
  * by brute force and against the engine itself on small windows.
  *
  *   cd perfbench && sbt test
  */
class ClosedFormSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = {
    val s = GraftEngine.localSession(2, "perfbench-spec")
    Log.catalog(s, "bench", Files.createTempDirectory("perfbench-spec"), Seq("events"),
      Map("latest" -> LogScan.Latest.toString))
    s
  }

  override def afterAll(): Unit = spark.stop()

  /** Enumerates the window message by message. */
  private def bruteForce(q: Query): Map[String, (Long, Long)] = {
    val msgs = for {
      (s, e) <- q.ranges; o <- s until e; p <- 0 until Log.Partitions
    } yield (FakeKafka.EventTypes((o % 4).toInt), FakeKafka.userIdFor(o, p, Log.Partitions))
    msgs.groupBy(_._1).map { case (t, ms) => t -> (ms.size.toLong, ms.map(_._2).distinct.size.toLong) }
  }

  private val small = Seq(
    Query(Seq((0L, 1L)), distinct = false),
    Query(Seq((3L, 10L)), distinct = true),
    Query(Seq((1001L, 1006L)), distinct = false),
    Query(Seq((17L, 120L), (200L, 203L)), distinct = true),
    Query(Seq((LogScan.Latest - 7, LogScan.Latest)), distinct = true))

  test("closed-form window answers equal brute-force enumeration") {
    small.foreach(q => assert(q.expected == bruteForce(q), q))
    assert(Query(Seq((8L, 9L)), distinct = false).expected == Map("click" -> (2L, 2L)))
  }

  test("the engine answers small windows with the closed form") {
    small.foreach { q =>
      val got = spark.sql(q.sql(LogScan.Table)).collect().map(r =>
        r.getString(0) -> (r.getLong(1), if (q.distinct) r.getLong(2) else r.getLong(1))).toMap
      assert(got == q.expected, q.sql(LogScan.Table))
    }
  }

  test("stream state closed form equals brute force") {
    val users = 250007L
    for (offset <- Seq(0L, 1L, 12345L, StreamIngest.Keys - 1L)) {
      val n = new Array[Long](StreamIngest.Keys)
      val s = new Array[Long](StreamIngest.Keys)
      for (u <- 0L until users) {
        val k = ((u + offset) % StreamIngest.Keys).toInt
        n(k) += 1; s(k) += u
      }
      for (k <- 0 until StreamIngest.Keys)
        assert(StreamIngest.expectedKey(k, users, offset) == (n(k), s(k)), (k, offset))
    }
  }

  test("a short stream drains to the closed-form state") {
    val wl = new StreamIngest(seed = 7, triggers = 3)
    wl.prepare(spark, Files.createTempDirectory("perfbench-stream"))
    val ops = wl.measure(spark, 0, traced = false, minOps = 1)
    assert(ops.attempted == 3 && ops.failed == 0)
    assert(ops.msgs == Log.Partitions * StreamIngest.PerTrigger * 3)
  }

  test("the query stream is seeded, in range, and keeps its mix") {
    def stream(seed: Long) = {
      val wl = new LogScan(seed)
      Seq.fill(100)(wl.block()).flatten
    }
    val qs = stream(5)
    assert(qs == stream(5) && qs != stream(6))
    qs.foreach { q =>
      assert(q.ranges.forall { case (s, e) => 0 <= s && s < e && e <= LogScan.Latest }, q)
      assert(q.ranges.sliding(2).forall {
        case Seq((_, e1), (s2, _)) => e1 < s2
        case _ => true
      }, q)
      val span = q.ranges.map { case (s, e) => e - s }.sum
      assert(span >= LogScan.MinSpan - 1 && span <= LogScan.Latest, q)
    }
    val ors = qs.count(_.ranges.size == 2).toDouble / qs.size
    assert(math.abs(ors - 0.25) < 0.02, ors)
    assert(qs.count(_.distinct) == qs.size / 2)
    val logSpans = qs.map(q => math.log(q.msgs / Log.Partitions.toDouble)).sorted
    val mid = (math.log(LogScan.MinSpan.toDouble) + math.log(LogScan.Latest.toDouble)) / 2
    assert(math.abs(logSpans(logSpans.size / 2) - mid) < 0.1, "log-uniform spans")
  }
}
