package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}

import graft.plans.OffsetRangePlanner
import graft.sources.FakeKafka

/** One `log_scan` query: an `_offset` window of one or two half-open ranges
  * (per partition) and whether it also computes `count(DISTINCT user_id)`.
  */
final case class Query(ranges: Seq[(Long, Long)], distinct: Boolean) {
  def window: String = ranges.map { case (s, e) => s"(_offset >= $s AND _offset < $e)" }
    .mkString(" OR ")

  def sql(table: String): String = {
    val agg = if (distinct) ", count(DISTINCT user_id) AS u" else ""
    s"SELECT event_type, count(*) AS n$agg FROM $table WHERE $window GROUP BY event_type"
  }

  /** Messages in the window over every partition. */
  def msgs: Long = ranges.map { case (s, e) => e - s }.sum * Log.Partitions

  /** Closed form per event type: (count, distinct users). Every message has
    * its own user id, so the two agree; types absent from the window are
    * absent from the answer.
    */
  def expected: Map[String, (Long, Long)] =
    FakeKafka.EventTypes.zipWithIndex.map { case (t, k) =>
      val n = ranges.map { case (s, e) => Log.countOfType(s, e, k) }.sum * Log.Partitions
      t -> (n, n)
    }.filter(_._2._1 > 0).toMap
}

object LogScan {
  /** Offsets per partition: 2 partitions × 500 000 = 10^6 messages. */
  val Latest = 500000L
  val MinSpan = 1000L
  val BlockSize = 4
  val Table = "bench.proj.events"

  /** Radical inverse of `n` in base `b`: the van der Corput sequence, whose
    * first n points cover [0, 1) almost evenly for every n.
    */
  def radicalInverse(n: Long, b: Int): Double = {
    var (x, f, r) = (n, 1.0 / b, 0.0)
    while (x > 0) { r += f * (x % b); x /= b; f /= b }
    r
  }

  /** Query `k` of the seeded stream. Queries come in pairs, one plain and
    * one with `count(DISTINCT user_id)`; pair `m` has a log-uniform span
    * between [[MinSpan]] and [[Latest]] placed by a randomly shifted base-2
    * van der Corput point, and each member is a two-range OR for a quarter
    * of the pairs, placed by a shifted base-3 point. So every run's mix of
    * spans, projections and ORs is the same up to O(log n / n), and the
    * percentiles don't move with the seed; window starts are uniform.
    */
  def query(k: Long, shift: (Double, Double), rng: scala.util.Random): Query = {
    val m = k / 2
    val distinct = k % 2 == 1
    val (lo, hi) = (math.log(MinSpan.toDouble), math.log(Latest.toDouble))
    val pos = (radicalInverse(m, 2) + shift._1) % 1.0
    val span = math.exp(lo + pos * (hi - lo)).round.max(MinSpan).min(Latest)
    val orPos = (radicalInverse(m, 3) + shift._2 + (if (distinct) 0.5 else 0.0)) % 1.0
    Query(if (orPos < 0.25) twoRanges(rng, span) else oneRange(rng, span), distinct)
  }

  private def oneRange(rng: scala.util.Random, span: Long): Seq[(Long, Long)] = {
    val s = (rng.nextDouble() * (Latest - span + 1)).toLong
    Seq((s, s + span))
  }

  /** `span` offsets split into two disjoint ranges with a gap of at least 1. */
  private def twoRanges(rng: scala.util.Random, span: Long): Seq[(Long, Long)] = {
    val total = span.min(Latest - 1)
    val a = (total * (0.2 + 0.6 * rng.nextDouble())).toLong.max(1L).min(total - 1)
    val free = Latest - total - 1
    val Seq(x1, x2) = Seq.fill(2)((rng.nextDouble() * (free + 1)).toLong.min(free)).sorted
    val s2 = x1 + a + 1 + (x2 - x1)
    Seq((x1, x1 + a), (s2, s2 + total - a))
  }
}

final class LogScan(seed: Long) extends Workload {
  private val rng = new scala.util.Random(seed)
  private val shift = (rng.nextDouble(), rng.nextDouble())
  private var issued = 0L

  /** The next [[LogScan.BlockSize]] queries of the stream, in seeded order. */
  def block(): Seq[Query] = {
    val qs = (issued until issued + LogScan.BlockSize).map(LogScan.query(_, shift, rng))
    issued += LogScan.BlockSize
    rng.shuffle(qs)
  }

  override def prepare(spark: SparkSession, dir: Path): Unit =
    Log.catalog(spark, "bench", dir, Seq("events"), Map("latest" -> LogScan.Latest.toString))

  /** A narrow, a wide and a two-range window, then 7 more narrow windows,
    * each with both projections. The per-query planning and codegen paths
    * need many queries to reach JIT steady state, large windows only a few,
    * so most of the warm-up is cheap narrow queries; the [[Main.Setups]]
    * set-ups before timing run this 4 times.
    */
  override def warmup(spark: SparkSession): Unit = {
    val shapes = Seq(Seq((1000L, 3000L)), Seq((0L, 100000L)),
      Seq((10000L, 15000L), (300000L, 305000L)))
    val narrow = (1 to 7).map(i => Seq((i * 60000L, i * 60000L + i * 1000L)))
    for (ranges <- shapes ++ narrow; d <- Seq(false, true))
      run(spark, Query(ranges, d), traced = false)
  }

  override def measure(spark: SparkSession, seconds: Double, traced: Boolean,
                       minOps: Int): Ops =
    until(seconds, minOps)(() => block().map(run(spark, _, traced)).reduce(_ ++ _))

  private def run(spark: SparkSession, q: Query, traced: Boolean): Ops = {
    val t0 = System.nanoTime()
    val (ok, layers) =
      try {
        val df = spark.sql(q.sql(LogScan.Table))
        val t1 = System.nanoTime()
        if (traced) df.queryExecution.optimizedPlan
        val t2 = System.nanoTime()
        if (traced) df.queryExecution.executedPlan
        val t3 = System.nanoTime()
        val got = df.collect().map(r =>
          r.getString(0) -> (r.getLong(1), if (q.distinct) r.getLong(2) else r.getLong(1))).toMap
        val layers =
          if (!traced) Map.empty[String, Seq[Double]]
          else Map(
            "catalog.analyze_ms" -> Seq(ms(t0, t1)),
            "plans.optimize_ms" -> Seq(ms(t1, t2)),
            "plans.physical_ms" -> Seq(ms(t2, t3)))
        (got == q.expected, layers)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] query failed: ${q.sql(LogScan.Table)}: $e")
          (false, Map.empty[String, Seq[Double]])
      }
    val sec = (System.nanoTime() - t0) / 1e9
    if (!ok) System.err.println(s"[perfbench] wrong answer: ${q.sql(LogScan.Table)}")
    // the planner call is the benchmark's own, so it stays out of the timed query
    val planned = if (traced) Map("plans.ranges" -> Seq(ranges(spark, q).toDouble)) else Map.empty
    Ops(Vector(sec), q.msgs, if (ok) 0 else 1, layers ++ planned)
  }

  /** Ranges the offset planner extracts from the window, as the catalog's
    * filter pushdown asks it to.
    */
  private def ranges(spark: SparkSession, q: Query): Int =
    OffsetRangePlanner.fromPredicate(spark.range(1).select(col("id").as("_offset")),
      expr(q.window)).size
}
