package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** What one measured loop saw: the wall time of every operation (a query or
  * a trigger), the in-window messages those operations delivered, how many
  * operations ran and how many failed or answered wrong, and — in a traced
  * loop — the samples of each per-layer metric the workload itself owns.
  */
final case class Ops(
    seconds: Vector[Double],
    msgs: Long,
    failed: Int,
    layers: Map[String, Seq[Double]] = Map.empty) {
  def attempted: Int = seconds.size
  def busy: Double = seconds.sum
  def ++(o: Ops): Ops = Ops(seconds ++ o.seconds, msgs + o.msgs, failed + o.failed,
    (layers.keySet ++ o.layers.keySet).map(k =>
      k -> (layers.getOrElse(k, Nil) ++ o.layers.getOrElse(k, Nil))).toMap)
}

object Ops {
  val Empty: Ops = Ops(Vector.empty, 0L, 0)
}

object Workload {
  /** Enough operations for a p90 with 10 samples beyond it. */
  val MinOps = 100
}

trait Workload {
  /** Catalog and metastore under `dir`; runs once per set-up. */
  def prepare(spark: SparkSession, dir: Path): Unit
  /** Fixed, seed-independent work that compiles and JITs the hot paths. */
  def warmup(spark: SparkSession): Unit
  /** Runs whole operation blocks until `seconds` have passed and at least
    * [[Workload.MinOps]] operations ran. With `traced`, each operation also
    * books its catalog and planning phases.
    */
  def measure(spark: SparkSession, seconds: Double, traced: Boolean,
              minOps: Int = Workload.MinOps): Ops

  protected def until(seconds: Double, minOps: Int)(block: () => Ops): Ops = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var acc = Ops.Empty
    do acc = acc ++ block() while (System.nanoTime() < deadline || acc.attempted < minOps)
    acc
  }

  protected def ms(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e6
}
