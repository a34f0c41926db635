package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical

import graft.catalog.SystemColumns

/** Half-open offset window `[start, end)`; `end = None` means "live latest",
  * mirroring the reference's unbounded-high ranges resolved against the
  * broker at plan time (`KafkaSplitManager.java:163-167`).
  */
final case class OffsetRange(start: Long, end: Option[Long]) {
  require(end.forall(_ >= start), s"invalid range [$start, $end)")
  def isEmpty: Boolean = end.contains(start)
  def intersect(o: OffsetRange): Option[OffsetRange] = {
    val s = math.max(start, o.start)
    val e = (end, o.end) match {
      case (Some(a), Some(b)) => Some(math.min(a, b))
      case (a, b) => a.orElse(b)
    }
    if (e.forall(_ > s)) Some(OffsetRange(s, e)) else None
  }
  def contains(off: Long): Boolean = off >= start && end.forall(off < _)
}

/** Offset-predicate pushdown (reference C3/O1, `KafkaSplitManager.java:93-106,
  * 152-178`): extract `_offset` bounds from a Catalyst predicate and turn
  * them into a *disjoint, sorted* set of `[start, end)` ranges that a log
  * source (Kafka batch read, or any offset-addressed scan) can prune with.
  *
  * Differences from the reference, on purpose:
  *  - multi-range predicates are handled correctly — the reference wrote
  *    overlapping array slots (`offsets[i]`/`offsets[i+1]` instead of `2*i`,
  *    `KafkaSplitManager.java:159-177`) and was only correct for a single
  *    range; we normalize/merge ranges instead (SURVEY.md §4 "known bugs").
  *  - extraction is *conservative*: an unrecognized conjunct is ignored
  *    (yielding a superset range — the residual filter still runs), and an
  *    unrecognized disjunct poisons the whole OR (full scan). This is the
  *    standard sound over-approximation the engine's TupleDomain gave the
  *    reference for free.
  */
object OffsetRangePlanner {

  val Full: Seq[OffsetRange] = Seq(OffsetRange(0L, None))

  /** Plan offset ranges for `pred` over `table` (any DataFrame exposing the
    * `_offset` column). The predicate is run through Catalyst analysis
    * first — Spark 4 `Column`s are lazy ColumnNode trees, and analysis also
    * resolves attribute references and inserts the casts that [[extract]]
    * unwraps.
    */
  def fromPredicate(table: DataFrame, pred: Column): Seq[OffsetRange] = {
    val analyzed = table.filter(pred).queryExecution.analyzed
    analyzed.collectFirst { case f: logical.Filter => f.condition } match {
      case Some(cond) => fromExpression(cond)
      case None => Full
    }
  }

  /** Pure extraction over an already-analyzed Catalyst predicate. */
  def fromExpression(e: Expression): Seq[OffsetRange] =
    normalize(extract(e))

  /** Exclusive-bound arithmetic matches the reference's `++` on non-EXACTLY
    * markers (`KafkaSplitManager.java:173-176`): `> v` ⇒ start v+1;
    * `<= v` ⇒ end v+1.
    */
  private def extract(e: Expression): Seq[OffsetRange] = e match {
    case And(l, r) => intersectAll(extract(l), extract(r))
    case Or(l, r) => extract(l) ++ extract(r)
    case GreaterThan(OffsetAttr(), Lit(v)) => above(v)
    case GreaterThanOrEqual(OffsetAttr(), Lit(v)) => from(v)
    case LessThan(OffsetAttr(), Lit(v)) => below(v)
    case LessThanOrEqual(OffsetAttr(), Lit(v)) => upTo(v)
    case EqualTo(OffsetAttr(), Lit(v)) => exactly(v)
    // mirrored comparisons (literal on the left)
    case GreaterThan(Lit(v), OffsetAttr()) => below(v)
    case GreaterThanOrEqual(Lit(v), OffsetAttr()) => upTo(v)
    case LessThan(Lit(v), OffsetAttr()) => above(v)
    case LessThanOrEqual(Lit(v), OffsetAttr()) => from(v)
    case EqualTo(Lit(v), OffsetAttr()) => exactly(v)
    case In(OffsetAttr(), vs) if vs.forall(Lit.unapply(_).isDefined) =>
      vs.flatMap(Lit.unapply).flatMap(exactly)
    case _ => Full // unknown conjunct: no pruning from this subtree
  }

  // Bound arithmetic, safe at both domain edges: offsets live in [0, MAX],
  // so `> MAX` / `< 0` / `= negative` are empty, `<= MAX` unbounded-high,
  // and negative lower bounds clamp to 0.
  private def above(v: Long): Seq[OffsetRange] =
    if (v == Long.MaxValue) Nil else from(v + 1) // v+1 safe: v < MAX
  private def from(v: Long): Seq[OffsetRange] =
    Seq(OffsetRange(math.max(0L, v), None))
  private def below(v: Long): Seq[OffsetRange] =
    if (v <= 0L) Nil else Seq(OffsetRange(0L, Some(v)))
  private def upTo(v: Long): Seq[OffsetRange] =
    if (v < 0L) Nil
    else if (v == Long.MaxValue) Seq(OffsetRange(0L, None))
    else Seq(OffsetRange(0L, Some(v + 1)))
  private def exactly(v: Long): Seq[OffsetRange] =
    if (v < 0L) Nil
    else if (v == Long.MaxValue) Seq(OffsetRange(v, None))
    else Seq(OffsetRange(v, Some(v + 1)))

  /** Casts that keep every long offset value intact. Narrowing casts (e.g.
    * `cast(_offset AS INT)`) are NOT unwrapped: `cast(_offset AS INT) = 5`
    * also matches offsets 2^32+5 etc. (ANSI off), so extracting [5,6) would
    * drop rows the residual filter keeps — the conjunct must instead fall
    * through to the `Full` over-approximation.
    */
  private def preservesLongValues(target: org.apache.spark.sql.types.DataType): Boolean =
    target match {
      case org.apache.spark.sql.types.LongType => true
      case d: org.apache.spark.sql.types.DecimalType => d.scale == 0 && d.precision >= 20
      case _ => false
    }

  private object OffsetAttr {
    def unapply(e: Expression): Boolean = e match {
      case a: Attribute => a.name == SystemColumns.Offset
      case Cast(c, t, _, _) if preservesLongValues(t) => unapply(c)
      case _ => false
    }
  }

  /** The literal side is EVALUATED, not structurally unwrapped: the folded
    * value is by definition the operand the comparison runs against, so even
    * a truncating cast chain on the literal is safe to use (its result is
    * what's compared). Non-integral results (fractional decimals, doubles)
    * are rejected — combined with the value-preserving guard on the
    * attribute side, every extracted bound is exact.
    */
  private object Lit {
    def unapply(e: Expression): Option[Long] =
      if (!e.foldable || !e.deterministic) None
      else try {
        e.eval(null) match {
          case v: Long => Some(v)
          case v: Int => Some(v.toLong)
          case v: Short => Some(v.toLong)
          case v: Byte => Some(v.toLong)
          case d: org.apache.spark.sql.types.Decimal =>
            val bd = d.toBigDecimal
            if (bd.isWhole && bd.isValidLong) Some(bd.toLongExact) else None
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The offsets in both `a` and `b`, range by range. */
  def intersectAll(a: Seq[OffsetRange], b: Seq[OffsetRange]): Seq[OffsetRange] =
    for { x <- a; y <- b; z <- x.intersect(y) } yield z

  /** Sort, clamp to [0, ∞), merge overlapping/adjacent → disjoint sorted. */
  def normalize(rs: Seq[OffsetRange]): Seq[OffsetRange] = {
    val clamped = rs
      .map(r => OffsetRange(math.max(0L, r.start), r.end.map(e => math.max(0L, e))))
      .filterNot(_.isEmpty)
      .sortBy(r => (r.start, r.end.getOrElse(Long.MaxValue)))
    clamped.foldLeft(Vector.empty[OffsetRange]) { (acc, r) =>
      acc.lastOption match {
        case Some(last) if last.end.forall(_ >= r.start) =>
          val merged = OffsetRange(last.start,
            (last.end, r.end) match {
              case (Some(a), Some(b)) => Some(math.max(a, b))
              case _ => None
            })
          acc.init :+ merged
        case _ => acc :+ r
      }
    }
  }

  /** `startingOffsets`/`endingOffsets` JSON for Spark's Kafka batch source,
    * for one pruned range across all partitions of a topic. Multi-range
    * windows read one raw scan per range.
    */
  def kafkaOffsetJson(topic: String, numPartitions: Int, range: OffsetRange): (String, String) = {
    def json(v: String): String =
      s"""{"$topic":{${(0 until numPartitions).map(p => s""""$p":$v""").mkString(",")}}}"""
    (json(range.start.toString), range.end.map(e => json(e.toString)).getOrElse("latest"))
  }
}
