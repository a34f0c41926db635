package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkTestBase

class OffsetRangePlannerSpec extends SparkTestBase {

  private val off = col("_offset")

  // analysis target: a relation exposing _offset (+ a non-offset column)
  private lazy val rel = {
    val s0 = spark
    import s0.implicits._
    Seq((0L, "x")).toDF("_offset", "event_type")
  }

  private def plan(pred: Column) = OffsetRangePlanner.fromPredicate(rel, pred)

  /** Predicate AST that renders both to a Column and to a truth function —
    * extraction over offset-only predicates must be EXACT, so membership in
    * the planned ranges must equal predicate truth for every offset.
    */
  private sealed trait P { def column: Column; def holds(v: Long): Boolean }
  private case class Cmp(op: Int, c: Long) extends P {
    def column: Column = op match {
      case 0 => off > c; case 1 => off >= c; case 2 => off < c
      case 3 => off <= c; case _ => off === c
    }
    def holds(v: Long): Boolean = op match {
      case 0 => v > c; case 1 => v >= c; case 2 => v < c
      case 3 => v <= c; case _ => v == c
    }
  }
  private case class AndP(l: P, r: P) extends P {
    def column: Column = l.column && r.column
    def holds(v: Long): Boolean = l.holds(v) && r.holds(v)
  }
  private case class OrP(l: P, r: P) extends P {
    def column: Column = l.column || r.column
    def holds(v: Long): Boolean = l.holds(v) || r.holds(v)
  }

  private def genP(depth: Int): Gen[P] =
    if (depth == 0) Gen.zip(Gen.choose(0, 4), Gen.choose(0L, 60L)).map { case (o, c) => Cmp(o, c) }
    else Gen.frequency(
      2 -> genP(0),
      1 -> Gen.zip(genP(depth - 1), genP(depth - 1)).map { case (l, r) => AndP(l, r) },
      1 -> Gen.zip(genP(depth - 1), genP(depth - 1)).map { case (l, r) => OrP(l, r) })

  test("extracted ranges are exact for offset-only predicates (property)") {
    val prop = Prop.forAll(genP(3)) { p =>
      val ranges = plan(p.column)
      (0L to 70L).forall(v => ranges.exists(_.contains(v)) == p.holds(v))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("normalized ranges are disjoint and sorted (property)") {
    val prop = Prop.forAll(genP(3)) { p =>
      val rs = plan(p.column)
      rs.sliding(2).forall {
        case Seq(a, b) => a.end.exists(_ < b.start)
        case _ => true
      }
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }

  test("multi-range OR does not collapse or overlap (the reference's bug)") {
    // reference KafkaSplitManager.java:159-177 wrote overlapping slots for
    // multi-range domains; we must keep [0,10) and [20,30) distinct
    val rs = plan(off < 10 || (off >= 20 && off < 30))
    assert(rs == Seq(OffsetRange(0, Some(10)), OffsetRange(20, Some(30))))
  }

  test("unknown conjuncts widen conservatively; unknown disjuncts poison") {
    val other = col("event_type") === "click"
    // AND: offset bound survives, residual filter handles the rest
    assert(plan(off >= 5 && other)
      == Seq(OffsetRange(5, None)))
    // OR: cannot prune at all
    assert(plan(off >= 5 || other)
      == Seq(OffsetRange(0, None)))
  }

  test("exclusive-bound arithmetic matches the reference's ++ semantics") {
    assert(plan(off > 7) == Seq(OffsetRange(8, None)))
    assert(plan(off <= 7) == Seq(OffsetRange(0, Some(8))))
    assert(plan(off === 7) == Seq(OffsetRange(7, Some(8))))
    assert(plan(lit(7L) > off) == Seq(OffsetRange(0, Some(7))))
  }

  test("contradictory predicates prune to empty; Long.MaxValue bounds don't overflow") {
    assert(plan(off >= 10 && off < 5).isEmpty)
    assert(plan(off <= Long.MaxValue) == Seq(OffsetRange(0, None)))
    assert(plan(off > Long.MaxValue).isEmpty)
    assert(plan(off === Long.MaxValue) == Seq(OffsetRange(Long.MaxValue, None)))
  }

  test("negative bounds clamp or empty (offsets live in [0, MAX])") {
    assert(plan(off < -3).isEmpty)
    assert(plan(off <= -1).isEmpty)
    assert(plan(off === -1).isEmpty)
    assert(plan(lit(-3L) > off).isEmpty)
    assert(plan(off >= -5) == Seq(OffsetRange(0, None)))
    assert(plan(off > -5) == Seq(OffsetRange(0, None)))
  }

  test("narrowing casts are NOT unwrapped (would drop aliased offsets)") {
    // cast(_offset AS INT) = 5 also matches 2^32+5 etc. (ANSI off): pruning
    // to [5,6) would silently drop rows the residual filter keeps. Must
    // fall back to Full.
    assert(plan(off.cast("int") === 5) == Seq(OffsetRange(0, None)))
    assert(plan(off.cast("int") > 5) == Seq(OffsetRange(0, None)))
    assert(plan(off.cast("smallint") <= 5) == Seq(OffsetRange(0, None)))
    // value-preserving casts still prune
    assert(plan(off.cast("long") === 5) == Seq(OffsetRange(5, Some(6))))
    assert(plan(off.cast("decimal(20,0)") === 5) == Seq(OffsetRange(5, Some(6))))
    // and a narrowing cast ANDed with a real bound keeps only the real bound
    assert(plan(off.cast("int") === 5 && off >= 3) == Seq(OffsetRange(3, None)))
  }

  test("kafka offset JSON covers every partition") {
    val (s, e) = OffsetRangePlanner.kafkaOffsetJson("proj_events", 3, OffsetRange(10, Some(99)))
    assert(s == """{"proj_events":{"0":10,"1":10,"2":10}}""")
    assert(e == """{"proj_events":{"0":99,"1":99,"2":99}}""")
    val (_, open) = OffsetRangePlanner.kafkaOffsetJson("t", 1, OffsetRange(0, None))
    assert(open == "latest")
  }
}
