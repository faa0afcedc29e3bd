package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.CalendarInterval

/** Optimizer rule: rewrites a naive band-join predicate into the
  * bucketed equi-join shape of [[graft.operators.RangeJoin]].
  *
  * A user writing the natural form —
  * {{{
  *   l.join(r, keys && r("ts") >= l("ts") + expr("INTERVAL 1 SECOND")
  *                 && r("ts") <= l("ts") + expr("INTERVAL 10 MINUTES"))
  * }}}
  * — gets a plan Spark executes as a sort-merge join over whole key
  * groups (O(|group|²) filtering), or, with no equi-keys at all, a
  * broadcast nested loop. This rule detects the band conjuncts
  * `re ≥ le + lo` and `re ≤ le + hi` (timestamp + interval literal, or
  * numeric + numeric literal), buckets both sides by the band width
  * W = hi − lo, explodes the left side into the ≤ 2 buckets its band
  * overlaps, and adds `l_bucket = r_bucket` as an equi-join key. The
  * original band conjuncts stay in the join condition as the exact
  * refinement, so results are identical; only the join strategy changes
  * (hash/merge partitioned by bucket — never a nested loop).
  *
  * Scope guards: inner joins; deterministic band expressions; each side
  * of the band referencing exactly one join child; bails out if the plan
  * already carries the rewrite's marker attributes (the rule runs in a
  * fixed-point batch and must not re-fire on its own output). The rule
  * is always on in a session it is installed into ([[install]]).
  */
object BandJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  /** Add the rule to a live session's extra optimizations, once. */
  def install(spark: SparkSession): Unit = {
    val extra = spark.experimental.extraOptimizations
    if (!extra.contains(BandJoinRule)) {
      spark.experimental.extraOptimizations = extra :+ BandJoinRule
    }
  }

  /** Marker column names — shared with [[graft.operators.RangeJoin]],
    * whose already-bucketed joins rely on the re-fire guard below
    * recognizing these exact names (a silent rename on either side
    * would quietly re-introduce double bucketing).
    */
  private[graft] val LBucket = "_graft_l_bucket"
  private[graft] val RBucket = "_graft_r_bucket"
  private[graft] val LUs = "_graft_l_us"
  private[graft] val RUs = "_graft_r_us"

  /** (bandExpr, base, offsetMicrosOrUnits): re/le pair with a literal
    * offset, normalized from timestamp+interval or numeric+literal adds.
    */
  private def asBound(e: Expression): Option[(Expression, Expression, Long)] = e match {
    case Add(base, Literal(v: Long, LongType), _) => Some((e, base, v))
    case Add(base, Literal(v: Int, IntegerType), _) => Some((e, base, v.toLong))
    // CalendarInterval months AND days are calendar units — days add
    // calendar days in the EXPRESSION'S bound time zone (a DST
    // fall-back day is 25h), so a fixed 86400s conversion could
    // bucket-exclude rows the exact predicate accepts. Days convert
    // only when the expression itself is bound to UTC (checking the
    // session conf instead would race a conf change between analysis
    // and optimization); months never. Bounds use exact arithmetic —
    // a wrapped Long would bucket wrongly while the refinement keeps
    // the true band, silently dropping matches. DayTimeIntervalType
    // below is an ANSI duration (exact micros by definition) and
    // covers the common INTERVAL '…' SECOND/MINUTE/HOUR/DAY literals.
    case TimestampAddInterval(base, Literal(iv: CalendarInterval, CalendarIntervalType), tz)
        if iv.months == 0 && (iv.days == 0 || tz.contains("UTC")) =>
      try Some((e, base,
        Math.addExact(Math.multiplyExact(iv.days.toLong, 86400000000L), iv.microseconds)))
      catch { case _: ArithmeticException => None }
    case TimestampAddInterval(base, Literal(v: Long, _: DayTimeIntervalType), _) =>
      Some((e, base, v))
    case _ => None
  }

  /** The band pair from a conjunct list: re ≥ le + lo and re ≤ le + hi
    * over the same (re, le). Returns (re, le, lo, hi).
    */
  private def findBand(conjuncts: Seq[Expression]):
      Option[(Expression, Expression, Long, Long)] = {
    // normalize every comparison into (re, le, offset, isLower);
    // inclusive bounds only, both orientations of each comparison
    def norm(c: Expression): Option[(Expression, Expression, Long, Boolean)] = c match {
      case GreaterThanOrEqual(a, b) =>
        asBound(b).map { case (_, le, off) => (a, le, off, true) } // re >= le+lo
          .orElse(asBound(a).map { case (_, le, off) => (b, le, off, false) }) // le+hi >= re
      case LessThanOrEqual(a, b) =>
        asBound(b).map { case (_, le, off) => (a, le, off, false) } // re <= le+hi
          .orElse(asBound(a).map { case (_, le, off) => (b, le, off, true) }) // le+lo <= re
      case _ => None
    }
    val normed = conjuncts.map(c => c -> norm(c))
    val lowers = normed.collect { case (c, Some((re, le, off, true))) => (c, re, le, off) }
    val uppers = normed.collect { case (c, Some((re, le, off, false))) => (c, re, le, off) }
    (for {
      (_, reL, leL, lo) <- lowers
      (_, reU, leU, hi) <- uppers
      if reL.semanticEquals(reU) && leL.semanticEquals(leU) && hi > lo
    } yield (reL, leL, lo, hi)).headOption
  }

  private def toMicros(e: Expression): Option[Expression] = e.dataType match {
    case TimestampType => Some(UnixMicros(e))
    case LongType => Some(e)
    case IntegerType => Some(Cast(e, LongType))
    case _ => None
  }

  private def floorDiv(x: Expression, w: Long): Expression =
    Floor(Divide(Cast(x, DoubleType), Literal(w.toDouble)))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if !left.output.exists(_.name == LBucket) &&
            !right.output.exists(_.name == RBucket) =>
        rewrite(j, left, right, cond, hint).getOrElse(j)
    }

  private def rewrite(
      j: Join, left: LogicalPlan, right: LogicalPlan,
      cond: Expression, hint: JoinHint): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    for {
      (re, le, lo, hi) <- findBand(conjuncts)
      if re.deterministic && le.deterministic
      if re.references.subsetOf(right.outputSet) && le.references.subsetOf(left.outputSet)
      reUs <- toMicros(re)
      leUs <- toMicros(le)
    } yield {
      val w = hi - lo
      // left: project the band base, explode the <= 2 overlapped buckets
      val leAlias = Alias(leUs, LUs)()
      val lProj = Project(left.output :+ leAlias, left)
      val leAttr = leAlias.toAttribute
      // Sequence is TimeZoneAware — an optimizer-created instance must
      // carry the session zone or the plan turns unresolved
      val seq = Sequence(
        floorDiv(Add(leAttr, Literal(lo)), w),
        floorDiv(Add(leAttr, Literal(hi)), w),
        Some(Literal(1L))).withTimeZone(conf.sessionLocalTimeZone)
      val lBucketAttr = AttributeReference(LBucket, LongType, nullable = false)()
      val lGen = Generate(Explode(seq), unrequiredChildIndex = Nil, outer = false,
        qualifier = None, generatorOutput = Seq(lBucketAttr), child = lProj)
      // right: one bucket per row
      val rAlias = Alias(floorDiv(reUs, w), RBucket)()
      val rProj = Project(right.output :+ rAlias, right)
      // equi bucket key + the ORIGINAL condition as exact refinement
      val newCond = EqualTo(lBucketAttr, rAlias.toAttribute) +: conjuncts
      val newJoin = Join(lGen, rProj, Inner,
        Some(newCond.reduce(And)), hint)
      Project(j.output, newJoin)
    }
  }
}
