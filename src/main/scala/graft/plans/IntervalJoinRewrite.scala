package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Max}
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Automatic large×large range-join rewrite (SURVEY §4.1).
  *
  * A user writing the reference's hottest join shape directly —
  * `samples.join(profiles, $"t" >= $"start" && $"t" <= $"end")`
  * (ref qaqc/dashboard.py:1438-1441, qaqc/calculate.py:145-191) — gets a
  * BroadcastNestedLoopJoin from vanilla Spark, and when BOTH sides are
  * above the broadcast threshold that plan is a scale-killer: one side is
  * collected and every executor scans the full cross space. This rule
  * detects that shape in the optimizer and rewrites it through the same
  * bucketing [[graft.operators.TemporalJoins.bucketizedIntervalJoin]]
  * performs explicitly: the interval side explodes each `[lo, hi]` into
  * the fixed-width time buckets it covers, the point side computes its
  * bucket, and the join becomes a shuffle-capable EQUI-join on the bucket
  * key with the original predicate re-applied exactly as a post-filter.
  *
  * Covered join types — Inner, LeftOuter, RightOuter, FullOuter,
  * LeftSemi, LeftAnti (the reference's overlap shapes also appear as outer/anti
  * compositions: open-ended annotation windows ref qaqc/dashboard.py:324-338,
  * reconciliation anti-joins ref qaqc/plots.py:500). RightOuter is
  * commuted to LeftOuter first. The rewrite shape depends on which side
  * is PRESERVED relative to which side holds the point:
  *
  *  - '''Point side preserved''' (LeftOuter/LeftSemi/LeftAnti with `t` on
  *    the left, and Inner either way): the direct bucketed join is already
  *    exact — a point falls in exactly ONE bucket, so each matched
  *    (point, interval) pair survives the bucket equi-join exactly once,
  *    and outer/semi/anti semantics over the exploded interval side equal
  *    the theta semantics (an interval row with null/inverted bounds
  *    explodes to nothing, and can never theta-match either). No dedup.
  *  - '''Interval side preserved''' (LeftOuter/LeftSemi/LeftAnti with `t`
  *    on the right): the explode duplicates preserved rows, so each gets
  *    a one-shot `monotonically_increasing_id` BEFORE the explode and the
  *    rewrite re-collapses on it — semi as the bucketed inner join plus a
  *    group-by-rowid dedup; anti as an outer-explode + left-outer bucketed
  *    join + per-rowid `max(matched) = 0` aggregate; outer as the same
  *    left-outer join + a per-rowid window `any-match` flag that keeps
  *    matched rows and exactly one null-extended row for matchless rowids.
  *    All three are SINGLE-branch plans: the nondeterministic rowid is
  *    evaluated once per query, never joined against a second evaluation
  *    of itself (a two-branch matched ∪ unmatched union would re-run the
  *    id assignment with no order guarantee after a shuffle).
  *    Interval-preserved rows with null/inverted bounds are kept by anti
  *    and null-extended by outer via `Generate(..., outer = true)` — the
  *    explode emits one null-bucket row instead of dropping them, matching
  *    the theta join, where such a row matches nothing but is preserved.
  *
  * Eligibility (conservative — anything else is left to Spark's planner):
  *  - one of the join types above, no join hints, deterministic condition;
  *  - the conjunction contains a lower and an upper bound tying ONE
  *    point expression `t` (from one side) to two bound expressions from
  *    the other side — `>=`/`>` and `<=`/`<` in either operand order;
  *  - NO cross-side equality conjunct: with an equi-key Spark already
  *    plans a shuffle join on it. A low-cardinality key (per-site
  *    series), where that join degenerates to a per-key cross product,
  *    takes the explicit `TemporalJoins.bucketizedIntervalJoin(extraKeys
  *    = …)`, which appends the bucket to the key;
  *  - both sides' size estimates exceed the broadcast threshold (below
  *    it, the nested-loop join over a broadcast build side is the better
  *    plan and `TemporalJoins.intervalJoin` uses it deliberately);
  *  - `t`/`lo`/`hi` are timestamps (TZ or NTZ) or integral epochs.
  *
  * The rewritten join carries the bucket equality AND the original
  * condition, so correctness never depends on the bucketing (buckets
  * merely cover the range; the exact predicate prunes). The rewrite
  * is self-stabilizing in the fixed-point optimizer batch: its own output
  * joins (and `bucketizedIntervalJoin`'s) contain a cross-side equality,
  * which fails eligibility.
  *
  * Buckets are [[BucketSeconds]] (one day) wide: the explode factor per
  * interval row is `⌈span/width⌉ + 1`. A row that would produce more than
  * [[MaxBucketsPerRow]] buckets (~274 years at day buckets, far beyond
  * any real validity interval but ~1000× under the sentinel-bound
  * pathology) fails fast instead of silently materializing millions of
  * bucket rows per input row. An open-ended interval encoded as
  * `hi = 9999-12-31` needs Spark's own plan (any join hint, e.g.
  * `broadcast`, makes the rule decline) or an explicit
  * `bucketizedIntervalJoin` with a coarser `bucketSeconds`; the error
  * names both, and the choice is the user's.
  */
object IntervalJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Bucket width in seconds: ≳ the median validity interval. */
  val BucketSeconds = 86400L
  /** Explode cap: the most buckets one interval row may cover. */
  val MaxBucketsPerRow = 100000L

  private def supportedType(jt: JoinType): Boolean = jt match {
    case Inner | LeftOuter | RightOuter | LeftSemi | LeftAnti | FullOuter => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(_, _, jt, Some(cond), hint)
        if hint == JoinHint.NONE && cond.deterministic && supportedType(jt) =>
      rewrite(j).getOrElse(j)
  }

  /** Seconds-scale monotone image of a time-like expression, or None for
    * unsupported types. Monotonicity is all bucketing needs; both sides
    * go through the same mapping, so the bucket cover stays exact.
    */
  private def secondsOf(e: Expression): Option[Expression] = e.dataType match {
    case TimestampType => Some(UnixSeconds(e))
    // NTZ→TZ cast is monotone; applied to all three expressions alike
    case TimestampNTZType =>
      Some(UnixSeconds(Cast(e, TimestampType, Some(conf.sessionLocalTimeZone))))
    case LongType => Some(e)
    case IntegerType => Some(Cast(e, LongType))
    case _ => None
  }

  private def bucketOf(e: Expression): Option[Expression] =
    // integral div truncates toward zero — monotone non-decreasing, which
    // is the only property the cover needs (matches lo ≤ t ≤ hi ⇒
    // bucket(lo) ≤ bucket(t) ≤ bucket(hi))
    secondsOf(e).map(s => new IntegralDivide(s, Literal(BucketSeconds)))

  /** One range bound extracted from a conjunct: `t` lives entirely on one
    * side of the join, `bound` entirely on the other.
    */
  private case class RangeBound(t: Expression, tOnLeft: Boolean, bound: Expression)

  private def rewrite(j: Join): Option[LogicalPlan] = j.joinType match {
    case RightOuter =>
      // commute to LeftOuter so every preserved-side case below is "left";
      // a final Project restores the original column order
      val commuted =
        Join(j.right, j.left, LeftOuter, j.condition, JoinHint.NONE)
      rewriteNormalized(commuted).map(p => Project(j.output, p))
    case _ => rewriteNormalized(j)
  }

  private def rewriteNormalized(j: Join): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(j.condition.get)

    // which side an expression's references live on, if exactly one
    def sideOf(e: Expression): Option[Boolean] = {
      val refs = e.references
      if (refs.isEmpty) None
      else if (refs.subsetOf(j.left.outputSet)) Some(true)
      else if (refs.subsetOf(j.right.outputSet)) Some(false)
      else None
    }
    def crossSide(a: Expression, b: Expression): Boolean =
      (sideOf(a), sideOf(b)) match {
        case (Some(x), Some(y)) => x != y
        case _ => false
      }

    // with an equi-key Spark already plans a shuffle join on it; the
    // rewrite's own output carries its bucket equality, so this is also
    // what keeps the rule from re-bucketing a join it produced
    val hasEquiKey = conjuncts.exists {
      case EqualTo(a, b) => crossSide(a, b)
      case EqualNullSafe(a, b) => crossSide(a, b)
      case _ => false
    }
    if (hasEquiKey) return None

    val threshold = conf.autoBroadcastJoinThreshold
    def big(p: LogicalPlan): Boolean =
      threshold < 0 || p.stats.sizeInBytes > threshold
    if (!big(j.left) || !big(j.right)) return None

    // each comparison yields BOTH readings (a bounded by b / b bounded
    // by a); a (lower, upper) pair on the same t from the same side is a
    // range join
    val lowers = scala.collection.mutable.ArrayBuffer.empty[RangeBound]
    val uppers = scala.collection.mutable.ArrayBuffer.empty[RangeBound]
    def record(lo: Expression, hi: Expression): Unit =
      if (crossSide(lo, hi)) {
        // lo ≤ hi: hi is lower-bounded by lo, lo is upper-bounded by hi
        lowers += RangeBound(hi, sideOf(hi).get, lo)
        uppers += RangeBound(lo, sideOf(lo).get, hi)
      }
    conjuncts.foreach {
      case GreaterThanOrEqual(a, b) => record(b, a)
      case GreaterThan(a, b) => record(b, a)
      case LessThanOrEqual(a, b) => record(a, b)
      case LessThan(a, b) => record(a, b)
      case _ =>
    }

    val pair = (for {
      l <- lowers
      u <- uppers
      if l.tOnLeft == u.tOnLeft && l.t.semanticEquals(u.t)
    } yield (l, u)).headOption

    pair.flatMap { case (lo, hi) =>
      (bucketOf(lo.t), bucketOf(lo.bound), bucketOf(hi.bound)) match {
        case (Some(tB), Some(loB), Some(hiB)) =>
          build(j, factOnLeft = lo.tOnLeft, tB, loB, hiB)
        case _ => None
      }
    }
  }

  /** The `[loB, hiB]` bucket-cover array for one interval row: empty for
    * inverted bounds (matches the theta join, which such a row can never
    * satisfy — rather than Sequence's default descending walk), null for
    * null bounds, a clear fail-fast error past the explode cap.
    */
  private def bucketCover(loB: Expression, hiB: Expression): Expression = {
    // Sequence is TimeZoneAwareExpression: without an explicit zone
    // it reports unresolved even over longs, and the optimizer's
    // plan validator rejects the rewrite. Step pinned to 1: without
    // it Sequence walks DESCENDING when lo > hi.
    val arrTy = ArrayType(LongType, containsNull = false)
    val seqExpr = Sequence(loB, hiB, Some(Literal(1L)),
      Some(conf.sessionLocalTimeZone))
    val emptyBuckets = Literal.create(
      org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(Array.empty[Long]), arrTy)
    val tooWide = Cast(new RaiseError(Literal(
      s"interval-join rewrite: an interval spans more than $MaxBucketsPerRow " +
        s"buckets of $BucketSeconds s; add a join hint (e.g. broadcast) to " +
        "keep Spark's plan, or join through " +
        "TemporalJoins.bucketizedIntervalJoin with a coarser bucketSeconds")), arrTy)
    // bucket count is hiB − loB + 1, so ≥ cap on the difference enforces
    // count ≤ cap exactly (a strict > would let a cap+1-bucket row slip)
    If(LessThan(hiB, loB), emptyBuckets,
      If(GreaterThanOrEqual(Subtract(hiB, loB), Literal(MaxBucketsPerRow)),
        tooWide, seqExpr))
  }

  private def freshRowId(name: String): Alias =
    Alias(MonotonicallyIncreasingID(), name)()

  /** The interval-preserved rewrites re-collapse explode duplicates with
    * an Aggregate grouped on the one-shot rowid(s) ALONE; every original
    * output column is functionally dependent on the rowid(s) (all copies
    * of a preserved row carry identical values), so each is reconstructed
    * as `first(col)` — the same shape Spark's own
    * `ReplaceDeduplicateWithAggregate` emits, with the alias pinned to the
    * original exprId so parent references stay resolved. Narrow long keys
    * mean the aggregate hashes/compares 8–16 bytes per row instead of the
    * full (possibly wide) schema, and map-typed outputs — not groupable,
    * but fine as `first` results — no longer force the BNLJ fallback.
    */
  private def firstOf(attrs: Seq[Attribute]): Seq[NamedExpression] =
    attrs.map { a =>
      Alias(new aggregate.First(a).toAggregateExpression(), a.name)(
        exprId = a.exprId, qualifier = a.qualifier)
    }

  private def build(
      j: Join,
      factOnLeft: Boolean,
      tB: Expression,
      loB: Expression,
      hiB: Expression): Option[LogicalPlan] = {
    val (factSide, intervalSide) =
      if (factOnLeft) (j.left, j.right) else (j.right, j.left)
    val bucketAlias = Alias(tB, "__graft_bucket")()
    val factWithBucket = Project(factSide.output :+ bucketAlias, factSide)
    val buckets = bucketCover(loB, hiB)
    val cond = j.condition.get

    def explodedInterval(outer: Boolean, child: LogicalPlan): (LogicalPlan, Attribute) = {
      val genAttr = AttributeReference(
        "__graft_bucket_i", LongType, nullable = outer)()
      (Generate(Explode(buckets), unrequiredChildIndex = Nil, outer = outer,
        qualifier = None, generatorOutput = Seq(genAttr), child = child), genAttr)
    }

    j.joinType match {
      // ---- point side preserved (or inner): the direct rewrite is exact
      case Inner | LeftOuter | LeftSemi | LeftAnti if factOnLeft || j.joinType == Inner =>
        val (exploded, genAttr) = explodedInterval(outer = false, intervalSide)
        val newCond = And(EqualTo(bucketAlias.toAttribute, genAttr), cond)
        val (newLeft, newRight) =
          if (factOnLeft) (factWithBucket, exploded)
          else (exploded: LogicalPlan, factWithBucket: LogicalPlan)
        Some(Project(j.output,
          Join(newLeft, newRight, j.joinType, Some(newCond), JoinHint.NONE)))

      // ---- interval side preserved: rowid before the explode, collapse after
      case LeftSemi =>
        // bucketed inner + distinct-on-rowid: an interval spanning many
        // buckets matches once per (bucket, point) pair; grouping on the
        // one-shot rowid alone (outputs reconstructed via [[firstOf]])
        // restores ≤1 row per input
        val rowId = freshRowId("__graft_rowid")
        val withId = Project(intervalSide.output :+ rowId, intervalSide)
        val (exploded, genAttr) = explodedInterval(outer = false, withId)
        val newCond = And(EqualTo(genAttr, bucketAlias.toAttribute), cond)
        val inner =
          Join(exploded, factWithBucket, Inner, Some(newCond), JoinHint.NONE)
        val dedup = Aggregate(
          Seq(rowId.toAttribute), firstOf(intervalSide.output), inner)
        Some(Project(j.output, dedup))

      case LeftAnti =>
        // outer-explode (null/inverted-bound rows survive as one
        // null-bucket row, as the theta anti keeps them) + left-outer
        // bucketed join + keep rowids where max(matched) = 0
        val rowId = freshRowId("__graft_rowid")
        val withId = Project(intervalSide.output :+ rowId, intervalSide)
        val (exploded, genAttr) = explodedInterval(outer = true, withId)
        val newCond = And(EqualTo(genAttr, bucketAlias.toAttribute), cond)
        val louter =
          Join(exploded, factWithBucket, LeftOuter, Some(newCond), JoinHint.NONE)
        // the fact bucket is non-null on every matched row (the bucket
        // equality can only hold between non-nulls) and null on every
        // null-extended one, so it doubles as the match flag
        val matched = If(IsNotNull(bucketAlias.toAttribute), Literal(1L), Literal(0L))
        val anyMatch = Alias(
          AggregateExpression(Max(matched), Complete, isDistinct = false),
          "__graft_any")()
        val agg = Aggregate(Seq(rowId.toAttribute),
          firstOf(intervalSide.output) :+ anyMatch, louter)
        val kept = Filter(EqualTo(anyMatch.toAttribute, Literal(0L)), agg)
        Some(Project(j.output, kept))

      case LeftOuter =>
        // same left-outer bucketed join; a per-rowid window any-match flag
        // keeps matched rows and exactly one null-extended row for
        // matchless rowids. The fact side gets its own rowid so identical
        // fact duplicates stay distinct through the final dedup aggregate
        // (which only collapses the k null-extended copies an interval
        // spanning k unmatched buckets produces).
        val rowId = freshRowId("__graft_rowid")
        val withId = Project(intervalSide.output :+ rowId, intervalSide)
        val (exploded, genAttr) = explodedInterval(outer = true, withId)
        val factRowId = freshRowId("__graft_rowid_r")
        val factB =
          Project(factSide.output :+ bucketAlias :+ factRowId, factSide)
        val newCond = And(EqualTo(genAttr, bucketAlias.toAttribute), cond)
        val louter = Join(exploded, factB, LeftOuter, Some(newCond), JoinHint.NONE)
        val mAlias = Alias(
          If(IsNotNull(bucketAlias.toAttribute), Literal(1L), Literal(0L)),
          "__graft_m")()
        val flagged = Project(louter.output :+ mAlias, louter)
        val frame = SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing)
        val anyAlias = Alias(
          WindowExpression(
            AggregateExpression(Max(mAlias.toAttribute), Complete, isDistinct = false),
            WindowSpecDefinition(Seq(rowId.toAttribute), Nil, frame)),
          "__graft_any")()
        val windowed = Window(Seq(anyAlias), Seq(rowId.toAttribute), Nil, flagged)
        val kept = Filter(
          Or(EqualTo(mAlias.toAttribute, Literal(1L)),
            EqualTo(anyAlias.toAttribute, Literal(0L))), windowed)
        // group by the rowid pair alone ([[firstOf]] reconstructs the
        // outputs — all functionally dependent on the pair); the window
        // and this aggregate share the rowid clustering, so no second
        // shuffle is planned between them
        val dedup = Aggregate(
          Seq(rowId.toAttribute, factRowId.toAttribute), firstOf(j.output), kept)
        Some(dedup)

      case FullOuter =>
        // both sides preserved: explode the interval side on a one-shot
        // rowid, full-outer bucketed join, then collapse interval-side
        // explode duplicates exactly as the LeftOuter case — with one
        // twist: unmatched FACT rows surface with a NULL rowid, and a
        // window partitioned on the bare rowid would funnel every one of
        // them (the common case at scale) into a single null partition.
        // Each fact row carries its own id, so the partition key is
        // coalesce(rowid, −factRowId − 1): real intervals keep their
        // (non-negative) rowid, each unmatched fact row becomes its own
        // single-row partition (strictly negative — the id spaces cannot
        // collide), and the any-match flag still aggregates over exactly
        // the rows of one preserved interval row.
        val rowId = freshRowId("__graft_rowid")
        val withId = Project(intervalSide.output :+ rowId, intervalSide)
        val (exploded, genAttr) = explodedInterval(outer = true, withId)
        val factRowId = freshRowId("__graft_rowid_r")
        val factB =
          Project(factSide.output :+ bucketAlias :+ factRowId, factSide)
        val newCond = And(EqualTo(genAttr, bucketAlias.toAttribute), cond)
        val (jl, jr) =
          if (factOnLeft) (factB, exploded) else (exploded: LogicalPlan, factB: LogicalPlan)
        val fouter = Join(jl, jr, FullOuter, Some(newCond), JoinHint.NONE)
        val mAlias = Alias(
          If(And(IsNotNull(bucketAlias.toAttribute), IsNotNull(genAttr)),
            Literal(1L), Literal(0L)),
          "__graft_m")()
        val flagged = Project(fouter.output :+ mAlias, fouter)
        val partKey = Alias(
          Coalesce(Seq(rowId.toAttribute,
            Subtract(Literal(-1L), factRowId.toAttribute))),
          "__graft_part")()
        val keyed = Project(flagged.output :+ partKey, flagged)
        val frame = SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing)
        val anyAlias = Alias(
          WindowExpression(
            AggregateExpression(Max(mAlias.toAttribute), Complete, isDistinct = false),
            WindowSpecDefinition(Seq(partKey.toAttribute), Nil, frame)),
          "__graft_any")()
        val windowed = Window(Seq(anyAlias), Seq(partKey.toAttribute), Nil, keyed)
        val kept = Filter(
          Or(EqualTo(mAlias.toAttribute, Literal(1L)),
            EqualTo(anyAlias.toAttribute, Literal(0L))), windowed)
        val dedup = Aggregate(
          Seq(rowId.toAttribute, factRowId.toAttribute), firstOf(j.output), kept)
        Some(dedup)

      case _ => None
    }
  }
}
