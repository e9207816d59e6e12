package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DateType, DecimalType, DoubleType}

/** MV ADVISOR — close the materialization loop from the workload side.
  *
  * The reference's six MVs were designed by a human reading the
  * dashboard queries (`usdc-transfers/sql/analytics.sql:9-94` against
  * the GraphQL shapes in `commands.json`); this object automates that
  * reading: given the RAW workload queries, it proposes the
  * [[RollupRouting.Spec]]/[[RollupRouting.JoinSpec]] registrations that
  * would answer them — the classic "view selection" problem scoped to
  * the registry's lossless vocabulary. The proposals are pure data
  * (buildable by [[RollupRouting.buildPartials]]/`buildJoinPartials`,
  * maintainable by [[graft.streaming.Live.maintainRollup]], persistable
  * by [[RollupRouting.saveRegistry]]), so one advisor pass turns a
  * workload into a catalog.
  *
  * Scope rules (everything else lands in `skipped` with a reason — the
  * advisor NEVER proposes a spec it cannot prove the router would use):
  *  - demands MERGE COST-AWARELY (round 14): queries over the same
  *    source (or the same join core) pool their grouping keys, grain,
  *    and measures into one spec at the finest demanded grain — but
  *    only while the union grain does not inflate any member's read
  *    beyond [[DefaultMaxReadInflation]] (measured per-key distinct
  *    counts); past the bound the workload advises SEPARATE per-grain
  *    specs, the way the reference ships six separate MVs
  *    (`usdc-transfers/sql/analytics.sql:9-106`) rather than one
  *    mega-MV whose user-shaped keys grow with the data;
  *  - a single-table demand needs a recognizable time grouping
  *    somewhere in its merge group (`to_date(ts)` / `date_trunc('hour',
  *    ts)` / a DATE column) to pin the rollup grain;
  *  - filter-referenced columns join the grouping keys, so the
  *    registered spec subsumes the query's own predicates;
  *  - `COUNT(DISTINCT k)` adds `k` to the grain and registers the
  *    [[RollupRouting.CountDistinctGrain]] claim — valid because the
  *    advisor's build is a complete one-shot aggregation at that grain;
  *  - measures use the exact-decimal shapes ([[graft.ops.Fns]]); a
  *    non-ColRef measure registers as an [[RollupRouting.ExprPat]].
  */
object Advisor {
  import RollupRouting._

  /** A proposed single-table registration plus the scan to build from
    * (the BARE relation — never the query's filtered subtree, so the
    * rollup is complete for every future query over the source). */
  case class AdvisedSingle(spec: Spec, source: LogicalPlan)
  /** A proposed join registration plus the base-table scans by name. */
  case class AdvisedJoin(spec: JoinSpec, tables: Map[String, LogicalPlan])
  case class Advice(singles: Seq[AdvisedSingle], joins: Seq[AdvisedJoin],
                    skipped: Seq[String],
                    /** Human-readable records of cost-aware split /
                      * guard decisions (round 14) — why one source's
                      * demands became several specs, or why a state
                      * demand was refused. */
                    splits: Seq[String] = Nil)

  // ——— per-query demands (pre-merge) ———
  private case class SingleDemand(suffix: String, source: LogicalPlan,
                                  grain: Option[(String, String)], // (grain, timeCol)
                                  keys: Set[String], aggs: Seq[AggMap])
  private case class JoinDemand(tables: Map[String, LogicalPlan],
                                joinKeys: Set[(String, String)],
                                groupings: Set[String], grainKeys: Set[String],
                                aggs: Seq[AggMap],
                                timeKeys: Set[(String, String)] = Set.empty)

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def resolveThroughProjects(e: Expression, plan: LogicalPlan): Expression = {
    val aliasMap: Map[ExprId, Expression] = plan.collect {
      case p: Project =>
        p.projectList.collect { case a @ Alias(child, _) => a.exprId -> child }
    }.flatten.toMap
    def subst(x: Expression): Expression = x.transformUp {
      case a: AttributeReference if aliasMap.contains(a.exprId) => subst(aliasMap(a.exprId))
    }
    subst(e)
  }

  /** The workload queries end in sorts/limits/projects; the demand
    * lives in the topmost Aggregate under those. A Project with
    * COMPUTED columns passes too (round 15 — the moments shape:
    * variance/corr arithmetic over sum outputs): it can only
    * reference the aggregate's own output, so the thing to
    * materialize is still the Aggregate below; nondeterministic
    * projections stay out of scope. */
  @annotation.tailrec
  private def topAggregate(p: LogicalPlan): Option[Aggregate] = p match {
    case s: Sort => topAggregate(s.child)
    case g: GlobalLimit => topAggregate(g.child)
    case l: LocalLimit => topAggregate(l.child)
    case pr: Project if pr.projectList.forall(_.deterministic) =>
      topAggregate(pr.child)
    case a: Aggregate => Some(a)
    case _ => None
  }

  private def baseAttr(e: Expression): Option[AttributeReference] = e match {
    case a: AttributeReference => Some(a)
    case Cast(c, _, _, _) => baseAttr(c)
    case r: RuntimeReplaceable => baseAttr(r.replacement)
    case _ => None
  }

  private sealed trait GroupKey
  /** `dateIdentity` marks a day key whose base column is itself DATE —
    * the grouping is the identity on it, so on the JOIN path it can
    * register as a preserved column (a day key over a TIMESTAMP is a
    * real truncation and cannot). */
  private case class TimeKey(grain: String, col: String,
                             dateIdentity: Boolean = false) extends GroupKey
  private case class PlainKey(col: String) extends GroupKey

  /** Classify a (project-resolved) grouping expression the way
    * [[RollupRouting.RuleImpl.keyOf]] will at route time: an hour
    * truncation or a day-typed term over one source column is the time
    * grain; a bare column is a key; anything else is out of scope.
    * A COARSER calendar truncation (round 12 — week/month/quarter/
    * year, `date_trunc` or `trunc`) registers as a DAY-grain demand:
    * the daily rollup answers it by truncation composition
    * (`RollupRouting.calendarTarget`), and day is the finest grain
    * the router can serve it from — so the advised spec stays
    * reusable for every other daily dashboard over the source. */
  private val coarseUnits = Set("week", "month", "quarter", "year",
    "yyyy", "yy", "mm", "mon")
  private def classifyKey(e: Expression): Option[GroupKey] = e match {
    case r: RuntimeReplaceable => classifyKey(r.replacement)
    case TruncTimestamp(Literal(fmt, _), inner, _)
        if fmt != null && fmt.toString.equalsIgnoreCase("hour") =>
      baseAttr(inner).map(a => TimeKey("hour", a.name))
    case TruncTimestamp(Literal(fmt, _), inner, _)
        if fmt != null && coarseUnits.contains(fmt.toString.toLowerCase) =>
      baseAttr(inner).map(a => TimeKey("day", a.name))
    case TruncDate(inner, Literal(fmt, _))
        if fmt != null && coarseUnits.contains(fmt.toString.toLowerCase) =>
      baseAttr(inner).map(a => TimeKey("day", a.name, a.dataType == DateType))
    case e2 if e2.dataType == DateType =>
      baseAttr(e2).map(a => TimeKey("day", a.name, a.dataType == DateType))
    case a: AttributeReference => Some(PlainKey(a.name))
    case _ => None
  }

  /** The measure pattern for a SUM source expression — named shapes
    * first (printable in docs), [[ExprPat]] for everything else whose
    * leaves are columns and literals. Order-embedding (= value-
    * preserving) casts strip first: the router strips them from the
    * query side at match time (round 14), so a mined pattern carrying
    * one would never match its own workload. */
  private def toPat(e0: Expression): Option[SrcPat] = {
    val e = ExprPat.stripOrderEmbedding(e0)
    toPatRaw(e)
  }
  private def toPatRaw(e: Expression): Option[SrcPat] = e match {
    case a: AttributeReference => Some(ColRef(a.name))
    case Multiply(x: AttributeReference,
                  Subtract(Literal(one, _), y: AttributeReference, _), _)
        if one == 1.0d =>
      Some(OneMinusProduct(x.name, y.name))
    case _ =>
      val leavesOk = e.collectLeaves().forall {
        case _: AttributeReference | _: Literal => true
        case _ => false
      }
      // de-resolve to names: the pattern outlives the query it was
      // mined from, so it must not carry that plan's attribute ids —
      // the build re-resolves it against the registry's own scans.
      // Struct nodes shed the analyzer's struct() print-alias tag
      // (transformUp re-copies tags, so unset AFTER): with it, the
      // pattern's SQL travel form (the JSON catalog / workload
      // capture) renders `struct(values…)` and silently drops the
      // field names the match depends on.
      if (leavesOk && e.references.nonEmpty) {
        val der = e.transformUp {
          case a: AttributeReference =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(a.name))
        }
        der.foreach {
          case c: CreateNamedStruct => c.unsetTagValue(
            org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FUNC_ALIAS)
          case _ =>
        }
        Some(ExprPat(der))
      } else None
  }

  /** Deterministic partial-column name per measure (stable across
    * advisor runs, so re-advising a grown workload extends the same
    * rollup schema). ExprPat names hash the ORDER-SENSITIVE canon form
    * ([[ExprPat.canonOrdered]]) — the equality the router matches with
    * — so two demands differing only by a value-CHANGING cast get
    * distinct partial columns instead of silently deduping into one
    * (the value-insensitive [[ExprPat.canon]] would alias them). */
  private def sumPartialName(pat: SrcPat): String = pat match {
    case ColRef(n) => s"${n}_sum_p"
    case OneMinusProduct(a, _) => s"${a}_net_p"
    case p: ExprPat =>
      s"m${math.abs(ExprPat.canonOrdered(p.expr).toString.hashCode) % 1000000}_sum_p"
  }
  /** Shares AvgOf's `<col>_cnt_p` convention deliberately: avg's count
    * partial IS the non-null count of the column, so a workload
    * demanding both reuses one partial column. */
  private def countPartialName(pat: SrcPat): String = pat match {
    case ColRef(n) => s"${n}_cnt_p"
    case OneMinusProduct(a, _) => s"${a}_net_cnt_p"
    case p: ExprPat =>
      s"m${math.abs(ExprPat.canonOrdered(p.expr).toString.hashCode) % 1000000}_cnt_p"
  }
  private def extremumPartialName(pat: SrcPat, kind: String): String = pat match {
    case ColRef(n) => s"${n}_${kind}_p"
    case OneMinusProduct(a, _) => s"${a}_net_${kind}_p"
    case p: ExprPat =>
      s"m${math.abs(ExprPat.canonOrdered(p.expr).toString.hashCode) % 1000000}_${kind}_p"
  }
  /** The `<col>_hll_p` convention for bare columns (pre-r15 names keep
    * routing); a pattern demand — uniqIf — hashes like the other
    * pattern partials. */
  private def hllPartialName(pat: SrcPat): String = statePartialName(pat, "hll")
  /** One naming rule for every state member (kll/topk/set/upto share
    * the HLL convention): `<col>_<state>_p` for bare columns, the
    * canonOrdered hash for pattern demands (the -If family). */
  private def statePartialName(pat: SrcPat, state: String): String = pat match {
    case ColRef(n) => s"${n}_${state}_p"
    case OneMinusProduct(a, _) => s"${a}_net_${state}_p"
    case p: ExprPat =>
      s"m${math.abs(ExprPat.canonOrdered(p.expr).toString.hashCode) % 1000000}_${state}_p"
  }
  /** The weighted top-k partial name hashes BOTH patterns: the same
    * item weighed by a different measure is a different state. */
  private def topkwPartialName(ip: SrcPat, wp: SrcPat): String = {
    val wTag = s"w${math.abs(patKey(wp).hashCode) % 1000000}"
    ip match {
      case ColRef(n) => s"${n}_${wTag}_topkw_p"
      case p =>
        s"m${math.abs(patKey(p).hashCode) % 1000000}_${wTag}_topkw_p"
    }
  }

  /** True for the types [[graft.expr.BitmapAgg]] accepts — the
    * exact-distinct bitmap member's integral contract. */
  private def integral(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
    case _ => false
  }

  /** Map one aggregate output to the AggMap that would route it —
    * exactly the shapes [[RollupRouting.RuleImpl]] rewrites (the
    * exact-decimal sum/avg, bare count/min/max, distinct-on-grain).
    * `inLattice` = the demand came from a grouping-sets flattening:
    * the row-count CountDistinctGrain mapping can never serve a
    * subtotal, so a bare distinct there advises the BITMAP state
    * instead (exact, OR-union subtotal-safe) when the column is
    * integral. */
  private def mapOne(e: Expression, resolve: Expression => Expression,
                     inLattice: Boolean = false): Option[AggMap] =
    e match {
      case Alias(c, _) => mapOne(c, resolve, inLattice)
      // ANY scalar cast above the aggregate survives the rewrite
      // untouched, so it never changes the demand (round 15 — the
      // theta dashboards cast their double estimate to long)
      case Cast(c, _, _, _) => mapOne(c, resolve, inLattice)
      case ae: AggregateExpression if ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Sum(Cast(src, dt: DecimalType, _, _), _)
              if !ae.isDistinct && dt.precision == 38 && dt.scale == 6 =>
            toPat(resolve(src)).map(p => SumOf(p, sumPartialName(p)))
          case Count(Seq(Literal(_, _))) if !ae.isDistinct =>
            Some(CountStarTo("cnt_p"))
          // null-skipping COUNT(expr) — the countIf demand (round 14):
          // count(CASE WHEN pred THEN 1 END) or count(nullable_col)
          // registers the non-null-count member over the pattern
          case Count(Seq(c)) if !ae.isDistinct =>
            toPat(resolve(c)).map(p => CountOf(p, countPartialName(p)))
          // a bare distinct count advises the grain claim (rollup rows
          // = distinct values — the cheapest answer) — EXCEPT under a
          // lattice, where the row-count mapping can never serve a
          // subtotal: an integral column advises the BITMAP state
          // there (exact, OR-union subtotal-safe, round 15). A PATTERN
          // distinct count (uniqExactIf, round 15) has no grain
          // analog: integral values advise the bitmap state (compact
          // at ANY cardinality — no advisability guard needed);
          // anything else the SetOf state (the set guard still prices
          // its cardinality)
          case Count(Seq(c)) if ae.isDistinct =>
            val r = resolve(c)
            baseAttr(r).map(a =>
                if (inLattice && integral(a.dataType))
                  BitmapUniqOf(ColRef(a.name), statePartialName(ColRef(a.name), "bm"))
                else CountDistinctGrain(a.name))
              .orElse(toPat(r) match {
                case Some(p: ExprPat) if integral(r.dataType) =>
                  Some(BitmapUniqOf(p, statePartialName(p, "bm")))
                case Some(p: ExprPat) => Some(SetOf(p, statePartialName(p, "set")))
                case _ => None
              })
          // a bare column advises the scalar extremum; any other
          // mappable tree (the argMax `max(struct(value, user))`
          // shape, round 14) advises the PATTERN extremum — the sixth
          // state member, previously register-only
          // (order-embedding casts — the loader's NTZ relabel, lossless
          // widenings — strip BEFORE the pattern is minted: the router
          // strips them from the query side but conservatively keeps a
          // registered cast over an unresolved attribute, so a pattern
          // carrying one would never match its own workload. A tree
          // that strips down to a BARE column stays unmappable: the
          // router's MinOf/MaxOf guard needs a bare reference, so the
          // advice would be dead.)
          case Min(c) if !ae.isDistinct =>
            resolve(c) match {
              case a: AttributeReference => Some(MinOf(a.name, s"${a.name}_min_p"))
              case e => ExprPat.stripOrderEmbedding(e) match {
                case _: AttributeReference => None
                case s => toPat(s).map(p => MinPatOf(p, extremumPartialName(p, "min")))
              }
            }
          case Max(c) if !ae.isDistinct =>
            resolve(c) match {
              case a: AttributeReference => Some(MaxOf(a.name, s"${a.name}_max_p"))
              case e => ExprPat.stripOrderEmbedding(e) match {
                case _: AttributeReference => None
                case s => toPat(s).map(p => MaxPatOf(p, extremumPartialName(p, "max")))
              }
            }
          case Average(Cast(src, dt: DecimalType, _, _), _)
              if !ae.isDistinct && dt.precision == 38 && dt.scale == 6 =>
            resolve(src) match {
              case a: AttributeReference =>
                Some(AvgOf(a.name, s"${a.name}_sum_p", s"${a.name}_cnt_p"))
              case _ => None
            }
          // the sketch members (round 12): a Datasketches demand
          // registers the per-group sketch state at the query's
          // precision (HLL uniques; KLL quantiles)
          // a bare column OR a pattern (round 15 — uniqIf:
          // hll_sketch_agg(CASE WHEN pred THEN col END); NULLs never
          // enter the sketch, so the state IS the conditional sketch)
          case hs: HllSketchAgg if !ae.isDistinct =>
            hs.right match {
              case Literal(k: Int, _) =>
                toPat(resolve(hs.left)).map(p => HllUniqOf(p, hllPartialName(p), k))
              case _ => None
            }
          // a theta demand (round 15) registers the set-algebra state
          // at the query's own lgK — same economics as the HLL member
          // with intersect/a-not-b reads on top
          case ta: graft.expr.ThetaAgg if !ae.isDistinct =>
            toPat(resolve(ta.child)).map(p =>
              ThetaUniqOf(p, statePartialName(p, "theta"), ta.lgK))
          // an explicit exact-distinct BITMAP state demand (round 17 —
          // the condition-retention shape: graft_bitmap_agg(CASE WHEN
          // cond THEN user END)): NULLs never enter a bitmap, so the
          // state IS the conditional cohort; integral inputs are
          // enforced by BitmapAgg's own type contract, so an analyzed
          // demand always qualifies — no advisability guard needed
          // (compact at any cardinality, OR-union mergeable)
          case ba: graft.expr.BitmapAgg if !ae.isDistinct =>
            toPat(resolve(ba.child)).map(p =>
              BitmapUniqOf(p, statePartialName(p, "bm")))
          // approx_count_distinct advises the uniqState member at the
          // registry's default precision when that precision dominates
          // the query's tolerance (the exact condition the router
          // checks before substituting the estimator — round 13)
          case h: HyperLogLogPlusPlus
              if !ae.isDistinct && hllRsd(12) <= h.relativeSD =>
            toPat(resolve(h.child)).map(p => HllUniqOf(p, hllPartialName(p), 12))
          // bare columns or patterns (round 15 — the quantileIf /
          // topKIf / setIf shapes: a CASE source's NULLs never enter
          // a sketch or a set, so the state is the conditional one)
          case ka: graft.expr.KllDoublesAgg if !ae.isDistinct =>
            toPat(resolve(ka.child)).map(p =>
              KllQuantileOf(p, statePartialName(p, "kll"), ka.k))
          // a COARSE-tolerance percentile_approx advises the KLL state
          // at the registry's default k when that k's rank error fits
          // inside the query's own 1/accuracy bound — the exact
          // condition the router checks before substituting (round 15;
          // the quantile twin of the approx_count_distinct rule)
          case pa: ApproximatePercentile
              if !ae.isDistinct &&
                 pa.dataType == org.apache.spark.sql.types.DoubleType &&
                 pa.percentageExpression.foldable &&
                 pa.percentageExpression.eval().isInstanceOf[Double] &&
                 pa.accuracyExpression.foldable &&
                 (pa.accuracyExpression.eval() match {
                   case i: Int => kllRankError(200) <= 1.0 / i
                   case l: Long => kllRankError(200) <= 1.0 / l
                   case _ => false
                 }) =>
            toPat(resolve(pa.child)).map(p =>
              KllQuantileOf(p, statePartialName(p, "kll"), 200))
          case t: ApproxTopK if !ae.isDistinct =>
            t.maxItemsTracked match {
              case Literal(m: Int, _) =>
                toPat(resolve(t.expr)).map(p =>
                  TopKOf(p, statePartialName(p, "topk"), m))
              case _ => None
            }
          // a WEIGHTED top-k demand (round 16) registers the
          // frequent-items-by-summed-weight state at the query's own
          // capacity — the reference's "top senders by volume" shape;
          // item and weight both mint patterns (the weight is
          // typically a scaling expression like round(value*100)),
          // and the partial name hashes BOTH so two dashboards
          // weighing the same item differently register distinct
          // states
          case tk: graft.expr.TopKWeightedAgg if !ae.isDistinct =>
            for {
              ip <- toPat(resolve(tk.left))
              wp <- toPat(resolve(tk.right))
            } yield TopKWeightedOf(ip, wp,
              topkwPartialName(ip, wp), tk.maxMapSize)
          // a collect_set demand registers the distinct-set state
          // (round 13 — groupUniqArrayState)
          case cs: CollectSet if !ae.isDistinct =>
            toPat(resolve(cs.child)).map(p =>
              SetOf(p, statePartialName(p, "set")))
          // a collected EVENT-SEQUENCE demand (round 16): collect_list
          // over a CASE-GUARDED pattern WITH NO ELSE (the funnel-struct
          // shape — non-matching rows are NULL and never enter the
          // list, which is what bounds the state to qualifying events)
          // registers the ListOf sequence member, the groupArrayState
          // MV behind funnel/sequence reads. Anything else — a bare
          // column, an unguarded expression, a CASE with an else
          // branch (every row enters) — would duplicate the fact with
          // no compression story (the registry scaladoc's own
          // warning) and stays register-by-hand.
          case cl: CollectList if !ae.isDistinct &&
              (resolve(cl.child) match {
                case c: CaseWhen => c.elseValue.isEmpty
                case _ => false
              }) =>
            toPat(resolve(cl.child)) match {
              case Some(p: ExprPat) => Some(ListOf(p, statePartialName(p, "seq")))
              case _ => None
            }
          case _ => None
        }
      // the estimates are scalars over the sketch aggregates — the
      // demand is the aggregate underneath
      case HllSketchEstimate(c) => mapOne(c, resolve, inLattice)
      // the argMax read shape: `max(struct(...)).getField(u)` — the
      // scalar projection survives above the router's rewrite, so the
      // demand is the struct extremum underneath (round 14)
      case g: GetStructField => mapOne(g.child, resolve, inLattice)
      case graft.expr.KllQuantileEst(c, _) => mapOne(c, resolve, inLattice)
      case graft.expr.ThetaEstimate(c) => mapOne(c, resolve, inLattice)
      // the theta bounds read `graft_theta_bounds(state)` — the bounds
      // struct is a pure function of the state, so the demand is the
      // theta aggregate underneath (round 17; the q251 read shape)
      case graft.expr.ThetaBounds(c, _) => mapOne(c, resolve, inLattice)
      // the bitmap member's count read `graft_bitmap_count(state)` —
      // the demand is the bitmap aggregate underneath (round 17)
      case graft.expr.BitmapCardinality(c) => mapOne(c, resolve, inLattice)
      // the weighted top-k read `graft_topk_weighted(state, k)` — the
      // demand is the weighted-frequency aggregate underneath (r16)
      case graft.expr.TopKWeightedEstimate(c, _) => mapOne(c, resolve, inLattice)
      // the set member's idiomatic reads (round 13): a sorted set, or
      // the exact distinct count as size-of-set — both route through
      // the same array state, so the demand is the collect_set inside
      case SortArray(c, _) => mapOne(c, resolve, inLattice)
      case Size(c, _) => mapOne(c, resolve, inLattice)
      // the csv rendering of a sorted set (the oracleable dashboard
      // spelling) — the demand is the collect_set inside (round 15)
      case ArrayJoin(c, _, _) => mapOne(c, resolve, inLattice)
      // uniqUpTo (round 13): least(count(DISTINCT col), n+1) demands
      // the CAPPED set state at exactly that limit — the bounded-state
      // member the router matches at the same whole-expression shape
      case Least(Seq(ae: AggregateExpression, limE))
          if ae.isDistinct && ae.filter.isEmpty && limE.foldable &&
             limE.dataType == org.apache.spark.sql.types.LongType =>
        // the analyzed plan has not constant-folded yet — evaluate the
        // foldable limit (CAST(6 AS BIGINT) etc.) the way the
        // optimizer eventually will
        val lim = limE.eval().asInstanceOf[Long]
        ae.aggregateFunction match {
          // the upper guard keeps (lim - 1).toInt from silently
          // overflowing into a garbage cap; a limit that large is not
          // a capped-set demand anyway (the state would be unbounded)
          case Count(Seq(c)) if lim >= 2 && lim <= Int.MaxValue =>
            toPat(resolve(c)).map(p =>
              UniqUpToOf(p, statePartialName(p, "upto"), (lim - 1).toInt))
          case _ => None
        }
      case _ => None
    }

  /** Flatten an inner equi-join tree to named base scans + key pairs
    * (name-sorted, the registry convention). */
  private def flattenJoin(p: LogicalPlan)
      : Option[(Map[String, LogicalRelation], Set[(String, String)])] = p match {
    case pr: Project => flattenJoin(pr.child)
    case f: Filter => flattenJoin(f.child)
    // row-set no-ops around a scan: broadcast() hints and view aliases
    case h: ResolvedHint => flattenJoin(h.child)
    case h: UnresolvedHint => flattenJoin(h.child)
    case s: SubqueryAlias => flattenJoin(s.child)
    case Join(l, r, Inner, Some(cond), _) =>
      val pairs = conjuncts(cond).map {
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          val s = Seq(a.name, b.name).sorted
          Some((s(0), s(1)))
        case _ => None
      }
      if (pairs.exists(_.isEmpty)) None
      else for { (lt, lk) <- flattenJoin(l); (rt, rk) <- flattenJoin(r) }
        yield (lt ++ rt, lk ++ rk ++ pairs.flatten)
    case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.headOption.map(_.getName)
        .filter(_.endsWith(".parquet"))
        .map(n => (Map(n.stripSuffix(".parquet") -> lr), Set.empty[(String, String)]))
    case _ => None
  }

  /** A GROUPING SETS / ROLLUP / CUBE dashboard analyzes to
    * `Aggregate ← Expand`; its demand is the FLAT aggregate at the
    * full grouping set — the router answers the whole lattice from
    * that one spec ([[RollupRouting.RuleImpl]]'s `rewriteExpand`
    * replays the Expand over the rollup's partial rows). Recover each
    * expanded attribute's source expression from the projections
    * (exactly the rule's decomposition) and advise as if the query
    * grouped by all of them. A DISTINCT aggregate is skipped WITH the
    * real reason: the routed row-count mapping is grain-bound, so the
    * lattice would never route and the advice would be dead. */
  private def flattenGroupingSets(label: String, agg: Aggregate,
                                  ex: Expand): scala.Either[String, Aggregate] = {
    val exOut = ex.output
    val gidIdx = exOut.indexWhere(_.name == VirtualColumn.groupingIdName)
    if (gidIdx < 0 || !ex.projections.forall(_.length == exOut.length))
      return scala.Left(s"$label: Expand is not a grouping-sets lowering")
    // a distinct aggregate under grouping sets is un-advisable —
    // EXCEPT the uniqUpTo shape (round 13: the capped-set member is
    // subtotal-safe) and a single-argument COUNT(DISTINCT) over an
    // INTEGRAL child (round 15: the bitmap state is exact and
    // OR-union subtotal-safe, so the lattice advises BitmapUniqOf) —
    // exactly mirroring the router's lattice guard
    val underUpTo: Set[Expression] = agg.aggregateExpressions.flatMap(_.collect {
      case Least(Seq(ae: AggregateExpression, limE))
          if ae.isDistinct && limE.foldable &&
             limE.dataType == org.apache.spark.sql.types.LongType => ae
    }).toSet
    def bitmapable(ae: AggregateExpression): Boolean = ae.aggregateFunction match {
      case Count(Seq(c)) => integral(c.dataType)
      case _ => false
    }
    if (agg.aggregateExpressions.exists(_.exists {
          case ae: AggregateExpression =>
            ae.isDistinct && !underUpTo.contains(ae) && !bitmapable(ae)
          case _ => false }))
      return scala.Left(s"$label: distinct aggregate under grouping sets — " +
        "subtotal rows cannot re-count, the lattice would never route " +
        "(an INTEGRAL count-distinct would advise the bitmap state)")
    val childOut = ex.child.outputSet
    val gdIdx = exOut.indices.filter(i => i != gidIdx && !childOut.contains(exOut(i)))
    val srcOf: Seq[Expression] = gdIdx.map { i =>
      ex.projections.map(_(i)).find {
        case Literal(null, _) => false
        case _ => true
      }.getOrElse(return scala.Left(
        s"$label: grouping column ${exOut(i).name} is null in every set"))
    }
    val gdSet = AttributeSet(gdIdx.map(exOut) :+ exOut(gidIdx))
    val flatAggs = agg.aggregateExpressions
      .filterNot(_.references.exists(gdSet.contains))
    scala.Right(Aggregate(srcOf, flatAggs, ex.child))
  }

  /** The OPT-IN all-events sequence demand (round 18): a collected
    * sequence whose guard has an ELSE branch — EVERY row enters the
    * list, so the state duplicates the keyed fact, which is exactly
    * why the default [[mapOne]] refuses it (the registry scaladoc's
    * warning). The interference-mode funnel family honestly REQUIRES
    * that input (a strict_order chain must see the interrupting
    * non-step event), so under `allowUnboundedSequences` the demand
    * mints the same [[RollupRouting.ListOf]] member the hand-written
    * [[graft.ops.Behavior.funnelAllSpec]] registers — and [[advise]]
    * stamps a cost warning into the advice's split log. Only the
    * collect shape widens; everything else stays [[mapOne]]'s. */
  private def mapUnboundedSeq(e: Expression,
                              resolve: Expression => Expression): Option[AggMap] =
    e match {
      case Alias(c, _) => mapUnboundedSeq(c, resolve)
      case SortArray(c, _) => mapUnboundedSeq(c, resolve)
      case ae: AggregateExpression if ae.filter.isEmpty && !ae.isDistinct =>
        ae.aggregateFunction match {
          case cl: CollectList =>
            toPat(resolve(cl.child)) match {
              case Some(p: ExprPat) => Some(ListOf(p, statePartialName(p, "seq")))
              case _ => None
            }
          case _ => None
        }
      case _ => None
    }

  /** One query → one demand, or a reason it is out of scope. */
  private def demandOf(label: String, df: DataFrame,
                       allowUnboundedSequences: Boolean = false)
      : scala.Either[String, Any] = {
    val plan = df.queryExecution.analyzed
    val agg0 = topAggregate(plan) match {
      case Some(a) => a
      case None => return scala.Left(s"$label: no top-level aggregate")
    }
    val fromLattice = agg0.child.isInstanceOf[Expand]
    val agg = agg0.child match {
      case ex: Expand => flattenGroupingSets(label, agg0, ex) match {
        case scala.Right(a) => a
        case scala.Left(r) => return scala.Left(r)
      }
      case _ => agg0
    }
    val child = agg.child
    def resolve(e: Expression): Expression = resolveThroughProjects(e, child)
    val aggOutputs = agg.aggregateExpressions
      .filter(_.exists(_.isInstanceOf[AggregateExpression]))
    val aggs0 = aggOutputs.map(ne => mapOne(ne, resolve, inLattice = fromLattice)
      .orElse(if (allowUnboundedSequences) mapUnboundedSeq(ne, resolve) else None))
    if (aggs0.exists(_.isEmpty))
      return scala.Left(s"$label: unmappable aggregate " +
        aggOutputs(aggs0.indexWhere(_.isEmpty)).sql)
    val keys = agg.groupingExpressions.map(g => classifyKey(resolve(g)))
    if (keys.exists(_.isEmpty))
      return scala.Left(s"$label: unmappable grouping " +
        agg.groupingExpressions(keys.indexWhere(_.isEmpty)).sql)
    val filterRefs: Set[String] = child.collect {
      case f: Filter => conjuncts(f.condition)
    }.flatten.flatMap(c => resolve(c).references.toSeq.map(_.name)).toSet
    // a MULTI-distinct dashboard cannot carry two grain claims — but
    // it ROUTES end-to-end since the multi-distinct inversion (round
    // 15), so when every bare distinct column is integral the demand
    // re-mints them as bitmap states instead of being refused
    val aggs: Seq[Option[RollupRouting.AggMap]] = {
      val grains = aggs0.flatten.collect { case CountDistinctGrain(g) => g }
      if (grains.size <= 1) aggs0
      else {
        val types = child.output.map(a => a.name -> a.dataType).toMap
        if (!grains.forall(g => types.get(g).exists(integral)))
          return scala.Left(s"$label: more than one COUNT(DISTINCT) column " +
            "and not all integral (one grain claim per spec; bitmap states " +
            "need integral inputs)")
        aggs0.map {
          case Some(CountDistinctGrain(g)) =>
            Some(BitmapUniqOf(RollupRouting.ColRef(g),
              statePartialName(RollupRouting.ColRef(g), "bm")))
          case other => other
        }
      }
    }
    val distinctGrains = aggs.flatten.collect { case CountDistinctGrain(g) => g }

    if (child.exists(_.isInstanceOf[Join])) {
      val (tables, joinKeys) = flattenJoin(child) match {
        case Some(x) => x
        case None => return scala.Left(s"$label: join core is not inner/equi over parquet scans")
      }
      val plain = keys.flatten.collect { case PlainKey(c) => c }
      val timeKeys = keys.flatten.collect { case t: TimeKey => t }
      // a day key over a DATE column is the identity, so it registers
      // as an ordinary preserved column; a real truncation (day/hour
      // of a TIMESTAMP) registers as a timeGroupings pattern — the
      // rollup stores the truncated bucket, and the router substitutes
      // the query's truncation (or any coarser one) onto it
      val truncating = timeKeys.filter(!_.dateIdentity)
      // a filter on the RAW truncated column would force the rollup to
      // preserve every distinct timestamp — no compression, bad advice
      val rawTimeFilters = filterRefs.intersect(truncating.map(_.col).toSet)
      if (rawTimeFilters.nonEmpty)
        return scala.Left(s"$label: filter references the raw time column " +
          s"${rawTimeFilters.mkString(",")} the query truncates — preserving " +
          "it would not compress")
      scala.Right(JoinDemand(tables, joinKeys,
        groupings = plain.toSet ++ timeKeys.filter(_.dateIdentity).map(_.col) ++
          (filterRefs -- joinKeys.flatMap(p => Set(p._1, p._2))),
        grainKeys = distinctGrains.toSet, aggs = aggs.flatten,
        timeKeys = truncating.map(t => (t.grain, t.col)).toSet))
    } else {
      val rels = child.collect { case lr: LogicalRelation => lr }
      val suffix = rels match {
        case Seq(LogicalRelation(fs: HadoopFsRelation, _, _, _, _)) =>
          fs.location.rootPaths.headOption.map(_.getName)
            .getOrElse(return scala.Left(s"$label: scan has no root path"))
        case _ => return scala.Left(s"$label: expected exactly one base scan, got ${rels.size}")
      }
      val times = keys.flatten.collect { case TimeKey(g, c, _) => (g, c) }.distinct
      if (times.map(_._2).distinct.size > 1)
        return scala.Left(s"$label: groupings use two different time columns")
      val grain = times.sortBy(t => if (t._1 == "hour") 0 else 1).headOption
      val timeCol = grain.map(_._2)
      val plain = keys.flatten.collect { case PlainKey(c) => c }.toSet
      scala.Right(SingleDemand(suffix, rels.head,
        grain,
        keys = plain ++ distinctGrains ++ (filterRefs -- timeCol),
        aggs = aggs.flatten))
    }
  }

  /** Human-readable label for guard/split messages: a bare column
    * reads as its name, patterns as their structural key. */
  private def patLabel(p: SrcPat): String = p match {
    case ColRef(n) => n
    case other => patKey(other)
  }
  /** Two demands for one measure share one member ([[AggMap.key]]). */
  private def dedupeAggs(aggs: Seq[AggMap]): Seq[AggMap] = aggs.distinctBy(_.key)

  /** Read-inflation bound for pooling demands into one spec: a demand
    * whose merge group gains keys K reads the union-grain rollup, i.e.
    * ~Π distinct(k) times more rows than its own natural grain. Above
    * this bound the demands SPLIT into per-grain specs — the router's
    * size-based cost choice already serves each query from the
    * cheapest matching MV, so extra specs cost only build/maintenance
    * (the reference ships six SEPARATE MVs at their natural grains,
    * `usdc-transfers/sql/analytics.sql:9-106`, never one mega-MV). */
  val DefaultMaxReadInflation = 4.0
  /** Session conf overriding [[DefaultMaxReadInflation]] (round 15) —
    * the deployment knob trading spec count against read cost, next
    * to the router's `spark.graft.routing.estimatorSubstitution`. An
    * explicit `maxReadInflation` argument still wins over the conf. */
  val MaxReadInflationConf = "spark.graft.advisor.maxReadInflation"
  private def confMaxReadInflation(spark: SparkSession): Double =
    Option(spark).map(_.sessionState.conf
        .getConfString(MaxReadInflationConf, DefaultMaxReadInflation.toString)
        .toDouble)
      .getOrElse(DefaultMaxReadInflation)
  /** [[SetOf]] advisability guards: a distinct-set state over a
    * near-unique column (distinct > half the rows) stores ~every row —
    * no compression at ANY scale, the scale-free test that catches
    * id-shaped columns. The absolute backstop additionally refuses
    * bounded-ratio columns whose total membership is too large to
    * materialize as exact array states (the q204 regime: exact sets
    * for bounded-cardinality groups, HLL/uniqUpTo for unbounded). */
  val MaxSetDistinct = 1000000L
  /** Advise-time stats sample bound — the prefix row count the
    * cost-model scan reads (pushed to the source as a limit, so the
    * advisor's planning cost stays flat while the fact table grows).
    * The prefix is whatever rows the scan yields first, with NO
    * defined order — so advise output (split decisions, spec counts)
    * is only stable up to sampling: deterministic for a fixed file
    * layout, but a re-layout (compaction, different writer
    * parallelism) can move a distinct-count estimate across the
    * inflation bound and change the advised catalog. That is the
    * documented contract — an underestimate only UNDER-splits (a
    * merged spec that reads somewhat hot), never mis-refuses; the
    * SetOf guard, where a wrong refusal would kill a registration,
    * deliberately pays a full column scan instead.
    *
    * `spark.graft.advisor.statsSampleRows` (round 15) raises or lowers
    * the bound per session — a deployment whose distinct counts
    * concentrate late in file order pays a larger sample for stabler
    * split decisions; the default keeps advise cost flat in fact
    * volume. */
  val StatsSampleRows = 100000
  val StatsSampleRowsConf = "spark.graft.advisor.statsSampleRows"
  private def confStatsSampleRows(spark: SparkSession): Int =
    Option(spark).map(_.sessionState.conf
        .getConfString(StatsSampleRowsConf, StatsSampleRows.toString).toInt)
      .getOrElse(StatsSampleRows)

  /** Propose the smallest registry that answers the workload: analyze
    * each query, merge demands per source / per join core — splitting
    * a merge group when the union grain would inflate any member's
    * read beyond `maxReadInflation` (round 14) — and emit specs rooted
    * under `rollupRoot`. Inflation estimates multiply the measured
    * per-key distinct counts of the keys a demand would GAIN by
    * merging, deliberately NOT capped by the source's current row
    * count: at 100× the data the product is realizable, and the
    * advisor optimizes for the scaled deployment. Calendar grains
    * (hour vs day) never count as inflation — they are bounded at any
    * data volume, unlike user-shaped keys that grow with it. */
  def advise(queries: Seq[DataFrame], rollupRoot: String,
             maxReadInflation: Double = Double.NaN,
             /** Round 18 OPT-IN: also mint collected sequences whose
               * guard admits EVERY row ([[mapUnboundedSeq]]) — required
               * by interference-mode funnel reads, priced state ≈ fact;
               * each minted member stamps a warning into `splits`. */
             allowUnboundedSequences: Boolean = false): Advice = {
    val spark = queries.headOption.map(_.sparkSession).orNull
    val demands = queries.zipWithIndex.map { case (q, i) =>
      demandOf(s"query#$i", q, allowUnboundedSequences) }
    val bound = if (maxReadInflation.isNaN) confMaxReadInflation(spark)
                else maxReadInflation
    val advice = adviseDemands(spark, demands, rollupRoot, bound)
    if (!allowUnboundedSequences) advice
    else {
      // a guarded sequence is a top-level CaseWhen with NO else (rows
      // outside the guard never enter) — anything else collects every
      // row, and the adopter must see the price before registering
      val warns = advice.singles.flatMap(s => s.spec.aggs.collect {
        case ListOf(p: ExprPat, name) if (p.expr match {
              case c: CaseWhen => c.elseValue.isDefined
              case _ => true
            }) =>
          s"${s.spec.sourceSuffix}: OPT-IN all-events sequence member " +
            s"$name — every row enters the list, so the state ≈ the " +
            "keyed fact (the interference-mode price; register only " +
            "for repeated window-bounded reads, see docs/SCALING.md)"
      })
      advice.copy(splits = advice.splits ++ warns)
    }
  }

  private def adviseDemands(spark: SparkSession,
                            demands: Seq[scala.Either[String, Any]],
                            rollupRoot: String,
                            maxReadInflation: Double): Advice = {
    val skipped = scala.collection.mutable.Buffer.empty[String]
    skipped ++= demands.collect { case scala.Left(reason) => reason }
    val splits = scala.collection.mutable.Buffer.empty[String]
    val singlesBySrc = demands.collect { case scala.Right(d: SingleDemand) => d }
      .groupBy(_.suffix)

    // per-source column stats (ONE aggregation job, lazily — only a
    // merge or set-guard decision pays it): row count + approx
    // distinct count per demanded key / set column, over a BOUNDED
    // prefix sample so advise cost is O(1) in fact volume — a 100 TB
    // fact table must not cost a full scan per advise. The decisions
    // these stats feed need magnitudes, not precision: a gained key
    // either multiplies reads past the small bound or it doesn't, and
    // near-uniqueness shows in any prefix of an id-shaped column.
    val statsCache = scala.collection.mutable.Map.empty[String, (Long, Map[String, Long])]
    def stats(suffix: String, source: LogicalPlan,
              cols: Set[String]): (Long, Map[String, Long]) =
      statsCache.getOrElseUpdate(suffix, {
        import org.apache.spark.sql.functions.{approx_count_distinct, col, count, lit}
        val df = org.apache.spark.sql.graftx.Bridge.ofRows(spark, source)
          .limit(confStatsSampleRows(spark))
        val cs = cols.toSeq.sorted
        val row = df.agg(count(lit(1)),
          cs.map(c => approx_count_distinct(col(c))): _*).head()
        (row.getLong(0),
         cs.zipWithIndex.map { case (c, i) => c -> row.getLong(i + 1) }.toMap)
      })

    // the SET guard's stats are FULL single-column scans (cached per
    // column): near-uniqueness cannot be judged from a prefix — a
    // sample can look id-shaped while the column repeats globally —
    // and a wrong refusal kills a legitimate registration. One pruned
    // column scan per set demand is the honest price; merge-product
    // decisions below stay on the bounded sample (there an
    // underestimate only under-splits, never mis-refuses).
    val fullColCache = scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
    def fullColStats(suffix: String, source: LogicalPlan, pt: SrcPat): (Long, Long) =
      fullColCache.getOrElseUpdate((suffix, patKey(pt)), {
        import org.apache.spark.sql.functions.{approx_count_distinct, count, lit}
        // r15: the guarded source may be a PATTERN (setIf) — count the
        // distinct values of the expression itself (the CASE's NULLs
        // never enter a set, but approx_count_distinct skips NULLs the
        // same way, so the estimate is exactly the state's cardinality)
        val row = org.apache.spark.sql.graftx.Bridge.ofRows(spark, source)
          .agg(count(lit(1)), approx_count_distinct(RollupRouting.srcColumn(pt)))
          .head()
        (row.getLong(0), row.getLong(1))
      })

    val singleResults = singlesBySrc.toSeq.sortBy(_._1).map { case (suffix, ds0) =>
      val statCols = ds0.flatMap(_.keys).toSet ++
        ds0.flatMap(_.aggs).collect { case SetOf(pt, _) => pt.refs }.flatten
      // SetOf cardinality guard (round 14): refuse to materialize a
      // distinct-set state the registry's own scaladoc warns against.
      // The refusal is PER MEMBER (round 15): a dashboard mixing a
      // near-unique collect_set with routable counts/sums keeps its
      // remaining measures advised — only the set state is dropped
      // (recorded in splits); a demand whose EVERY measure was the
      // refused set is skipped whole.
      val ds = ds0.flatMap { d =>
        val kept = d.aggs.filter {
          case SetOf(pt, _) =>
            val (total, n) = fullColStats(suffix, d.source, pt)
            val ok = n <= total / 2 && n <= MaxSetDistinct
            if (!ok) splits += (s"$suffix: collect_set(${patLabel(pt)}) member " +
              s"refused — ~$n distinct values over $total rows; a set state " +
              "would not compress (register HLL or uniqUpTo for unbounded keys)")
            ok
          case _ => true
        }
        if (kept.nonEmpty) Some(d.copy(aggs = kept))
        else {
          skipped += (s"$suffix: collect_set over a near-unique/unbounded " +
            "column was the demand's only measure — set state refused " +
            "(see splits), demand left live")
          None
        }
      }
      val grains = ds.flatMap(_.grain)
      if (ds.isEmpty)
        scala.Left(s"$suffix: every demand was guarded out")
      else if (grains.map(_._2).distinct.size > 1)
        scala.Left(s"$suffix: merge group uses two different time columns")
      else {
        // a merge set with NO grained demand is a purely GRAINLESS
        // workload (round 15) — it advises "all"-grain specs with no
        // time column (rebuild-only; the advisor's own build is the
        // complete one-shot, so no sidecar is ever stamped)
        val timeCol = grains.headOption.map(_._2).getOrElse("")
        // cost-aware grouping: greedy over demands (grain-pinning ones
        // first, widest key set first), joining the first group whose
        // union keys keep EVERY member's gained-key product under the
        // bound; identical key sets always pool (gain = 1)
        def gain(member: Set[String], union: Set[String]): Double = {
          val (_, dist) = stats(suffix, ds.head.source, statCols)
          (union -- member).foldLeft(1.0)((p, k) =>
            p * math.max(1L, dist.getOrElse(k, 1L)).toDouble)
        }
        val groups: Seq[Seq[SingleDemand]] =
          if (ds.map(_.keys).distinct.size <= 1) Seq(ds)
          else {
            val gs = scala.collection.mutable.Buffer
              .empty[scala.collection.mutable.Buffer[SingleDemand]]
            val (grained, grainless) = ds.partition(_.grain.isDefined)
            val ordered = grained.sortBy(d => (-d.keys.size, d.keys.toSeq.sorted.mkString(","))) ++
              grainless
            for (d <- ordered) {
              def fits(g: scala.collection.mutable.Buffer[SingleDemand]): Boolean = {
                val u = g.flatMap(_.keys).toSet ++ d.keys
                (g :+ d).forall(m => gain(m.keys, u) <= maxReadInflation)
              }
              gs.find(fits) match {
                case Some(g) => g += d
                case None =>
                  // a grainless demand that fits no grained group
                  // SEEDS its own "all"-grain spec (round 15) — the
                  // grainless registry member makes the seed
                  // expressible, where round 14 had to strand it.
                  // Grained demands iterate first, so a grainless-
                  // seeded group only ever pools grainless peers.
                  gs += scala.collection.mutable.Buffer(d)
              }
            }
            // GRAIN-CLAIM → BITMAP swap (round 15): when a group
            // exists ONLY because its demands' COUNT(DISTINCT) grain
            // claims dragged the counted column into the spec keys —
            // the (day, user)-sized rollup whose sole distinct-count
            // job the bitmap member does from a (day)-sized one — try
            // the demands with each claim re-minted as BitmapUniqOf
            // (integral columns only; exactness preserved, the column
            // leaves the keys) and RE-POOL them into an existing
            // group. Claims that a peer demand legitimately groups by
            // pool for free already (gain 1), so only split-forcing
            // claims ever swap; the join path deliberately keeps the
            // r14 claim behavior (its per-order MV also serves
            // per-order reads — q150's shape).
            def swapClaims(d: SingleDemand): Option[SingleDemand] = {
              val claims = d.aggs.collect { case CountDistinctGrain(g) => g }
              val types = d.source.output.map(a => a.name -> a.dataType).toMap
              if (claims.isEmpty || !claims.forall(g => types.get(g).exists(integral)))
                None
              else Some(d.copy(
                keys = d.keys -- claims,
                aggs = d.aggs.map {
                  case CountDistinctGrain(g) =>
                    BitmapUniqOf(ColRef(g), statePartialName(ColRef(g), "bm"))
                  case m => m
                }))
            }
            def fitsIn(g: scala.collection.mutable.Buffer[SingleDemand],
                       d2: SingleDemand): Boolean = {
              val u = g.flatMap(_.keys).toSet ++ d2.keys
              (g :+ d2).forall(m => gain(m.keys, u) <= maxReadInflation)
            }
            for (gi <- gs.toList if gs.size > 1) {
              if (gi.forall(_.aggs.exists(_.isInstanceOf[CountDistinctGrain]))) {
                val sw = gi.flatMap(swapClaims)
                if (sw.size == gi.size) {
                  gs.find(go => (go ne gi) && sw.forall(d2 => fitsIn(go, d2)))
                    .foreach { go =>
                      go ++= sw
                      gs -= gi
                      splits += (s"$suffix: grain claim swapped to the bitmap " +
                        s"member — the COUNT(DISTINCT) column would have keyed " +
                        s"its own spec; the exact bitmap state answers it from " +
                        s"the pooled grain instead")
                    }
                }
              }
            }
            if (gs.size > 1) {
              val uAll = ds.flatMap(_.keys).toSet
              val worst = ds.map(d => gain(d.keys, uAll)).max
              splits += f"$suffix: split into ${gs.size} specs — one union-grain " +
                f"spec would inflate a member's read ~$worst%.0fx " +
                f"(bound ${maxReadInflation}x)"
            }
            gs.map(_.toSeq).toSeq
          }
        val name = suffix.stripSuffix(".parquet")
        val multi = groups.size > 1
        scala.Right(groups.map { g =>
          val gGrains = g.flatMap(_.grain)
          // a group with no grained member advises the GRAINLESS spec:
          // one row per key group, all time (round 15). The spec keeps
          // the merge set's time column when one is known — a later
          // owner can then stamp a coverage sidecar and get the hybrid
          // read; a purely grainless workload has none (timeCol = "",
          // the rollup must always be complete).
          val grain =
            if (gGrains.isEmpty) "all"
            else if (gGrains.exists(_._1 == "hour")) "hour" else "day"
          val keys = g.flatMap(_.keys).toSet - timeCol
          // the path carries a stable SHAPE hash (round 15): two
          // differently-shaped specs advised under one root — the
          // daily delta loop's normal state — must never share a
          // directory, or a memoized adopt would reuse the wrong files
          val shapeHash = math.abs(((grain +: keys.toSeq.sorted).mkString("_") +
            dedupeAggs(g.flatMap(_.aggs)).map(_.key).sorted.mkString("|"))
            .hashCode) % 1000000
          val slug = (if (!multi) ""
                      else "_" + (grain +: keys.toSeq.sorted).mkString("_")) +
            s"_s$shapeHash"
          AdvisedSingle(
            Spec(suffix, s"$rollupRoot/${name}_advised$slug", grain, timeCol,
              keyCols = keys.map(k => k -> k).toMap,
              aggs = dedupeAggs(g.flatMap(_.aggs))),
            g.head.source)
        })
      }
    }
    // JOIN-path cost model (round 14): the same gained-key inflation
    // rule as singles — a member's read multiplies by the distinct
    // counts of the grouping/grain columns it would GAIN by merging.
    // Column stats come from the OWNING base table (the column's
    // cardinality at the join output is at most the join's row count
    // but the table's distinct count is the honest grain estimate),
    // prefix-sampled like the single-table products; time truncations
    // are calendar-bounded and never split.
    val joinColCache = scala.collection.mutable.Map.empty[(String, String), Long]
    def joinColDistinct(tabs: Map[String, LogicalPlan], c: String): Long =
      tabs.find { case (_, p) => p.output.exists(_.name == c) }.map { case (t, p) =>
        joinColCache.getOrElseUpdate((t, c), {
          import org.apache.spark.sql.functions.{approx_count_distinct, col}
          org.apache.spark.sql.graftx.Bridge.ofRows(spark, p)
            .limit(confStatsSampleRows(spark))
            .agg(approx_count_distinct(col(c))).head().getLong(0)
        })
      }.getOrElse(1L)
    def joinFullColStats(tabs: Map[String, LogicalPlan], pt: SrcPat)
        : Option[(Long, Long)] =
      tabs.find { case (_, p) =>
        pt.refs.nonEmpty && pt.refs.forall(c => p.output.exists(_.name == c))
      }.map { case (_, p) =>
        import org.apache.spark.sql.functions.{approx_count_distinct, count, lit}
        val row = org.apache.spark.sql.graftx.Bridge.ofRows(spark, p)
          .agg(count(lit(1)), approx_count_distinct(RollupRouting.srcColumn(pt)))
          .head()
        (row.getLong(0), row.getLong(1))
      }

    val joinsByCore = demands.collect { case scala.Right(d: JoinDemand) => d }
      .groupBy(d => (d.tables.keySet, d.joinKeys))
    val joinResults = joinsByCore.toSeq.sortBy(_._1._1.toSeq.sorted.mkString(","))
      .flatMap { case ((tables, joinKeys), ds0) =>
        // the same PER-MEMBER SetOf guard as singles, stats from the
        // owning base table — the demand's other measures keep advising
        val ds = ds0.flatMap { d =>
          val kept = d.aggs.filter {
            case SetOf(pt, _) =>
              joinFullColStats(d.tables, pt).forall { case (total, n) =>
                val ok = n <= total / 2 && n <= MaxSetDistinct
                if (!ok) splits += (s"${tables.toSeq.sorted.mkString("⋈")}: " +
                  s"collect_set(${patLabel(pt)}) member refused — ~$n distinct " +
                  s"over $total rows")
                ok
              }
            case _ => true
          }
          if (kept.nonEmpty) Some(d.copy(aggs = kept))
          else {
            skipped += (s"${tables.toSeq.sorted.mkString("⋈")}: collect_set " +
              "over a near-unique/unbounded column was the demand's only " +
              "measure — set state refused, demand left live")
            None
          }
        }
        if (ds.isEmpty) Nil else {
          def keysOf(d: JoinDemand): Set[String] = d.groupings ++ d.grainKeys
          def gainJ(member: Set[String], union: Set[String]): Double =
            (union -- member).foldLeft(1.0)((p, k) =>
              p * math.max(1L, joinColDistinct(ds.head.tables, k)).toDouble)
          val groups: Seq[Seq[JoinDemand]] =
            if (ds.map(keysOf).distinct.size <= 1) Seq(ds)
            else {
              val gs = scala.collection.mutable.Buffer
                .empty[scala.collection.mutable.Buffer[JoinDemand]]
              val ordered = ds.sortBy(d =>
                (-keysOf(d).size, keysOf(d).toSeq.sorted.mkString(",")))
              for (d <- ordered) {
                def fits(g: scala.collection.mutable.Buffer[JoinDemand]): Boolean = {
                  val u = g.flatMap(keysOf).toSet ++ keysOf(d)
                  (g :+ d).forall(m => gainJ(keysOf(m), u) <= maxReadInflation)
                }
                gs.find(fits) match {
                  case Some(g) => g += d
                  case None => gs += scala.collection.mutable.Buffer(d)
                }
              }
              if (gs.size > 1) {
                val uAll = ds.flatMap(keysOf).toSet
                val worst = ds.map(d => gainJ(keysOf(d), uAll)).max
                splits += f"${tables.toSeq.sorted.mkString("⋈")}: split into " +
                  f"${gs.size} join MVs — one union-grain MV would inflate a " +
                  f"member's read ~$worst%.0fx (bound ${maxReadInflation}x)"
              }
              gs.map(_.toSeq).toSeq
            }
          val name = tables.toSeq.sorted.mkString("_")
          val multi = groups.size > 1
          groups.map { g =>
            val groupings = g.flatMap(_.groupings).toSet
            val grains = g.flatMap(_.grainKeys).toSet -- groupings
            // truncating time demands merge per column at the FINEST
            // grain — the hourly bucket answers day/month/… queries by
            // the router's truncation-composition substitution
            val timeGroupings = g.flatMap(_.timeKeys).groupBy(_._2).toSeq
              .sortBy(_._1).map { case (c, gs2) =>
                val tg = if (gs2.exists(_._1 == "hour")) "hour" else "day"
                TimeGrainPat(tg, c) -> s"${c}_$tg"
              }
            // same shape-hash rule as the single path (round 15)
            val shapeHash = math.abs(((groupings ++ grains).toSeq.sorted.mkString("_") +
              timeGroupings.map(_._2).mkString("_") +
              dedupeAggs(g.flatMap(_.aggs)).map(_.key).sorted.mkString("|"))
              .hashCode) % 1000000
            val slug =
              (if (!multi) ""
               else "_" + (groupings ++ grains).toSeq.sorted.mkString("_")) +
              s"_s$shapeHash"
            AdvisedJoin(
              JoinSpec(s"$rollupRoot/${name}_advised$slug", tables, joinKeys,
                groupings = groupings.map(k => k -> k).toMap,
                aggs = dedupeAggs(g.flatMap(_.aggs)),
                grainCols = grains.map(k => k -> k).toMap,
                timeGroupings = timeGroupings),
              g.head.tables)
          }
        }
      }
    Advice(singleResults.collect { case scala.Right(as) => as }.flatten,
           joinResults,
           (skipped ++ singleResults.collect { case scala.Left(r) => r }).toSeq,
           splits.toSeq)
  }

  /** CAPTURE a workload's advisable demands to a JSON file — the
    * offline half of the production loop (round 14): a fleet logs its
    * dashboards' analyzed demands as they run, and [[adviseCaptured]]
    * mines the catalog from the FILE later — yesterday's query log
    * advising tomorrow's MVs with no live DataFrames in sight. The
    * reference's setup is a static script
    * (`usdc-transfers/setup-analytics.sh:49-113`); this is its
    * workload-driven equivalent with a durable intermediate. Both
    * demand kinds travel: single-table demands as (source path,
    * grain, keys, measures) and join demands as (table name→path
    * map, join keys, groupings, grain keys, time truncations,
    * measures) — measures in the registry's own JSON vocabulary
    * ([[RollupRouting.aggJson]]), so a capture survives exactly what
    * the persisted catalog survives.
    *
    * `append = true` concatenates onto an existing log (round 15):
    * the log then carries one entry PER RUN, so a dashboard executed
    * 1,000×/day appears 1,000× — [[adviseCaptured]] aggregates the
    * duplicates into demand FREQUENCIES, which is what makes a
    * budgeted advise rank a hot dashboard above a one-off ad-hoc
    * query, and what lets [[retireCandidates]] spot an adopted spec
    * whose demand vanished from the window. */
  def captureWorkload(queries: Seq[DataFrame], path: String,
                      append: Boolean = false): Unit = {
    import org.json4s._
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    def rootOf(p: LogicalPlan): Option[String] = p.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.head.toString
    }
    val entries: List[JValue] =
      queries.zipWithIndex.map { case (q, i) => demandOf(s"query#$i", q) }.map {
        case scala.Right(d: SingleDemand) =>
          rootOf(d.source) match {
            case Some(p) =>
              ("kind" -> "single") ~ ("suffix" -> d.suffix) ~
              ("sourcePath" -> p) ~
              ("grain" -> d.grain.map(_._1)) ~ ("timeCol" -> d.grain.map(_._2)) ~
              ("keys" -> d.keys.toList.sorted) ~
              ("aggs" -> d.aggs.map(RollupRouting.aggJson)): JValue
            case None =>
              ("kind" -> "skipped") ~
              ("reason" -> "capture: scan has no parquet root path"): JValue
          }
        case scala.Right(d: JoinDemand) =>
          val paths = d.tables.toSeq.sortBy(_._1)
            .map { case (t, p) => t -> rootOf(p) }
          if (paths.exists(_._2.isEmpty))
            ("kind" -> "skipped") ~
            ("reason" -> "capture: a join table has no parquet root path"): JValue
          else
            ("kind" -> "join") ~
            ("tables" -> paths.map { case (t, p) =>
              ("name" -> t) ~ ("path" -> p.get): JValue }) ~
            ("joinKeys" -> d.joinKeys.toList.sorted.map(p => List(p._1, p._2))) ~
            ("groupings" -> d.groupings.toList.sorted) ~
            ("grainKeys" -> d.grainKeys.toList.sorted) ~
            ("timeKeys" -> d.timeKeys.toList.sorted.map(p => List(p._1, p._2))) ~
            ("aggs" -> d.aggs.map(RollupRouting.aggJson)): JValue
        case scala.Right(_) =>
          ("kind" -> "skipped") ~
          ("reason" -> "capture: unrecognized demand shape"): JValue
        case scala.Left(r) =>
          ("kind" -> "skipped") ~ ("reason" -> r): JValue
      }.toList
    val target = java.nio.file.Paths.get(path)
    Option(target.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val prior: List[JValue] =
      if (append && java.nio.file.Files.exists(target))
        (JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(target),
           java.nio.charset.StandardCharsets.UTF_8)) \ "demands").children
      else Nil
    java.nio.file.Files.write(target,
      JsonMethods.pretty(JsonMethods.render(
        JObject("demands" -> JArray(prior ++ entries))))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Parse a capture log into DISTINCT demands with their occurrence
    * counts — an appended log carries one entry per run, so identical
    * entries (bit-equal JSON) collapse into a frequency (round 15).
    * Runs under the loader contract's nanos conf, SAVED and RESTORED:
    * an advisory read API must not permanently change how unrelated
    * parquet reads in the same session interpret nanos timestamps. */
  private def parseCapture(spark: SparkSession, path: String)
      : Seq[(scala.Either[String, Any], Int)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val nanosPrev = spark.conf.getOption(nanosKey)
    spark.conf.set(nanosKey, "true")
    try {
    val doc = JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))
    val distinctEntries: Seq[(JValue, Int)] =
      (doc \ "demands").children
        .map(j => JsonMethods.compact(JsonMethods.render(j)) -> j)
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (_, g) => (g.head._2, g.size) }
    distinctEntries.map { case (j, freq) =>
      val d: scala.Either[String, Any] =
        (j \ "kind").extract[String] match {
          case "skipped" => scala.Left((j \ "reason").extract[String])
          case "single" =>
            val source = spark.read
              .parquet((j \ "sourcePath").extract[String])
              .queryExecution.analyzed
            val grain = for {
              g <- (j \ "grain").extractOpt[String]
              c <- (j \ "timeCol").extractOpt[String]
            } yield (g, c)
            scala.Right(SingleDemand((j \ "suffix").extract[String], source,
              grain, (j \ "keys").extract[List[String]].toSet,
              (j \ "aggs").children.map(a => RollupRouting.aggFromJson(spark, a))))
          case "join" =>
            val tables = (j \ "tables").children.map { t =>
              (t \ "name").extract[String] ->
                spark.read.parquet((t \ "path").extract[String])
                  .queryExecution.analyzed
            }.toMap
            scala.Right(JoinDemand(tables,
              joinKeys = RollupRouting.pairsFromJson(j \ "joinKeys", path, "joinKeys"),
              groupings = (j \ "groupings").extract[List[String]].toSet,
              grainKeys = (j \ "grainKeys").extract[List[String]].toSet,
              aggs = (j \ "aggs").children.map(a => RollupRouting.aggFromJson(spark, a)),
              timeKeys = RollupRouting.pairsFromJson(j \ "timeKeys", path, "timeKeys")))
          case k => scala.Left(s"capture: unknown demand kind $k")
        }
      (d, freq)
    }
    } finally {
      nanosPrev match {
        case Some(v) => spark.conf.set(nanosKey, v)
        case None => spark.conf.unset(nanosKey)
      }
    }
  }

  /** Does the advised/registered single-table spec ANSWER the captured
    * demand? The advisory approximation of the router's own matching —
    * keys a subset of the registered keys, the demand's grain
    * expressible from the spec's (hour needs hour; day/month ride
    * either grained spec by truncation composition; a keys-only demand
    * rides anything), every measure registered. Used for RANKING a
    * budgeted advise and for retirement reports, never for routing
    * (the router re-proves everything on the real plans). */
  private def servesSingle(spec: Spec, d: SingleDemand): Boolean =
    d.suffix == spec.sourceSuffix &&
    (d.keys - spec.timeCol).subsetOf(spec.keyCols.keySet) &&
    (d.grain match {
      case Some(("hour", c)) => spec.grain == "hour" && spec.timeCol == c
      case Some((_, c)) => spec.grain != "all" && spec.timeCol == c
      case None => true
    }) &&
    d.aggs.forall(a => spec.aggs.exists(_.key == a.key))

  /** [[servesSingle]] for the join path: same core (tables + join
    * keys), groupings/grains preserved, hour demands need the hourly
    * truncation, measures registered. */
  private def servesJoin(spec: JoinSpec, d: JoinDemand): Boolean =
    d.tables.keySet == spec.tables && d.joinKeys == spec.joinKeys &&
    d.groupings.subsetOf(spec.groupings.keySet) &&
    (d.grainKeys -- spec.grainCols.keySet -- spec.groupings.keySet).isEmpty &&
    d.timeKeys.forall { case (g, c) => spec.timeGroupings.exists {
      case (tg, _) => tg.col == c && (tg.grain == g || tg.grain == "hour") } } &&
    d.aggs.forall(a => spec.aggs.exists(_.key == a.key))

  /** Advise OFFLINE from a [[captureWorkload]] file: reconstruct each
    * demand (the source scan re-opens from its recorded path — the
    * bare relation, exactly what capture analyzed), then run the same
    * cost-aware merge as the live path.
    *
    * `budget` caps the CATALOG SIZE (round 15): when the workload
    * advises more specs than the budget admits, specs are ranked by
    * demand frequency × estimated read savings — an appended log's
    * duplicate entries are the frequencies ([[captureWorkload]]), and
    * savings are priced from the same bounded stats sample as the
    * merge decisions (source rows − the advised grain's estimated
    * group count; magnitudes, not precision). The specs past the
    * budget are recorded in `skipped` with their rank and weight, so
    * a dashboard run 1,000×/day out-ranks a one-off ad-hoc query and
    * the refusal is auditable. Every MV costs build + maintenance +
    * storage at 100 TB — the budget is how a deployment says how many
    * it is willing to pay for. */
  /** `skipServed = true` makes the daily loop IDEMPOTENT (round 15):
    * demands the CURRENTLY-REGISTERED catalog already answers are
    * dropped before advising (recorded in `skipped` with the serving
    * spec), so re-advising yesterday's log against yesterday's adopted
    * catalog proposes NOTHING, and a log that gained one new dashboard
    * proposes exactly that spec — the capture → advise → adopt →
    * retire cadence becomes a convergent fixed point instead of
    * re-minting the whole catalog every run. */
  def adviseCaptured(spark: SparkSession, path: String, rollupRoot: String,
                     maxReadInflation: Double = Double.NaN,
                     budget: Int = Int.MaxValue,
                     skipServed: Boolean = false): Advice = {
    val parsed0 = parseCapture(spark, path)
    val served = scala.collection.mutable.Buffer.empty[String]
    val parsed = if (!skipServed) parsed0 else parsed0.filter {
      case (scala.Right(d: SingleDemand), _) =>
        RollupRouting.registered.find(servesSingle(_, d)) match {
          case Some(s) =>
            served += s"${d.suffix}: demand already served by registered " +
              s"spec ${s.rollupPath} — no new advice"
            false
          case None => true
        }
      case (scala.Right(d: JoinDemand), _) =>
        RollupRouting.registeredJoins.find(servesJoin(_, d)) match {
          case Some(s) =>
            served += s"${d.tables.keySet.toSeq.sorted.mkString("⋈")}: demand " +
              s"already served by registered MV ${s.rollupPath} — no new advice"
            false
          case None => true
        }
      case _ => true
    }
    val advice0 = adviseDemands(spark, parsed.map(_._1), rollupRoot,
      if (maxReadInflation.isNaN) confMaxReadInflation(spark) else maxReadInflation)
    val advice = advice0.copy(skipped = advice0.skipped ++ served)
    val total = advice.singles.size + advice.joins.size
    if (budget >= total) advice
    else {
      val singleDs = parsed.collect { case (scala.Right(d: SingleDemand), f) => (d, f) }
      val joinDs = parsed.collect { case (scala.Right(d: JoinDemand), f) => (d, f) }
      // savings per read at the stats-sample scale: rows the routed
      // scan avoids ≈ sampled source rows − the advised grain's
      // estimated group count (product of key distincts, capped).
      // Calendar grain keys are deliberately uncounted — bounded at
      // any volume, identical across competing specs of one source.
      def sampleStats(p: LogicalPlan, cols: Seq[String]): (Long, Map[String, Long]) = {
        import org.apache.spark.sql.functions.{approx_count_distinct, col, count, lit}
        val df = org.apache.spark.sql.graftx.Bridge.ofRows(spark, p)
          .limit(confStatsSampleRows(spark))
        val row = df.agg(count(lit(1)),
          cols.map(c => approx_count_distinct(col(c))): _*).head()
        (row.getLong(0),
         cols.zipWithIndex.map { case (c, i) => c -> row.getLong(i + 1) }.toMap)
      }
      def weightSingle(a: AdvisedSingle): Double = {
        val keys = a.spec.keyCols.keySet.toSeq.sorted
        val (rows, dist) = sampleStats(a.source, keys)
        val est = keys.foldLeft(1.0)((p, k) =>
          p * math.max(1L, dist.getOrElse(k, 1L)).toDouble) min rows.toDouble
        val freq = singleDs.collect {
          case (d, f) if servesSingle(a.spec, d) => f }.sum
        freq.toDouble * math.max(1.0, rows - est)
      }
      def weightJoin(a: AdvisedJoin): Double = {
        val keyCols = (a.spec.groupings.keySet ++ a.spec.grainCols.keySet).toSeq.sorted
        val perTable = a.tables.toSeq.sortBy(_._1).map { case (_, p) =>
          sampleStats(p, keyCols.filter(c => p.output.exists(_.name == c)))
        }
        val rows = perTable.map(_._1).max // the fact dominates the read
        val dist = perTable.map(_._2).reduceOption(_ ++ _).getOrElse(Map.empty)
        val est = keyCols.foldLeft(1.0)((p, k) =>
          p * math.max(1L, dist.getOrElse(k, 1L)).toDouble) min rows.toDouble
        val freq = joinDs.collect {
          case (d, f) if servesJoin(a.spec, d) => f }.sum
        freq.toDouble * math.max(1.0, rows - est)
      }
      val ranked: Seq[(Double, scala.Either[AdvisedSingle, AdvisedJoin])] =
        (advice.singles.map(a => (weightSingle(a), scala.Left(a): scala.Either[AdvisedSingle, AdvisedJoin])) ++
         advice.joins.map(a => (weightJoin(a), scala.Right(a): scala.Either[AdvisedSingle, AdvisedJoin])))
          .sortBy { case (w, e) =>
            (-w, e.fold(_.spec.rollupPath, _.spec.rollupPath)) }
      val (kept, dropped) = ranked.splitAt(budget)
      advice.copy(
        singles = advice.singles.filter(a => kept.exists(_._2 == scala.Left(a))),
        joins = advice.joins.filter(a => kept.exists(_._2 == scala.Right(a))),
        skipped = advice.skipped ++ dropped.zipWithIndex.map { case ((w, e), i) =>
          f"budget($budget): ${e.fold(_.spec.rollupPath, _.spec.rollupPath)} " +
            f"ranked #${budget + i + 1} (frequency×savings weight $w%.0f) — not advised" })
    }
  }

  /** RETIREMENT candidates from a capture log (round 15): every
    * registered spec (both registries — what an [[adopt]]ed session
    * serves) that NO demand in the log would read. The advisor's
    * input at 100 TB is a rolling window of the workload; an MV whose
    * demand vanished from the window costs build + maintenance +
    * storage for nothing, and this report is the signal to feed
    * [[Adopted.retire]]. Returns (rollupPath, reason) — a REPORT, not
    * a drop: retiring is the owner's call, exactly like adoption. */
  def retireCandidates(spark: SparkSession, capturePath: String)
      : Seq[(String, String)] = {
    val parsed = parseCapture(spark, capturePath)
    val singles = parsed.collect { case (scala.Right(d: SingleDemand), f) => (d, f) }
    val joins = parsed.collect { case (scala.Right(d: JoinDemand), f) => (d, f) }
    val stale =
      RollupRouting.registered.filterNot(s => singles.exists(df => servesSingle(s, df._1)))
        .map(s => s.rollupPath ->
          s"no captured demand over ${s.sourceSuffix} reads this spec") ++
      RollupRouting.registeredJoins.filterNot(s => joins.exists(df => servesJoin(s, df._1)))
        .map(s => s.rollupPath ->
          s"no captured demand over ${s.tables.toSeq.sorted.mkString("⋈")} reads this MV")
    stale.sortBy(_._1)
  }

  /** Build every advised rollup from its captured scans (spec-driven
    * builders — the same code a hand registration uses) and return the
    * advised specs as one catalog, for [[RollupRouting.route]].
    * `memoized` reuses the per-session build cache for stable scratch
    * paths. */
  def build(spark: SparkSession, advice: Advice, memoized: Boolean = true): Catalog = {
    import org.apache.spark.sql.graftx.Bridge
    def write(dir: String, df: => DataFrame): Unit =
      if (memoized) { ensureRollup(spark, dir)(df); () }
      else df.write.mode("overwrite").parquet(dir)
    advice.singles.foreach { a =>
      // the captured scan is the BARE relation, below the loader's
      // normalization projects — re-apply the contract's NTZ→session
      // cast ([[graft.Tables]]; an instant identity under the pinned
      // UTC session) so the rollup's grain keys carry the same types
      // the normalized query groups by
      val raw = Bridge.ofRows(spark, a.source)
      val src =
        if (raw.schema.fieldNames.contains(a.spec.timeCol) &&
            raw.schema(a.spec.timeCol).dataType ==
              org.apache.spark.sql.types.TimestampNTZType)
          raw.withColumn(a.spec.timeCol,
            org.apache.spark.sql.functions.col(a.spec.timeCol).cast("timestamp"))
        else raw
      write(a.spec.rollupPath, buildPartials(src, a.spec))
    }
    advice.joins.foreach { a =>
      write(a.spec.rollupPath,
        buildJoinPartials(a.tables.map { case (n, p) => n -> Bridge.ofRows(spark, p) },
                          a.spec))
    }
    Catalog(advice.singles.map(_.spec), advice.joins.map(_.spec))
  }

  /** [[build]] (one-shot unless `memoized`), then register every
    * advised spec on the active session. */
  def buildAndRegister(spark: SparkSession, advice: Advice,
                       memoized: Boolean = false): Advice = {
    val built = build(spark, advice, memoized)
    built.specs.foreach(register)
    built.joinSpecs.foreach(registerJoin)
    advice
  }

  /** The handle [[adopt]] returns: the adopted advice, where its
    * catalog persisted, and the production wiring for keeping each
    * adopted rollup fresh — one more call per source stream. */
  case class Adopted(advice: Advice, registryPath: String) {
    /** Wire incremental maintenance for one adopted single-table spec:
      * drains `stream` through [[graft.streaming.Live.maintainRollup]]
      * (append partial blocks per micro-batch, advance the coverage
      * sidecar monotonically). Pass a persistent `checkpointDir` for
      * exactly-once across restarts. */
    def maintain(stream: DataFrame, spec: Spec,
                 checkpointDir: Option[String] = None): Unit =
      graft.streaming.Live.maintainRollup(stream, spec, checkpointDir)

    /** The JOIN-MV twin: per micro-batch the spec's own build over
      * (batch-as-fact ⋈ runtime-pruned dims), appended with the same
      * coverage protocol ([[graft.streaming.Live.maintainJoinRollup]];
      * requires `spec.coverage`). */
    def maintainJoin(factStream: DataFrame, factTable: String,
                     dims: Map[String, DataFrame], spec: JoinSpec,
                     checkpointDir: Option[String] = None): Unit =
      graft.streaming.Live.maintainJoinRollup(
        factStream, factTable, dims, spec, checkpointDir)

    /** RETIRE one adopted registration (round 14): drop it from the
      * live registry AND re-persist the catalog, so a restart stays
      * retired — the DROP half of the adopt lifecycle. Queries fall
      * back to the next-cheapest MV or their live plan on the next
      * planning pass; the rollup's files are left for the owner. */
    def retire(rollupPath: String): Boolean = {
      val removed = RollupRouting.unregister(rollupPath)
      if (removed) RollupRouting.saveRegistry(registryPath)
      removed
    }
  }

  /** ADOPT — one call that turns [[advise]]'s output into a LIVE,
    * DURABLE catalog: build every proposed rollup from its captured
    * scans (the same spec-driven builders a hand registration uses),
    * register each spec, persist the whole registry as JSON
    * ([[RollupRouting.saveRegistry]] — a later session reloads it
    * with `loadRegistry` and routes with zero re-advising), and
    * install the routing rule on the session if absent. The returned
    * [[Adopted]] handle exposes per-spec streaming maintenance, so
    * workload → advise → adopt → maintain is the complete lifecycle.
    * This is the reference's `setup-analytics.sh:49-113` —
    * create-and-wire all MVs in one script — done from the WORKLOAD
    * instead of by hand. `memoized = true` reuses an existing build
    * at the spec's path (idempotent re-adopt). */
  def adopt(spark: SparkSession, advice: Advice, registryPath: String,
            memoized: Boolean = false): Adopted = {
    buildAndRegister(spark, advice, memoized)
    RollupRouting.saveRegistry(registryPath)
    RollupRouting.install(spark)
    Adopted(advice, registryPath)
  }

  /** Driver entry (q176, shares q165's oracle): the advisor reads the
    * RAW orders dashboard, proposes its daily registration (year
    * window folded into subsumable keys, grain from the DATE column),
    * builds + registers it, and the unchanged query routes. No human
    * wrote this spec. */
  /** Driver entry (q201, shares q200's oracle): the GROUP BY ROLLUP
    * dashboard itself advises its spec — [[flattenGroupingSets]] turns
    * the Aggregate-over-Expand plan into the full-grouping-set demand,
    * the advised (day, user) rollup builds from the bare relation, and
    * the UNCHANGED lattice query routes through it (`rewriteExpand`
    * replays the Expand over the rollup's partial rows). The closed
    * loop the reference does by hand, for its hardest dashboard
    * shape. */
  def advisedLattice(spark: SparkSession, sfDir: String): DataFrame = {
    val root = graft.ops.StarJoins.scratch(sfDir, "advised_lattice")
    val advice = advise(
      Seq(graft.ops.Rollups.rollupDashboardRaw(spark, sfDir)), root)
    require(advice.singles.size == 1 && advice.skipped.isEmpty,
      s"advisor unexpectedly skipped: ${advice.skipped}")
    route(spark, build(spark, advice)) { graft.ops.Rollups.rollupDashboardRaw(spark, sfDir) }
  }

  /** Driver entry (q220, oracled — shares q219's oracle): the EXACT
    * distinct-count lattice ADVISED end-to-end. The ROLLUP dashboard
    * over `COUNT(DISTINCT user_id)` used to be refused ("subtotal rows
    * cannot re-count"); with the bitmap member the flattened demand
    * mints [[RollupRouting.BitmapUniqOf]] (integral column, OR-union
    * subtotal-safe), the advised spec builds compressed bitmap states
    * per (day, type), and the UNCHANGED lattice query routes through
    * them — every grain exact, the fact never scanned. */
  def advisedBitmapLattice(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val root = graft.ops.StarJoins.scratch(sfDir, "advised_bm_lattice")
    val q = () => graft.Tables.events(spark, sfDir)
      .rollup(to_date(col("ts")).as("day"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("uniq_users"),
           count(lit(1)).as("txs"))
      .orderBy(col("day").asc_nulls_first, col("event_type").asc_nulls_first)
    val advice = advise(Seq(q()), root)
    require(advice.singles.size == 1 && advice.skipped.isEmpty,
      s"advisor unexpectedly skipped: ${advice.skipped}")
    require(advice.singles.head.spec.aggs.exists(
        _.isInstanceOf[RollupRouting.BitmapUniqOf]),
      s"the lattice distinct must advise the bitmap member: " +
        advice.singles.head.spec.aggs)
    route(spark, build(spark, advice)) { q() }
  }

  /** Driver entry (q232, oracled): the GRAIN-CLAIM → BITMAP swap. A
    * per-day exact-distinct-users dashboard and a per-day volume
    * dashboard used to advise TWO specs — the claim dragged user_id
    * into its spec's keys, a (day × user)-sized rollup, and the
    * volume read refused the ~user-fold inflation. The swap re-mints
    * the split-forcing claim as the bitmap member, so ONE
    * calendar-sized spec serves both dashboards: the distinct count
    * reads a compressed bitmap per day (exact), the volume its sum
    * partial. The unchanged distinct dashboard is the oracled read. */
  def advisedClaimSwap(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val root = graft.ops.StarJoins.scratch(sfDir, "advised_claimswap")
    val qA = () => graft.Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("n_users"),
           count(lit(1)).as("n"))
      .orderBy("day")
    val qB = graft.Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(graft.ops.Fns.dsum(col("value")).as("volume"))
    val advice = advise(Seq(qA(), qB), root)
    require(advice.singles.size == 1 && advice.skipped.isEmpty,
      s"the swap must pool ONE spec: $advice")
    require(advice.singles.head.spec.aggs.exists(
        _.isInstanceOf[RollupRouting.BitmapUniqOf]) &&
      advice.splits.exists(_.contains("bitmap")),
      s"the claim must swap to the bitmap member: $advice")
    route(spark, build(spark, advice)) { qA() }
  }

  def advisedOrdersDashboard(spark: SparkSession, sfDir: String): DataFrame = {
    val root = graft.ops.StarJoins.scratch(sfDir, "advised_orders")
    val advice = advise(Seq(graft.ops.Rollups.ordersDailySalesRaw(spark, sfDir)), root)
    require(advice.singles.size == 1 && advice.skipped.isEmpty,
      s"advisor unexpectedly skipped: ${advice.skipped}")
    route(spark, build(spark, advice)) { graft.ops.Rollups.ordersDailySalesRaw(spark, sfDir) }
  }

  /** Driver entry (q178, shares q01's oracle): a DAY-grain keyed
    * dashboard and an HOUR-grain keyless count over events advise
    * COST-AWARELY (round 14): pooling them would put the hourly count
    * on a user-keyed rollup — a read that grows with the user count —
    * so past the inflation bound the advisor emits SEPARATE per-grain
    * specs (an hourly calendar-sized count MV and the (day, user)
    * rollup), and the unchanged daily query routes through its own.
    * Exercises the advised EVENTS path end-to-end: the build
    * re-applies the loader's NTZ normalization to the captured bare
    * relation. */
  def advisedEventsDaily(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val root = graft.ops.StarJoins.scratch(sfDir, "advised_events")
    val hourlyCount = graft.Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
      .orderBy("h")
    val advice = advise(
      Seq(graft.ops.Rollups.daily(spark, sfDir), hourlyCount), root)
    require(advice.singles.size == 2 && advice.skipped.isEmpty &&
        advice.splits.nonEmpty,
      s"the keyed + keyless demands must advise per-grain specs: $advice")
    route(spark, build(spark, advice)) { graft.ops.Rollups.daily(spark, sfDir) }
  }

  /** Driver entry (q180, shares q179's oracle): a BY-DATE star
    * dashboard advises a (o_orderdate, c_mktsegment)-grain join MV —
    * the DATE grouping is the identity on the preserved column, so it
    * registers as an ordinary grouping and the merge build lands the
    * rollup at exactly the dashboard's grain; the unchanged query
    * routes through it. */
  def advisedDatedStar(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.StarJoins
    val root = StarJoins.scratch(sfDir, "advised_dated")
    val advice = advise(Seq(StarJoins.revenueByDaySegment(spark, sfDir)), root)
    require(advice.joins.size == 1 && advice.skipped.isEmpty,
      s"advisor must propose the dated join MV: $advice")
    route(spark, build(spark, advice)) { StarJoins.revenueByDaySegment(spark, sfDir) }
  }

  /** Driver entry (q182, shares q181's oracle): a TRUNCATING time
    * grain over a join, advised end-to-end — the hourly and daily
    * events⋈customer dashboards merge into ONE (hour, segment) MV
    * whose time key is the registered `date_trunc('hour', ts)`
    * pattern; the unchanged DAILY query routes through it by
    * truncation composition. The hour+day merge picks the finest
    * demanded grain, exactly like the single-table advisor. */
  def advisedEventsStarHourly(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.StarJoins
    import org.apache.spark.sql.functions._
    val root = StarJoins.scratch(sfDir, "advised_events_star")
    val hourly = graft.Tables.events(spark, sfDir)
      .join(broadcast(graft.Tables.customer(spark, sfDir)),
            col("user_id") === col("c_custkey"))
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("c_mktsegment"))
      .agg(graft.ops.Fns.dsum(col("value")).as("sum_value"),
           count(lit(1)).as("n_events"))
    val daily = StarJoins.eventsSegmentDaily(spark, sfDir)
    val advice = advise(Seq(hourly, daily), root)
    require(advice.joins.size == 1 && advice.skipped.isEmpty &&
        advice.joins.head.spec.timeGroupings.map(_._1) ==
          Seq(TimeGrainPat("hour", "ts")),
      s"advisor must merge hour+day into one hourly time-grain MV: $advice")
    route(spark, build(spark, advice)) { StarJoins.eventsSegmentDaily(spark, sfDir) }
  }

  /** Driver entry (q177, shares q166's oracle): the advisor reads
    * THREE raw star-join dashboards (revenue, gross charge, quantity
    * stats) and advises COST-AWARELY (round 14): revenue's
    * COUNT(DISTINCT o_orderkey) pins a PER-ORDER grain whose row
    * count grows with the data, so pooling would inflate the two
    * segment-only dashboards' reads ~orders-fold — they split into a
    * segment-grain MV of their own (the r12 single mega-MV measured
    * that inflation); the unchanged charge query routes through the
    * segment MV (AdvisorSpec proves all three route and hash-match
    * their live answers). */
  def advisedStarWorkload(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.StarJoins
    val root = StarJoins.scratch(sfDir, "advised_star")
    val advice = advise(Seq(
      StarJoins.revenueBySegment(spark, sfDir),
      StarJoins.chargeBySegment(spark, sfDir),
      StarJoins.segmentQtyStats(spark, sfDir)), root)
    require(advice.joins.size == 2 && advice.skipped.isEmpty &&
        advice.splits.nonEmpty,
      s"the per-order grain must split off the segment dashboards: $advice")
    route(spark, build(spark, advice)) { StarJoins.chargeBySegment(spark, sfDir) }
  }

  /** Driver entry (q187, rows-only like the q184 sketch family): the
    * SKETCH demand advised end-to-end — the raw daily approx-uniques
    * dashboard and the (day, user) volume dashboard advise SEPARATE
    * specs under the cost-aware merge (round 14: a day-sized HLL read
    * must not sit on a user-keyed rollup whose row count grows with
    * the users), and the unchanged sketch query routes through its
    * own calendar-sized spec (AdvisorSpec pins routed ≡ live for BOTH
    * queries of the workload). */
  def advisedUniqSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val root = graft.ops.StarJoins.scratch(sfDir, "advised_uniq")
    val advice = advise(Seq(
      graft.ops.Rollups.dailyUniqSketchRaw(spark, sfDir),
      graft.ops.Rollups.daily(spark, sfDir)), root)
    require(advice.singles.size == 2 && advice.skipped.isEmpty,
      s"the sketch + keyed volume demands must advise per-grain specs: $advice")
    route(spark, build(spark, advice)) { graft.ops.Rollups.dailyUniqSketchRaw(spark, sfDir) }
  }

  /** Driver entry (q196, shares q194's oracle): a MONTHLY workload
    * advised end-to-end — the month truncation registers as a
    * DAY-grain demand (the finest grain the router can serve it
    * from, so the advised spec stays reusable for daily dashboards),
    * and the unchanged monthly query routes through the advised daily
    * rollup by truncation composition. */
  def advisedMonthly(spark: SparkSession, sfDir: String): DataFrame = {
    val root = graft.ops.StarJoins.scratch(sfDir, "advised_monthly")
    val advice = advise(Seq(graft.ops.Rollups.monthlyVolumeRaw(spark, sfDir)), root)
    require(advice.singles.size == 1 && advice.skipped.isEmpty &&
        advice.singles.head.spec.grain == "day",
      s"a monthly demand must advise a day-grain spec: $advice")
    route(spark, build(spark, advice)) { graft.ops.Rollups.monthlyVolumeRaw(spark, sfDir) }
  }

  /** Driver entry (q208, shares q133's oracle): the ARG-EXTREMA
    * dashboard ADVISED end-to-end (round 14) — `max(struct(value,
    * user)).getField(u)` mines a [[RollupRouting.MaxPatOf]] demand
    * (the sixth state member, register-only until now), pooled with a
    * (day, type) volume dashboard that pins the grain; the advised
    * spec builds struct-extremum states and the UNCHANGED q133-shape
    * query routes through them. Completes the advise story for all
    * six members. */
  def advisedArgExtremes(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val root = graft.ops.StarJoins.scratch(sfDir, "advised_extrema")
    val volume = graft.Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(graft.ops.Fns.dsum(col("value")).as("total_value"),
           count(lit(1)).as("n_events"))
    val advice = advise(
      Seq(graft.ops.Rollups.argExtremes(spark, sfDir), volume), root)
    require(advice.singles.size == 1 && advice.skipped.isEmpty,
      s"the extrema + volume workload must advise one (day, type) spec: $advice")
    val aggs = advice.singles.head.spec.aggs
    require(aggs.exists(_.isInstanceOf[MaxPatOf]) &&
            aggs.exists(_.isInstanceOf[MinPatOf]),
      s"the advised spec must carry both struct-extremum states: $aggs")
    route(spark, build(spark, advice)) { graft.ops.Rollups.argExtremes(spark, sfDir) }
  }

  /** The five dashboards [[advisedStateSuite]] pools into one spec. */
  private[graft] def stateSuiteQueries(spark: SparkSession, sfDir: String)
      : Seq[DataFrame] = Seq(
    graft.ops.Rollups.dailyUniqSketchRaw(spark, sfDir),
    graft.ops.Rollups.dailyQuantileSketchRaw(spark, sfDir),
    graft.ops.Rollups.dailyTopUsersRaw(spark, sfDir),
    graft.ops.Rollups.monthlyVolumeRaw(spark, sfDir),
    graft.ops.Rollups.daily(spark, sfDir))

  /** Driver entry (q199, rows-only like the sketch family): the FULL
    * state-suite workload advised into a PER-GRAIN catalog (round 14)
    * — the daily uniques sketch, the p50/p95 KLL dashboard, the
    * top-users dashboard, and the monthly volume cut pool into one
    * calendar-sized day-grain spec carrying all three sketch states;
    * the (day, user) volume rollup gets its own keyed spec, because
    * pooling would put every day-sized sketch read on a rollup whose
    * rows grow with the user count. Every one of the five unchanged
    * queries routes through its natural spec (AdvisorSpec pins each
    * against its live answer) — the reference's six hand-designed MVs
    * at their natural grains, inferred from the raw workload. */
  def advisedStateSuite(spark: SparkSession, sfDir: String): DataFrame = {
    val root = graft.ops.StarJoins.scratch(sfDir, "advised_suite")
    val advice = advise(stateSuiteQueries(spark, sfDir), root)
    require(advice.singles.size == 2 && advice.skipped.isEmpty &&
        advice.splits.nonEmpty,
      s"the state suite must advise per-grain specs: $advice")
    route(spark, build(spark, advice)) { graft.ops.Rollups.dailyUniqSketchRaw(spark, sfDir) }
  }

  /** Driver entry (q202, shares q165's oracle): the ADOPTED catalog
    * end-to-end — the raw orders dashboard advises its spec, one
    * [[adopt]] call builds + registers + PERSISTS it, then the
    * in-memory registry is deliberately DROPPED and reloaded from the
    * adopt-written JSON before the unchanged query runs. The only
    * setup between the workload and the routed read is
    * advise → adopt; a future session needs nothing but the persisted
    * catalog file (the round-trip a restart would take). */
  def adoptedOrdersDashboard(spark: SparkSession, sfDir: String): DataFrame = {
    val root = graft.ops.StarJoins.scratch(sfDir, "adopted_orders")
    val advice = advise(Seq(graft.ops.Rollups.ordersDailySalesRaw(spark, sfDir)), root)
    require(advice.singles.size == 1 && advice.skipped.isEmpty,
      s"advisor unexpectedly skipped: ${advice.skipped}")
    val reloaded = keepingRegistry {
      val adopted = adopt(spark, advice, s"$root/registry.json", memoized = true)
      RollupRouting.clear()
      RollupRouting.loadRegistry(spark, adopted.registryPath)
      RollupRouting.catalog
    }
    route(spark, reloaded)(graft.ops.Rollups.ordersDailySalesRaw(spark, sfDir))
  }

  /** Driver entry (q205, shares q204's oracle): the FOUR-STATE
    * ADOPTED suite — the five state-suite dashboards plus a
    * sorted-set distinct dashboard advise into a PER-GRAIN catalog
    * (round 14): a calendar-sized (day) spec carrying the three
    * sketch states, the (day, user) volume rollup, and a (day, type)
    * spec carrying the distinct-set state — the cost-aware split that
    * keeps the 5-row set dashboard off a rollup whose rows grow with
    * the user count (the r13 one-spec merge read 150k full-key
    * array-state rows at ×100, 6.9× the live scan). One [[adopt]]
    * call builds + registers + persists the whole catalog, the
    * in-memory registry is dropped and reloaded from the JSON, and
    * the unchanged q204-shape dashboard routes through its natural
    * spec. The oracled member of the state family exercising the
    * adopted multi-state catalog end-to-end. */
  /** The advise-time set demand: the mappable sorted-set + size +
    * count shape (string-joining is a read-side projection the ROUTER
    * handles; the ADVISOR demands the aggregate underneath). */
  private def setSuiteDemand(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(sort_array(collect_set(col("user_id"))).as("users"),
           size(collect_set(col("user_id"))).as("n_users"),
           count(lit(1)).as("n_events"))
  }

  /** The q204-shape read the adopted/captured suites serve. */
  private def setDashboard(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        array_join(expr(
          "transform(sort_array(collect_set(user_id)), x -> cast(x as string))"),
          ",").as("users"),
        size(collect_set(col("user_id"))).cast("long").as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  def adoptedStateSuite(spark: SparkSession, sfDir: String): DataFrame = {
    val root = graft.ops.StarJoins.scratch(sfDir, "adopted_states")
    val advice = advise(
      stateSuiteQueries(spark, sfDir) :+ setSuiteDemand(spark, sfDir), root)
    require(advice.singles.size == 3 && advice.skipped.isEmpty &&
        advice.splits.nonEmpty,
      s"the four-state workload must advise per-grain specs: $advice")
    val aggs = advice.singles.flatMap(_.spec.aggs)
    require(aggs.exists(_.isInstanceOf[HllUniqOf]) &&
            aggs.exists(_.isInstanceOf[KllQuantileOf]) &&
            aggs.exists(_.isInstanceOf[TopKOf]) &&
            aggs.exists(_.isInstanceOf[SetOf]),
      s"the advised catalog must carry all four state members: $aggs")
    // the set dashboard's spec must be CALENDAR-SIZED — the split's
    // whole point: its rollup carries no user-shaped key
    val setSpec = advice.singles.map(_.spec)
      .find(_.aggs.exists(_.isInstanceOf[SetOf])).get
    require(setSpec.keyCols.keySet == Set("event_type"),
      s"the set state must land on the (day, type) grain: $setSpec")
    val reloaded = keepingRegistry {
      val adopted = adopt(spark, advice, s"$root/registry.json", memoized = true)
      RollupRouting.clear()
      RollupRouting.loadRegistry(spark, adopted.registryPath)
      RollupRouting.catalog
    }
    route(spark, reloaded)(setDashboard(spark, sfDir))
  }

  /** Driver entry (q212): the GRAINLESS advising loop (round 15) —
    * the most common real dashboard the registry previously could not
    * serve: "total per user over ALL time". The keys-only workload
    * (per-user totals + per-type counts) pins NO time grain, so the
    * advisor seeds "all"-grain specs (one row per key group; the two
    * key sets split under the gained-key inflation bound exactly like
    * grained demands), builds them one-shot (complete — no sidecar),
    * and the UNCHANGED per-user query routes with the fact never
    * scanned. Beyond-reference: all six reference MVs bucket time
    * (`usdc-transfers/sql/analytics.sql:19,31,50,65,85,106`); the
    * grainless member serves the day-one dashboard they cannot. */
  def advisedAllTime(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val root = graft.ops.StarJoins.scratch(sfDir, "advised_alltime")
    val perUser = graft.Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(graft.ops.Fns.dsum(col("value")).as("total_value"),
           count(lit(1)).as("n_events"))
      .orderBy("user_id")
    val perType = graft.Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val advice = advise(Seq(perUser, perType), root)
    require(advice.skipped.isEmpty &&
        advice.singles.nonEmpty && advice.singles.forall(_.spec.grain == "all"),
      s"a purely grainless workload must advise all-grain specs: $advice")
    route(spark, build(spark, advice)) {
      graft.Tables.events(spark, sfDir)
        .groupBy(col("user_id"))
        .agg(graft.ops.Fns.dsum(col("value")).as("total_value"),
             count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }
  }

  /** Driver entry (q213): FREQUENCY-WEIGHTED BUDGETED advising (round
    * 15) — the capture log is APPENDED once per dashboard run (six
    * entries for the hot (day, type) volume dashboard, one for the
    * ad-hoc orders query), and `budget = 1` makes the advisor pick by
    * frequency × estimated read savings: the hot dashboard's spec is
    * built and routed, the one-off is recorded as dropped, not
    * silently vanished. The reference's six MVs exist because those
    * are the README's REPEATEDLY-asked dashboards
    * (`usdc-transfers/README.md:61-84`) — this is that judgment,
    * measured from the log instead of assumed. */
  def advisedBudgeted(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val root = graft.ops.StarJoins.scratch(sfDir, "budget_advise")
    val hot = () => graft.Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(graft.ops.Fns.dsum(col("value")).as("total_value"),
           count(lit(1)).as("n_events"))
      .orderBy("day", "event_type")
    val log = s"$root/workload.json"
    captureWorkload(Seq(hot()), log) // fresh log each run (no append)
    (1 to 5).foreach(_ => captureWorkload(Seq(hot()), log, append = true))
    captureWorkload(Seq(graft.ops.Rollups.ordersDailySalesRaw(spark, sfDir)),
                    log, append = true)
    val advice = adviseCaptured(spark, log, root, budget = 1)
    require(advice.singles.size == 1 && advice.joins.isEmpty &&
        advice.singles.head.spec.sourceSuffix == "events.parquet" &&
        advice.skipped.exists(s => s.contains("budget(1)") && s.contains("orders")),
      s"the 6x-captured dashboard must win the budget over the one-off: $advice")
    route(spark, build(spark, advice)) { hot() }
  }

  /** Driver entry (q216): the DAY-2 advising loop (round 15) — the
    * daily capture → advise → adopt cadence is a convergent fixed
    * point: day 1's two-dashboard log adopts a catalog; day 2
    * re-advises the same log with `skipServed` and proposes NOTHING
    * (both demands recorded as served); day 3's log gains a min/max
    * dashboard and the delta advises EXACTLY that spec, which adopts
    * alongside the existing catalog and routes the new dashboard.
    * The reference's analog is editing `sql/analytics.sql` to add MV
    * #7 without touching the six that exist. */
  def advisedDelta(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val root = graft.ops.StarJoins.scratch(sfDir, "delta_advise")
    val log = s"$root/workload.json"
    val volume = () => graft.Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(graft.ops.Fns.dsum(col("value")).as("v"), count(lit(1)).as("c"))
    val orders = () => graft.ops.Rollups.ordersDailySalesRaw(spark, sfDir)
    val extrema = () => graft.Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"),
           count(lit(1)).as("n_events"))
      .orderBy("day")
    captureWorkload(Seq(volume(), orders()), log)
    val adopted = keepingRegistry {
      val day1 = adviseCaptured(spark, log, root)
      require(day1.singles.size == 2, s"day 1 must advise both sources: $day1")
      buildAndRegister(spark, day1, memoized = true)
      val day2 = adviseCaptured(spark, log, root, skipServed = true)
      require(day2.singles.isEmpty && day2.joins.isEmpty &&
          day2.skipped.count(_.contains("already served")) == 2,
        s"day 2 must converge to no new advice: $day2")
      captureWorkload(Seq(extrema()), log, append = true)
      val day3 = adviseCaptured(spark, log, root, skipServed = true)
      require(day3.singles.size == 1 &&
          day3.singles.head.spec.aggs.exists(_.isInstanceOf[MinOf]),
        s"day 3 must advise exactly the new dashboard: $day3")
      buildAndRegister(spark, day3, memoized = true)
      RollupRouting.catalog
    }
    route(spark, adopted)(extrema())
  }

  /** Driver entry (q214, rows-only — sketch values are estimator-
    * specific, so the named RollupRoutingSpec/AdvisorSpec invariants
    * carry correctness): uniqIf END-TO-END (round 15) — the
    * conditional-distinct dashboard `hll_sketch_agg(CASE WHEN pred
    * THEN col END)` ADVISES the HLL member over the CASE pattern
    * (NULLs never enter a sketch, so the state is exactly ClickHouse's
    * `uniqIfState`), the advised spec builds, and the unchanged query
    * routes bit-equal to the single-pass conditional sketch with the
    * fact never scanned. */
  def advisedUniqIf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val root = graft.ops.StarJoins.scratch(sfDir, "advised_uniqif")
    val q = () => graft.Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(
             when(col("event_type") === "click", col("user_id")), 12))
           .as("clickers"),
           count(lit(1)).as("n_events"))
      .orderBy("day")
    val advice = advise(Seq(q()), root)
    require(advice.skipped.isEmpty && advice.singles.size == 1 &&
        advice.singles.head.spec.aggs.exists {
          case HllUniqOf(_: ExprPat, _, 12) => true; case _ => false },
      s"the conditional-distinct demand must advise a pattern HLL state: $advice")
    route(spark, build(spark, advice)) { q() }
  }

  /** Driver entry (q210, shares q204's oracle): the OFFLINE advising
    * loop end-to-end (round 14) — the six-dashboard q205 workload is
    * CAPTURED to a JSON demand log, the advice is mined FROM THE FILE
    * (no live workload DataFrames), adopted, the registry reloaded
    * from the persisted catalog, and the unchanged set dashboard
    * routes. This is the production 100 TB workflow: yesterday's
    * query log advises tomorrow's MVs in an offline pass. */
  def capturedStateSuite(spark: SparkSession, sfDir: String): DataFrame = {
    val root = graft.ops.StarJoins.scratch(sfDir, "captured_states")
    captureWorkload(
      stateSuiteQueries(spark, sfDir) :+ setSuiteDemand(spark, sfDir),
      s"$root/workload.json")
    val advice = adviseCaptured(spark, s"$root/workload.json", root)
    require(advice.singles.size == 3 && advice.skipped.isEmpty,
      s"the captured workload must advise the same per-grain catalog: $advice")
    require(advice.singles.flatMap(_.spec.aggs)
              .exists(_.isInstanceOf[SetOf]),
      s"the captured set demand must survive the file round-trip: $advice")
    val reloaded = keepingRegistry {
      val adopted = adopt(spark, advice, s"$root/registry.json", memoized = true)
      RollupRouting.clear()
      RollupRouting.loadRegistry(spark, adopted.registryPath)
      RollupRouting.catalog
    }
    route(spark, reloaded)(setDashboard(spark, sfDir))
  }
}
