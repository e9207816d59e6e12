package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.RollupRouting.{Catalog, route}
import Rollups.eventsMV

/** Statistical moments over the SUM vocabulary (round 15). ClickHouse
  * ships `varSampState` / `corrState` as dedicated mergeable states;
  * on this engine they need NO new member: every moment is scalar
  * arithmetic over exact-decimal sums — n, Σx, Σx², Σy, Σy², Σxy —
  * and those are ordinary [[graft.plans.RollupRouting.SumOf]] pattern
  * demands (the squared/product measures are ExprPat measures like
  * any revenue expression). The aggregate node carries only the six
  * sums; the variance/stddev/corr arithmetic lives in a Project above
  * it, so the router rewrites the sums onto rollup partials and the
  * Project rides along untouched — `varSampMerge` for free. Exactness:
  * the double products are IEEE-identical on both engines, the sums
  * exact DECIMAL(38,6) ([[Fns.dsum]]), and the final double division/
  * sqrt single IEEE ops — hash-stable against DuckDB, which no
  * double-native Welford implementation is.
  *
  * Numerical note, honestly stated: the textbook (Σx² − (Σx)²/n)
  * form cancels catastrophically when stddev ≪ mean — the reason
  * Spark/DuckDB use Welford internally for their own var_samp. Here
  * the EXACT decimal sums remove the summation error entirely; the
  * one subtraction is performed in double at the end, which for MV
  * serving (the exact sums are what the rollup stores) is the right
  * trade: bit-reproducible, mergeable at any regrouping, and wrong
  * only in the last ~ulp·(mean/std)² digits — documented, and the
  * fixture's spreads keep it far inside double precision. */
object Moments {

  /** Driver entry (q224, oracled): mean / var_samp / stddev_samp of
    * lineitem quantity and the quantity-discount covariance/
    * correlation per return flag — every input an exact-decimal sum,
    * mined by the advisor as ordinary SumOf demands. Measure choice
    * is an ORACLE constraint, honestly stated: the cross-engine hash
    * needs the final decimal→double casts bit-identical, which holds
    * only while a sum's unscaled value stays inside double's exact
    * 2^53 range (all existing dsum oracles do) — squares of
    * l_extendedprice blow past it and the two engines' last-ulp
    * rounding of the SAME exact decimal diverges (measured:
    * var_price differed at the 16th digit). Quantity/discount squares
    * stay exact at any fixture sf; the ENGINE-side decimal(38,6)
    * partials themselves are nowhere near overflow either way. */
  def momentsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val agg = li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        Fns.dsum(col("l_quantity")).as("s_q"),
        Fns.dsum(col("l_quantity") * col("l_quantity")).as("ss_q"),
        Fns.dsum(col("l_discount")).as("s_d"),
        Fns.dsum(col("l_discount") * col("l_discount")).as("ss_d"),
        Fns.dsum(col("l_quantity") * col("l_discount")).as("s_qd"))
    val n = col("n").cast("double")
    val mQ = col("ss_q") - col("s_q") * col("s_q") / n
    val mD = col("ss_d") - col("s_d") * col("s_d") / n
    val mQD = col("s_qd") - col("s_q") * col("s_d") / n
    // degenerate groups follow SQL var_samp/corr semantics: a single
    // row has no sample variance (NULL, not Infinity from the n−1
    // division) and a zero-variance column has no correlation (NULL,
    // not NaN from the 0/0) — the oracle spells the same CASE guards
    val varQ = when(col("n") > 1, mQ / (n - 1))
    agg.select(
        col("l_returnflag"), col("n"),
        (col("s_q") / n).as("mean_qty"),
        varQ.as("var_qty"),
        sqrt(varQ).as("std_qty"),
        when(col("n") > 1, mQD / (n - 1)).as("covar_qty_disc"),
        when(col("n") > 1 && mQ * mD > 0, mQD / sqrt(mQ * mD))
          .as("corr_qty_disc"))
      .orderBy("l_returnflag")
  }

  /** Driver entry (q225, oracled — shares q224's oracle): the SAME
    * moments dashboard ADVISED and ROUTED. The six sum demands (four
    * of them pattern measures — the squares and the cross product)
    * mine into one (l_returnflag)-keyed grainless spec; the routed
    * read re-aggregates six partial columns and the moment arithmetic
    * above the aggregate is untouched. The fact is never scanned —
    * ClickHouse's varSampState/corrState economics from the sum
    * vocabulary alone. */
  def momentsAdvised(spark: SparkSession, sfDir: String): DataFrame = {
    val root = StarJoins.scratch(sfDir, "advised_moments")
    val advice = graft.plans.Advisor.advise(Seq(momentsRaw(spark, sfDir)), root)
    require(advice.singles.size == 1 && advice.skipped.isEmpty,
      s"advisor unexpectedly skipped: ${advice.skipped}")
    route(spark, graft.plans.Advisor.build(spark, advice)) { momentsRaw(spark, sfDir) }
  }

  /** The A/B test cohorts — ONE definition shared by the raw read,
    * the spec registration, and (through both) the oracle's CASE
    * spellings. */
  private def isA = col("event_type") === "view"
  private def isB = col("event_type") === "click"

  /** Driver entry (q294, oracled): ClickHouse's `welchTTest` and
    * `studentTTest` (round 19) — the A/B statistical tests over the
    * value distributions of two event-type cohorts, from the SAME six
    * conditional exact-decimal sums the moments family runs on
    * (n, Σx, Σx² per cohort — `-If` measures, q211's vocabulary):
    * Welch's unequal-variance t with Welch–Satterthwaite degrees of
    * freedom, and Student's pooled-variance t with n₁+n₂−2. Every
    * input is a mergeable sum, so the tests route through an ordinary
    * grainless conditional-sum registration ([[abTestsRouted]]) — the
    * A/B dashboard reads ONE state row at any fact volume, which is
    * exactly what ClickHouse's dedicated welchTTest state buys.
    * DIVERGENCE, honestly stated: ClickHouse also returns the
    * p-value; the t→p CDF (incomplete beta) has no cross-engine
    * bit-stable spelling, so this report returns (t, df) and leaves
    * the CDF to the consumer. */
  def abTests(spark: SparkSession, sfDir: String): DataFrame =
    abTestsOver(Tables.events(spark, sfDir))

  private[graft] def abTestsOver(events: DataFrame): DataFrame = {
    val agg = events.agg(
      count(when(isA, 1)).as("n1"),
      Fns.dsum(when(isA, col("value"))).as("s1"),
      Fns.dsum(when(isA, col("value") * col("value"))).as("ss1"),
      count(when(isB, 1)).as("n2"),
      Fns.dsum(when(isB, col("value"))).as("s2"),
      Fns.dsum(when(isB, col("value") * col("value"))).as("ss2"))
    val (n1, n2) = (col("n1").cast("double"), col("n2").cast("double"))
    val m1 = col("s1") / n1
    val m2 = col("s2") / n2
    // sample variances from the exact sums (the q224 numerical note
    // applies — and the SAME expression order is spelled in the
    // oracle, so every double is bit-identical)
    val v1 = (col("ss1") - col("s1") * col("s1") / n1) / (n1 - 1)
    val v2 = (col("ss2") - col("s2") * col("s2") / n2) / (n2 - 1)
    val se1 = v1 / n1
    val se2 = v2 / n2
    val welchT = (m1 - m2) / sqrt(se1 + se2)
    val welchDf = (se1 + se2) * (se1 + se2) /
      (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1))
    val sp2 = ((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)
    val studentT = (m1 - m2) / sqrt(sp2 * (lit(1.0d) / n1 + lit(1.0d) / n2))
    val guard = col("n1") > 1 && col("n2") > 1
    agg
      .select(col("n1"), col("n2"), m1.as("mean_a"), m2.as("mean_b"),
        explode(array(
          struct(lit("student").as("test"),
            when(guard, studentT).as("t_stat"),
            when(guard, n1 + n2 - 2).as("df")),
          struct(lit("welch").as("test"),
            when(guard, welchT).as("t_stat"),
            when(guard, welchDf).as("df")))).as("r"))
      .select(col("r.test").as("test"), col("n1"), col("n2"),
        col("mean_a"), col("mean_b"), col("r.t_stat").as("t_stat"),
        col("r.df").as("df"))
      .orderBy("test")
  }

  /** The GRAINLESS conditional-sum registration behind the A/B tests:
    * one global state row carrying the six `-If` partials. */
  def abSpec(dir: String): graft.plans.RollupRouting.Spec = {
    import graft.plans.RollupRouting._
    Spec("events.parquet", dir, grain = "all", timeCol = "ts",
      keyCols = Map.empty,
      aggs = Seq(
        CountOf(ExprPat(when(isA, lit(1))), "n1_p"),
        SumOf(ExprPat(when(isA, col("value"))), "s1_p"),
        SumOf(ExprPat(when(isA, col("value") * col("value"))), "ss1_p"),
        CountOf(ExprPat(when(isB, lit(1))), "n2_p"),
        SumOf(ExprPat(when(isB, col("value"))), "s2_p"),
        SumOf(ExprPat(when(isB, col("value") * col("value"))), "ss2_p")))
  }

  /** Driver entry (q295, oracled — shares q294's oracle): the SAME
    * A/B report ROUTED through the registered grainless state row —
    * the six conditional sums rewrite onto partials, the test
    * arithmetic rides above, and the fact is never scanned. */
  def abTestsRouted(spark: SparkSession, sfDir: String): DataFrame = {
    val mv = eventsMV(spark, sfDir, abSpec(StarJoins.scratch(sfDir, "ab_rollup")))
    route(spark, Catalog(Seq(mv))) {
      abTestsOver(Tables.events(spark, sfDir))
    }
  }

  /** Driver entry (q296, oracled): ClickHouse's `mannWhitneyUTest`
    * (round 19) — the RANK test completing the statistical trio. Over
    * the combined view/click value sample: tie-averaged ranks, the
    * cohort rank sum, U₁/U₂, and the tie-corrected normal
    * approximation z.
    *
    * Exactness by construction: the tie-averaged rank of a value
    * whose run starts after `cum − cnt` predecessors is
    * `(2·cum − cnt + 1)/2` — an INTEGER numerator — so the rank sum
    * is Σ n1_v·(2·cum − cnt + 1) over per-value LONGs, summed in
    * DECIMAL(38,0): no double enters until the final statistics,
    * whose op order the oracle mirrors, so z hash-matches bit-for-bit
    * (a per-row double rank sum would be summation-order-dependent
    * and could never hash). Tie correction Σ(cnt³ − cnt) likewise
    * integer-exact.
    *
    * Scale shape: ONE aggregate to per-VALUE counts (cardinality =
    * distinct values, not rows), then [[GlobalRank.withRunningTotal]]
    * for the cumulative count over value order — the distributed
    * prefix (an unpartitioned window here would single-task the
    * value domain), then a second tiny aggregate. ClickHouse computes
    * the same test scan-time. DIVERGENCE, honestly stated: the
    * p-value (normal CDF of z) is left to the consumer like q294's. */
  def mannWhitney(spark: SparkSession, sfDir: String): DataFrame =
    mannWhitneyOver(Tables.events(spark, sfDir))

  private[graft] def mannWhitneyOver(events: DataFrame): DataFrame =
    mannWhitneyRanks(mannWhitneyPerValue(events))

  // the cohort restriction lives ABOVE the aggregate (a HAVING over
  // the combined count), never as a scan filter — a pre-aggregate
  // filter on event_type would block the grainless value-histogram
  // rewrite (event_type is not a spec key), and the stored
  // conditional partials already carry the cohort split
  private def mannWhitneyPerValue(events: DataFrame): DataFrame =
    events
      .groupBy(col("value"))
      .agg(count(when(isA, 1)).as("n1_v"),
           count(when(isA || isB, 1)).as("cnt"))
      .filter(col("cnt") > 0)

  // the running total runs a job while the frame is built, so the
  // routed entry point routes `perValue` before this, not after
  private def mannWhitneyRanks(perValue: DataFrame): DataFrame = {
    val cum = GlobalRank.withRunningTotal(
      perValue, Seq(col("value")), col("cnt"), "__cum")
      .withColumn("cumL", col("__cum").cast("long"))
    val term = col("n1_v") * (lit(2L) * col("cumL") - col("cnt") + 1)
    val agg = cum.agg(
      sum(col("n1_v")).as("n1"),
      sum(col("cnt") - col("n1_v")).as("n2"),
      sum(term.cast("decimal(38,0)")).as("r2x"), // 2·R1, exact
      sum((col("cnt") * col("cnt") * col("cnt") - col("cnt"))
        .cast("decimal(38,0)")).as("ties"))
    val (n1d, n2d) = (col("n1").cast("double"), col("n2").cast("double"))
    val nD = n1d + n2d
    val r1 = col("r2x").cast("double") / 2.0d
    val u1 = r1 - n1d * (n1d + 1.0d) / 2.0d
    val mu = n1d * n2d / 2.0d
    val tcorr = col("ties").cast("double") / (nD * (nD - 1.0d))
    val varU = n1d * n2d / 12.0d * ((nD + 1.0d) - tcorr)
    agg.select(col("n1"), col("n2"), u1.as("u1"),
        (n1d * n2d - u1).as("u2"),
        when(varU > 0, (u1 - mu) / sqrt(varU)).as("z"))
  }

  /** The per-VALUE conditional-count registration behind the rank
    * test: a grainless spec keyed by the measure value itself — the
    * "value histogram MV" (state cardinality = the value domain, not
    * the fact). */
  def mannWhitneySpec(dir: String): graft.plans.RollupRouting.Spec = {
    import graft.plans.RollupRouting._
    Spec("events.parquet", dir, grain = "all", timeCol = "ts",
      keyCols = Map("value" -> "value"),
      aggs = Seq(
        CountOf(ExprPat(when(isA, lit(1))), "n1v_p"),
        CountOf(ExprPat(when(isA || isB, lit(1))), "nab_p")))
  }

  /** Driver entry (q297, oracled — shares q296's oracle): the rank
    * test ROUTED — the per-value inner aggregate rewrites onto the
    * registered value-histogram states (the fact is never scanned;
    * the scan is value-domain-sized) and the distributed rank pass
    * rides above; the cohort HAVING filters state rows, not the
    * fact. */
  def mannWhitneyRouted(spark: SparkSession, sfDir: String): DataFrame = {
    val mv = eventsMV(spark, sfDir, mannWhitneySpec(StarJoins.scratch(sfDir, "mw_rollup")))
    mannWhitneyRanks(route(spark, Catalog(Seq(mv))) {
      mannWhitneyPerValue(Tables.events(spark, sfDir))
    })
  }
}
