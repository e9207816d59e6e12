package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Fns._
import graft.plans.RollupRouting.{Catalog, Spec, ensureRollup, materialize, route}

/** Batch analogs of the reference's six ClickHouse materialized views
  * (`usdc-transfers/sql/analytics.sql`, `scripts/setup-analytics.sh`) on
  * the `events` fact table (role mapping in FIXTURES.md: `ts` ↔
  * block_timestamp, `user_id` ↔ from/to_address, `value` ↔ value).
  *
  * Scale design: every rollup is a single hash-aggregate —
  * partial (map-side combine) → shuffle on the group keys → final.
  * At 100 TB the shuffle carries only (key, partial-state) pairs, never
  * raw rows, which is exactly the SummingMergeTree partial-state economy
  * the reference relies on (`sql/analytics.sql:10`, SURVEY §2.8 T5).
  * Group keys are time buckets + bounded-cardinality dims, so the
  * post-shuffle state is tiny regardless of input size.
  */
object Rollups {

  /** mv_usdc_daily analog (`sql/analytics.sql:9-22`): day × user rollup.
    * A1 sum, A2 count, A5 multi-key GROUP BY, C3 toDate. */
  def daily(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(dsum(col("value")).as("total_value"), count(lit(1)).as("tx_count"))
      .orderBy("day", "user_id")

  /** Partial→final re-aggregation (A6, `README.md:66-71`): the user-facing
    * query over the daily rollup — day totals, top 7 by volume (O1).
    * Sums re-aggregate losslessly; avg would need sum+count (SURVEY A6). */
  def dailyReaggTop7(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(dsum(col("value")).as("v"), count(lit(1)).as("c"))
      .groupBy(col("day"))
      .agg(dsum(col("v")).as("daily_volume"), sum(col("c")).as("daily_txs"))
      .orderBy(col("daily_volume").desc, col("day"))
      .limit(7)

  /** The daily rollup's PARTIAL-STATE block (day × user grain): the
    * exact DECIMAL value partial, the row count, and the min/max
    * partials. The hand-written reference a spec pins equal to the
    * daily spec's own build ([[graft.plans.RollupRouting.buildPartials]]
    * over a bare `Spec`), which both [[dailyMV]] and the streaming
    * maintainer ([[graft.streaming.Live.maintainRollup]]) write; both
    * re-aggregate losslessly by construction. */
  def dailyPartialsOf(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(sum(col("value").cast("decimal(38,6)")).as("v_partial"),
           count(lit(1)).as("c_partial"),
           // min/max partials re-aggregate losslessly too (A4 routing)
           min(col("value")).as("mn_partial"),
           max(col("value")).as("mx_partial"),
           // NON-NULL value count — the AVG denominator (round 12):
           // avg(value) divides by count(value), not count(*), so the
           // routed exact average needs its own partial; count(1)
           // would silently shift the mean on a null-bearing source
           count(col("value")).as("vn_partial"))

  /** `spec`'s MV built by [[materialize]] from the events table. */
  private[ops] def eventsMV(spark: SparkSession, sfDir: String, spec: Spec): Spec =
    materialize(spark, spec)(Tables.events(spark, sfDir))

  /** Canonical persisted daily rollup for a scale-factor dir (what
    * [[dailyVolumeWindowRouted]] registers), built once per session. */
  def dailyRollupDir(sfDir: String): String = StarJoins.scratch(sfDir, "daily_rollup")
  private[ops] def dailyMV(spark: SparkSession, sfDir: String): Spec =
    eventsMV(spark, sfDir, Spec("events.parquet", dailyRollupDir(sfDir)))

  /** The raw day-windowed dashboard query — the reference's own MV
    * WHERE shape (`usdc-transfers/sql/analytics.sql:106`, a time-range
    * read of the daily MV): one whole-day half-open window over the raw
    * events, daily volume + count inside it. Written against the RAW
    * table; [[dailyVolumeWindowRouted]] runs it UNCHANGED under the
    * routing rule. */
  def dailyVolumeWindowRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
              col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("daily_volume"), count(lit(1)).as("daily_txs"))
      .orderBy("day")

  /** Driver entry (q151): PREDICATE-SUBSUMPTION routing end-to-end —
    * build + register the persisted daily rollup, install the routing
    * rule, and run the UNCHANGED raw day-windowed query.
    * `RollupRouting` proves the two midnight bounds lossless against
    * the day grain (a whole-day cut never splits a rollup group),
    * re-applies them over the rollup's `day` column, and routes — the
    * events fact table is never scanned (plan asserted in
    * RollupRoutingSpec). At 100 TB this is the reference's dashboard
    * economy: a 7-day window reads 7 days of rollup rows, not the fact
    * table. */
  def dailyVolumeWindowRouted(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(dailyMV(spark, sfDir)))) {
      dailyVolumeWindowRaw(spark, sfDir)
    }
  }

  /** The raw multi-grain dashboard in ONE statement — per-(day, user)
    * rows, per-day subtotals, and the grand total via GROUP BY ROLLUP.
    * The reference maintains one MV per grain and issues one read per
    * dashboard tile (`usdc-transfers/sql/analytics.sql:9-94`); the
    * grouping-lattice form computes every grain in a single pass.
    * Written against the RAW table; [[rollupDashboardRouted]] runs it
    * UNCHANGED under the routing rule. */
  def rollupDashboardRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .rollup(to_date(col("ts")).as("day"), col("user_id"))
      .agg(dsum(col("value")).as("volume"), count(lit(1)).as("txs"),
           min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .orderBy(col("day").asc_nulls_first, col("user_id").asc_nulls_first)

  /** Driver entry (q200): GROUPING-SETS routing end-to-end — the
    * UNCHANGED ROLLUP dashboard answered from the daily MV. The rule
    * re-expands the rollup's partial rows under the identical
    * null/grouping-id projection structure, so one rollup-sized scan
    * serves the whole lattice (sum/count/min/max partials are fully
    * mergeable — a subtotal row just merges more of them). At 100 TB
    * this collapses a dashboard's per-grain MV fleet into one MV: the
    * fact table is never read (plan asserted in RollupRoutingSpec). */
  def rollupDashboardRouted(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(dailyMV(spark, sfDir)))) {
      rollupDashboardRaw(spark, sfDir)
    }
  }

  /** The HOURLY rollup's partial-state block (hour × user grain) — the
    * finer sibling of [[dailyPartialsOf]] in the grain hierarchy, with
    * the same four mergeable partials. An hourly rollup answers
    * hour-grain queries directly AND day-grain queries by
    * re-aggregation (roll-up matching: to_date(hour) ≡ to_date(ts)),
    * at ~24× the daily rollup's row count — which is why the router
    * prefers the daily one when both can answer. */
  def hourlyPartialsOf(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("user_id"))
      .agg(sum(col("value").cast("decimal(38,6)")).as("v_partial"),
           count(lit(1)).as("c_partial"),
           min(col("value")).as("mn_partial"),
           max(col("value")).as("mx_partial"),
           count(col("value")).as("vn_partial"))

  def hourlyRollupDir(sfDir: String): String = StarJoins.scratch(sfDir, "hourly_rollup")
  private def hourlyMV(spark: SparkSession, sfDir: String): Spec =
    eventsMV(spark, sfDir, Spec("events.parquet", hourlyRollupDir(sfDir), "hour"))

  /** Driver entry (q155, shares q151's oracle): GRAIN-HIERARCHY
    * routing — the UNCHANGED day-windowed dashboard query
    * ([[dailyVolumeWindowRaw]]) with only the HOURLY rollup
    * registered. The router derives the day grain from the hour key
    * (to_date(hour)), re-applies the midnight bounds (every midnight
    * is a whole-hour boundary), and re-aggregates 24 hourly partial
    * rows per day — classic roll-up matching in
    * answering-queries-using-views. The hash match against q151's
    * oracle proves the derivation lossless; RollupRoutingSpec pins
    * that with BOTH rollups registered the day query picks the
    * ~24×-smaller DAILY one instead (cost choice). */
  def dailyWindowHourlyRouted(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(hourlyMV(spark, sfDir)))) {
      dailyVolumeWindowRaw(spark, sfDir)
    }
  }

  /** The raw hour-windowed query: a half-open WHOLE-HOUR (deliberately
    * non-midnight) window over raw events, hourly volume + count
    * inside it. A daily rollup can never answer this — the grain is
    * finer and the 06:00/18:00 cuts split day groups — so it isolates
    * exactly what the hourly rollup adds to the hierarchy. */
  def hourlyVolumeWindowRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("ts") >= lit("2024-01-10 06:00:00").cast("timestamp") &&
              col("ts") < lit("2024-01-12 18:00:00").cast("timestamp"))
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(dsum(col("value")).as("hourly_volume"), count(lit(1)).as("hourly_txs"))
      .orderBy("hour")

  /** Driver entry (q156): hour-grain routing end-to-end — the raw
    * hour-windowed query run unchanged with the hourly rollup
    * registered; the whole-hour bounds subsume onto the `hour` key and
    * the query reads rollup rows only (plan asserted in
    * RollupRoutingSpec, which also pins the near-miss: a MID-hour cut
    * stays on the live scan). */
  def hourlyVolumeWindowRouted(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(hourlyMV(spark, sfDir)))) {
      hourlyVolumeWindowRaw(spark, sfDir)
    }
  }

  /** The raw MONTHLY volume dashboard — a `date_trunc('month', ts)`
    * grouping over RAW events ([[monthlyVolumeRouted]] runs it
    * unchanged under the router). */
  def monthlyVolumeRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("month", col("ts")).as("month"))
      .agg(dsum(col("value")).as("monthly_volume"), count(lit(1)).as("monthly_txs"))
      .orderBy("month")

  /** Driver entry (q194): the CALENDAR-GRAIN hierarchy on the
    * single-table path (round 12) — a MONTHLY dashboard re-aggregates
    * the DAILY rollup, because calendar truncations compose:
    * `date_trunc('month', day) = date_trunc('month', ts)`. Before
    * this round only day/hour groupings routed here (the join path
    * already composed to coarser units via `TimeGrainPat`); now any
    * week/month/quarter/year truncation — and field extractors like
    * `year(ts)`, which the analyzer lowers through a Cast-to-date the
    * day key already matches — derives from the grain key. The hash
    * match against the raw month recompute proves the composition
    * lossless; a FINER truncation (minute) provably stays live. */
  def monthlyVolumeRouted(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(dailyMV(spark, sfDir)))) {
      monthlyVolumeRaw(spark, sfDir)
    }
  }

  /** Driver entry (q195, rows-only like the sketch family): MONTHLY
    * uniques from the DAILY sketch states — `uniqMerge` over a month
    * of `uniqState` rows, the grain-composition read ClickHouse's
    * AggregatingMergeTree exists for. ~30 state rows re-aggregate per
    * output row; the fact is never scanned. */
  def monthlyUniqSketchRouted(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(uniqSketchMV(spark, sfDir)))) {
      Tables.events(spark, sfDir)
        .groupBy(date_trunc("month", col("ts")).as("month"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12))
               .as("uniq_users_approx"),
             count(lit(1)).as("monthly_txs"))
        .orderBy("month")
    }
  }

  /** The (day × event_type) uniques-state rollup backing the LATTICE
    * distinct dashboard (q203) — [[uniqSketchSpec]] with one more
    * grouping key, so the grouping-set rewrite can regroup its state
    * rows to any subtotal grain. */
  def latticeUniqSpec(dir: String): graft.plans.RollupRouting.Spec =
    graft.plans.RollupRouting.Spec("events.parquet", dir, grain = "day",
      timeCol = "ts", keyCols = Map("event_type" -> "event_type"),
      aggs = Seq(graft.plans.RollupRouting.HllUniqOf("user_id", "uniq_state", 12),
                 graft.plans.RollupRouting.CountStarTo("c_partial")))

  /** Driver entry (q203, rows-only like the sketch family): the
    * DISTINCT-COUNT LATTICE — `GROUP BY ROLLUP(day, event_type)` over
    * `approx_count_distinct(user_id)`, answered entirely from the
    * (day × type) uniqState rollup. Exact COUNT(DISTINCT) can never
    * route through a lattice (a subtotal row cannot re-count, the
    * guard q200 documents), but the APPROX form can: HLL states
    * union across any subtotal regrouping, and the registered
    * sketch's error 1.04/√2^12 ≈ 1.6% dominates the query's default
    * 5% tolerance, so the router substitutes the state estimate
    * (round 13 — [[graft.plans.RollupRouting.HllUniqOf]] precision-
    * dominance rule). One rollup-sized scan answers every grain of
    * the distinct-users dashboard; at 100 TB the fact is never read.
    * Reference analog: `uniq()` inside MVs, `sql/analytics.sql:34-35`
    * — one MV per grain there, one lattice read here. */
  def latticeUniqRouted(spark: SparkSession, sfDir: String): DataFrame = {
    val mv = eventsMV(spark, sfDir,
      latticeUniqSpec(StarJoins.scratch(sfDir, "lattice_uniq_rollup")))
    route(spark, Catalog(Seq(mv))) {
      Tables.events(spark, sfDir)
        .rollup(to_date(col("ts")).as("day"), col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("uniq_users_approx"),
             count(lit(1)).as("txs"))
        .orderBy(col("day").asc_nulls_first, col("event_type").asc_nulls_first)
    }
  }

  /** The (day × event_type) DISTINCT-SET rollup registration (round
    * 13): one `collect_set(user_id)` array per (day, type) —
    * ClickHouse's `groupUniqArrayState` as a registry member
    * ([[graft.plans.RollupRouting.SetOf]], the fourth state next to
    * HLL/KLL/top-k). Bounded here: the per-group distinct-user set is
    * day × type sized, far under the fact row count. */
  def uniqArraySpec(dir: String): graft.plans.RollupRouting.Spec =
    graft.plans.RollupRouting.Spec("events.parquet", dir, grain = "day",
      timeCol = "ts", keyCols = Map("event_type" -> "event_type"),
      aggs = Seq(graft.plans.RollupRouting.SetOf("user_id", "users_set"),
                 graft.plans.RollupRouting.CountStarTo("c_partial")))

  /** Driver entry (q204, oracled): the reference's `groupUniqArray`
    * dashboard (q70's shape) answered from the DISTINCT-SET rollup —
    * `collect_set` re-aggregates as set-union of the per-(day, type)
    * array states (`groupUniqArrayState` → `groupUniqArrayMerge`),
    * and `size(collect_set(...))` yields the EXACT distinct count
    * from the same state, so the whole dashboard — sorted member
    * list, exact n_users, event count — reads the rollup, never the
    * fact. The declared output sorts the set, which makes routed ≡
    * live bit-for-bit and the query DuckDB-oracleable even though
    * raw set order is unspecified on both plans. */
  def groupUniqArrayRouted(spark: SparkSession, sfDir: String): DataFrame = {
    val mv = eventsMV(spark, sfDir,
      uniqArraySpec(StarJoins.scratch(sfDir, "uniq_array_rollup")))
    route(spark, Catalog(Seq(mv))) {
      Tables.events(spark, sfDir)
        .groupBy(col("event_type"))
        .agg(
          array_join(expr(
            "transform(sort_array(collect_set(user_id)), x -> cast(x as string))"),
            ",").as("users"),
          size(collect_set(col("user_id"))).cast("long").as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")
    }
  }

  /** The per-day CONDITIONAL set/capped-set registration (round 15 —
    * the -If family on the array members): `collect_set(CASE WHEN
    * value > 2 THEN event_type END)` is ClickHouse's
    * `groupUniqArrayIf`, `least(count(DISTINCT CASE WHEN click THEN
    * user END), 6)` its `uniqUpToIf` — both states store exactly the
    * conditional members (collect_set and count-distinct skip the
    * CASE's NULLs identically). */
  def condSetSpec(dir: String): graft.plans.RollupRouting.Spec = {
    import graft.plans.RollupRouting._
    Spec("events.parquet", dir, grain = "day", timeCol = "ts",
      keyCols = Map.empty,
      aggs = Seq(
        SetOf(ExprPat(when(col("value") > 2.0d, col("event_type"))), "btypes_p"),
        UniqUpToOf(ExprPat(when(col("event_type") === "click", col("user_id"))),
                   "cupto_p", 5),
        CountStarTo("c_p")))
  }

  /** Driver entry (q215, oracled): setIf + uniqUpToIf routed — the
    * conditional distinct-set dashboard reads per-day PATTERN states
    * (fact never scanned), exact on both members, and DuckDB-oracled
    * because sets sort deterministically and the capped count is a
    * scalar. */
  def condSetRouted(spark: SparkSession, sfDir: String): DataFrame = {
    val mv = eventsMV(spark, sfDir,
      condSetSpec(StarJoins.scratch(sfDir, "cond_set_rollup")))
    route(spark, Catalog(Seq(mv))) {
      Tables.events(spark, sfDir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          array_join(sort_array(collect_set(
            when(col("value") > 2.0d, col("event_type")))), ",").as("big_types"),
          least(countDistinct(
              when(col("event_type") === "click", col("user_id"))),
            lit(6L)).as("clickers_upto"),
          count(lit(1)).as("n_events"))
        .orderBy("day")
    }
  }

  /** The GRAINLESS per-type distinct-set registration (round 15):
    * all-time exact uniques per event type — SetOf states over the
    * bare column AND over a CASE pattern, so both ClickHouse's
    * `uniqExact` and `uniqExactIf` answer from one keys-only rollup. */
  def uniqExactSpec(dir: String): graft.plans.RollupRouting.Spec = {
    import graft.plans.RollupRouting._
    Spec("events.parquet", dir, grain = "all", timeCol = "ts",
      keyCols = Map("event_type" -> "event_type"),
      aggs = Seq(
        SetOf("user_id", "users_set"),
        SetOf(ExprPat(when(col("value") > 2.0d, col("user_id"))), "big_users_set"),
        CountStarTo("c_p")))
  }

  /** Driver entry (q217, oracled): uniqExact + uniqExactIf from set
    * states on a GRAINLESS rollup — `COUNT(DISTINCT col)` and
    * `COUNT(DISTINCT CASE WHEN pred THEN col END)` both rewrite to
    * size-of-set-union over the all-time per-type array states (exact:
    * count-distinct skips NULLs exactly like the collect_set that
    * built each state); the fact is never scanned. NOTE (r15, second
    * half): this routing only became REAL with
    * [[graft.plans.RollupRouting]]'s multi-distinct inversion — a
    * dashboard with two different DISTINCT children reaches the rule
    * as Spark's `RewriteDistinctAggregates` encoding (Expand + gid),
    * which the flat rewriters cannot see through; before the
    * inversion this query silently ran live (it still passed its
    * oracle, because live ≡ oracle — the plan claim was wrong, the
    * values never were; caught by a plan probe, pinned by
    * BitmapSpec's grainless multi-distinct plan assert). */
  def uniqExactRouted(spark: SparkSession, sfDir: String): DataFrame = {
    val mv = eventsMV(spark, sfDir,
      uniqExactSpec(StarJoins.scratch(sfDir, "uniq_exact_rollup")))
    route(spark, Catalog(Seq(mv))) {
      Tables.events(spark, sfDir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
             countDistinct(when(col("value") > 2.0d, col("user_id")))
               .as("n_big_users"),
             count(lit(1)).as("n_events"))
        .orderBy("event_type")
    }
  }

  /** The GRAINLESS per-type BITMAP registration (round 15): the same
    * all-time exact-uniques workload as [[uniqExactSpec]], stored as
    * compressed Roaring bitmaps instead of arrays
    * ([[graft.plans.RollupRouting.BitmapUniqOf]] — ClickHouse's
    * `groupBitmapState`): ~2 bytes per distinct member worst-case vs
    * the array state's 8+, merged by word-parallel OR instead of
    * array distinct-flatten — the scale member for exact distincts
    * over integral keys. */
  def uniqBitmapSpec(dir: String): graft.plans.RollupRouting.Spec = {
    import graft.plans.RollupRouting._
    Spec("events.parquet", dir, grain = "all", timeCol = "ts",
      keyCols = Map("event_type" -> "event_type"),
      aggs = Seq(
        BitmapUniqOf("user_id", "users_bm"),
        BitmapUniqOf(ExprPat(when(col("value") > 2.0d, col("user_id"))),
          "big_users_bm"),
        CountStarTo("c_p")))
  }

  /** Driver entry (q218, oracled): uniqExact + uniqExactIf from
    * BITMAP states — the IDENTICAL dashboard to q217 (all-time exact
    * and conditional-exact distinct users per type), answered from
    * Roaring bitmap states instead of array states, so the two driver
    * rows measure the array-vs-bitmap read regimes on the same
    * workload. `COUNT(DISTINCT col)` rewrites to
    * `graft_bitmap_count(graft_bitmap_merge(state))` — OR-union of
    * compressed bitmaps, exact at any cardinality; the fact is never
    * scanned. */
  def uniqBitmapRouted(spark: SparkSession, sfDir: String): DataFrame = {
    val mv = eventsMV(spark, sfDir,
      uniqBitmapSpec(StarJoins.scratch(sfDir, "uniq_bitmap_rollup")))
    route(spark, Catalog(Seq(mv))) {
      Tables.events(spark, sfDir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
             countDistinct(when(col("value") > 2.0d, col("user_id")))
               .as("n_big_users"),
             count(lit(1)).as("n_events"))
        .orderBy("event_type")
    }
  }

  /** The (day × event_type) BITMAP rollup registration (round 15):
    * per-day-per-type exact-distinct states for the lattice read. */
  def bitmapDaySpec(dir: String): Spec =
    Spec("events.parquet", dir, grain = "day",
      timeCol = "ts", keyCols = Map("event_type" -> "event_type"),
      aggs = Seq(graft.plans.RollupRouting.BitmapUniqOf("user_id", "users_bm"),
                 graft.plans.RollupRouting.CountStarTo("c_partial")))
  private[ops] def latticeBitmapMV(spark: SparkSession, sfDir: String): Spec =
    eventsMV(spark, sfDir, bitmapDaySpec(StarJoins.scratch(sfDir, "lattice_bitmap_rollup")))

  /** Driver entry (q219, oracled): the EXACT distinct-count LATTICE —
    * `GROUP BY ROLLUP(day, event_type)` over `COUNT(DISTINCT
    * user_id)`, every grain answered from the (day × type) bitmap
    * states. The q203 lattice could only serve the APPROX form (HLL
    * states union, but a sketch estimate is not oracle-able); exact
    * COUNT(DISTINCT) could never route through a lattice at all until
    * the set/bitmap members — a subtotal row cannot re-count, but a
    * subtotal's bitmap is just a wider OR-union. One rollup-sized
    * scan answers every grain EXACTLY, hash-matched against DuckDB;
    * at 100 TB the fact is never read. Reference analog: the uniq()
    * MV per grain (`sql/analytics.sql:34-35`) — here one state MV
    * serves all grains with exact values. */
  def latticeBitmapRouted(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(latticeBitmapMV(spark, sfDir)))) {
      Tables.events(spark, sfDir)
        .rollup(to_date(col("ts")).as("day"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("uniq_users"),
             count(lit(1)).as("txs"))
        .orderBy(col("day").asc_nulls_first, col("event_type").asc_nulls_first)
    }
  }

  /** Driver entry (q233, oracled): ClickHouse's `topKWeighted` — the
    * top-3 users BY SUMMED VALUE (not row count) per event type, from
    * the weighted frequent-items sketch ([[graft.expr.TopKWeightedAgg]];
    * weights are the cent-scaled values, so they stay integral and
    * both engines compute the identical rounding). The fixture keeps
    * every group's distinct users far under the sketch capacity, so
    * the state is EXACT and the total order (weight DESC, user ASC)
    * makes the exploded report hash-oracled against the plain
    * SUM-and-rank SQL. */
  /** The cent-scaled weight measure the weighted-top-k family ranks
    * by — shared by the live query, the MV registration, and the
    * advised twin so the registered pattern IS the query's own
    * expression (integral weights; both engines round identically). */
  private def centWeight: Column = round(col("value") * lit(100.0d)).cast("long")

  /** ClickHouse's `sumMap` / `maxMap` re-expressed Spark-first (round
    * 16): the keyed-measure MAP — per day, `{event_type → Σvalue}` and
    * `{event_type → max(value)}` — is a two-level aggregate (the inner
    * (day, key) grain IS the map's entry set) rendered canonically as
    * a sorted `key:value` csv so the report is hash-oracled
    * (DuckDB `string_agg(… ORDER BY key)`). Values render as CENTS
    * (the q233 recipe — round(x·100) on both engines) so no
    * decimal-to-string formatting divergence can flake the hash.
    * Scale shape: one fact pass to (day × type) grain — exactly the
    * reference's MV grain — then a calendar-sized map fold; the inner
    * aggregate is the routable part ([[sumMapDailyRouted]]). */
  def sumMapDaily(spark: SparkSession, sfDir: String): DataFrame =
    sumMapRead(Tables.events(spark, sfDir))

  /** Map-entry rendering helpers shared by the whole keyed-map family.
    * The SUM side stays in DECIMAL arithmetic end-to-end (round 17,
    * review finding): `round(vol × 100)` on the exact decimal sum is
    * exact at ANY group volume, where the old double detour lost
    * exactness past ~2^53 cents; the oracle spells the identical
    * decimal expression. Extrema/averages of a DOUBLE column stay in
    * double (their source is double — there is no exactness to
    * preserve, and both engines run the identical IEEE ops). */
  private def centsExact(c: Column): Column =
    round(c * lit(100), 0).cast("long")
  private def centsDouble(c: Column): Column =
    round(c.cast("double") * 100.0d).cast("long")
  private def mapEntry(v: Column): Column =
    concat(col("event_type"), lit(":"), v.cast("string"))

  private[graft] def sumMapRead(events: DataFrame): DataFrame =
    sumMapFold(events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(Fns.dsumPartial(col("value")).as("vol"), max(col("value")).as("mx")))

  /** The outer map fold shared by the scalar read and the array-pair
    * wrapper: per day, the (type → cents) entries as sorted csv. */
  private def sumMapFold(inner: DataFrame): DataFrame =
    inner
      .groupBy(col("day"))
      .agg(
        array_join(sort_array(collect_list(mapEntry(centsExact(col("vol"))))), ",")
          .as("sum_map"),
        array_join(sort_array(collect_list(mapEntry(centsDouble(col("mx"))))), ",")
          .as("max_map"))
      .orderBy("day")

  /** ClickHouse's ARRAY-PAIR keyed-map input form (round 18):
    * `sumMap(k_arr, v_arr)` consumes PARALLEL per-row arrays — a row
    * carries its keys and values as two aligned array columns, not as
    * scalar (key, value) rows. The wrapper zips the pairs back to
    * scalar rows (`explode(arrays_zip(...))` — position-aligned by
    * construction) and hands them to the existing scalar matrix, so
    * the explode lands BEFORE the aggregate grain and every downstream
    * economics (including MV routing over a scalar corpus) is
    * unchanged. One shuffle total: the explode is row-local. */
  def sumMapOverPairs(pairs: DataFrame, day: Column,
                      kArr: Column, vArr: Column): DataFrame =
    sumMapFold(pairInnerAgg(pairs, day, kArr, vArr))

  /** The pair-explode inner aggregate at (day × key) grain — ONE
    * spelling of the zip alignment and the measures, shared by the
    * direct read ([[sumMapOverPairs]]) and the q277 ingest build so
    * the two can never drift apart under the shared oracle. */
  private def pairInnerAgg(pairs: DataFrame, day: Column,
                           kArr: Column, vArr: Column): DataFrame =
    pairs
      .select(day.as("day"),
        explode(arrays_zip(kArr.as("k"), vArr.as("v"))).as("e"))
      .groupBy(col("day"), col("e.k").as("event_type"))
      .agg(Fns.dsumPartial(col("e.v")).as("vol"), max(col("e.v")).as("mx"))

  /** The derived ARRAY-PAIR corpus: each (day, user)'s event rows
    * folded into parallel key/value arrays through ONE struct collect
    * (two independent `collect_list`s would not be position-aligned) —
    * the shape a property bag lands in after upstream JSON decoding.
    * The testdata carries no array-typed columns, so the pair queries
    * derive it deterministically from `events`. */
  private def pairedCorpus(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(collect_list(struct(col("event_type").as("k"),
        col("value").as("v"))).as("kv"))
      .select(col("day"),
        transform(col("kv"), e => e.getField("k")).as("k_arr"),
        transform(col("kv"), e => e.getField("v")).as("v_arr"))

  /** Driver entry (q273, oracled — shares q248's oracle, since
    * zip∘unzip is a multiset identity): sumMap/maxMap over an
    * ARRAY-PAIR corpus derived INLINE — the row prices derivation +
    * read together; q276/q277 price the two deployment shapes. */
  def sumMapArrayPairs(spark: SparkSession, sfDir: String): DataFrame =
    sumMapOverPairs(pairedCorpus(Tables.events(spark, sfDir)),
      col("day"), col("k_arr"), col("v_arr"))

  /** Driver entry (q276, oracled — shares q248's oracle): the keyed
    * maps over a STORED array-pair corpus — the deployment shape where
    * the properties are array-typed AT REST: the read is scan →
    * row-local explode → the scalar matrix, q248's own economics; the
    * inline q273 row's extra cost is purely the corpus derivation. */
  def sumMapArrayPairsStored(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = StarJoins.scratch(sfDir, "pairs_corpus")
    ensureRollup(spark, dir) {
      pairedCorpus(Tables.events(spark, sfDir))
    }
    val pairs = spark.read.parquet(dir)
    sumMapOverPairs(pairs, col("day"), col("k_arr"), col("v_arr"))
  }

  /** Driver entry (q277, oracled — shares q248's oracle): the
    * array-pair corpus folded into the (day × type) VALUE ROLLUP at
    * ingest — ClickHouse's "MV with ARRAY JOIN" pattern: the explode
    * runs once when the rollup materializes, and the map dashboard
    * reads ONLY rollup rows (calendar × type sized at any corpus
    * volume; the pairs corpus is never re-scanned). An explicit MV
    * read like q227's retention — transparent REGISTRY routing
    * through a Generate is not claimed (the router's contract stops
    * at Project/Filter shapes below the aggregate, documented in
    * [[graft.plans.RollupRouting.Spec]]'s scaladoc). */
  def sumMapArrayPairsRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val pairsDir = StarJoins.scratch(sfDir, "pairs_corpus")
    ensureRollup(spark, pairsDir) {
      pairedCorpus(Tables.events(spark, sfDir))
    }
    val dir = StarJoins.scratch(sfDir, "pairs_value_rollup")
    ensureRollup(spark, dir) {
      pairInnerAgg(spark.read.parquet(pairsDir),
          col("day"), col("k_arr"), col("v_arr"))
        .withColumnRenamed("vol", "vol_p")
        .withColumnRenamed("mx", "mx_p")
    }
    // decimal partials re-sum exactly (associative at DECIMAL(38,6) —
    // the [[Fns.dsumPartial]] contract), max-of-max is max
    sumMapFold(spark.read.parquet(dir)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("vol_p")).as("vol"), max(col("mx_p")).as("mx")))
  }

  /** The (day × event_type) VALUE rollup the map reads route through:
    * the exact decimal sum, the bare extrema, and the row count — one
    * registration serves the whole keyed-map family (sum/max/min/avg,
    * plain and key-filtered). */
  def dayTypeValueSpec(dir: String): Spec = {
    import graft.plans.RollupRouting._
    Spec("events.parquet", dir, grain = "day",
      timeCol = "ts", keyCols = Map("event_type" -> "event_type"),
      aggs = Seq(
        SumOf(ColRef("value"), "vol_p"),
        MaxOf("value", "mx_p"),
        MinOf("value", "mn_p"),
        CountStarTo("c_p")))
  }
  private def dayTypeValueMV(spark: SparkSession, sfDir: String): Spec =
    eventsMV(spark, sfDir, dayTypeValueSpec(StarJoins.scratch(sfDir, "daytype_value_rollup")))

  /** ClickHouse's `minMap` / `avgMap` (round 17) — completing the
    * keyed-measure family next to [[sumMapDaily]]: per day,
    * `{event_type → min(value)}` and `{event_type → avg(value)}` as
    * the same sorted `key:cents` csv. The average is spelled as the
    * A6 invariant (exact decimal sum ÷ row count, divided in double —
    * both engines run the identical IEEE division), so it re-aggregates
    * losslessly from the same (day × type) value rollup
    * ([[minAvgMapDailyRouted]]). */
  def minAvgMapDaily(spark: SparkSession, sfDir: String): DataFrame =
    minAvgMapRead(Tables.events(spark, sfDir))

  private[graft] def minAvgMapRead(events: DataFrame): DataFrame = {
    val inner = events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(min(col("value")).as("mn"),
           Fns.dsum(col("value")).as("vol"),
           count(lit(1)).as("n"))
    val avgCents: Column =
      round(col("vol") / col("n").cast("double") * 100.0d).cast("long")
    inner
      .groupBy(col("day"))
      .agg(
        array_join(sort_array(collect_list(mapEntry(centsDouble(col("mn"))))), ",")
          .as("min_map"),
        array_join(sort_array(collect_list(mapEntry(avgCents))), ",")
          .as("avg_map"))
      .orderBy("day")
  }

  /** Driver entry (q255, oracled — shares q254's oracle): the SAME
    * min/avg map report with the inner aggregate ROUTED through the
    * one registered (day × type) value rollup — min re-aggregates as
    * min-of-partials, avg as the sum/count partial pair (the A6
    * invariant); the fact is never scanned. */
  def minAvgMapDailyRouted(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(dayTypeValueMV(spark, sfDir)))) {
      minAvgMapRead(Tables.events(spark, sfDir))
    }
  }

  /** ClickHouse's `sumMapFiltered(keys)` (round 17): the keyed map
    * restricted to a declared KEY SET — the filter is a predicate on
    * the map's own key column, applied before the inner aggregate. */
  private val filteredMapKeys = Seq("click", "purchase")

  /** Driver entry (q256, oracled): `sumMapFiltered(['click',
    * 'purchase'])` — the q248 maps over only the listed keys. */
  def sumMapFilteredDaily(spark: SparkSession, sfDir: String): DataFrame =
    sumMapRead(Tables.events(spark, sfDir)
      .filter(col("event_type").isin(filteredMapKeys: _*)))

  /** Driver entry (q257, oracled — shares q256's oracle): the SAME
    * filtered map ROUTED — the key-set predicate is a filter on the
    * rollup's OWN key column, so it subsumes losslessly onto the
    * registered (day × type) states and the fact is never scanned. */
  def sumMapFilteredDailyRouted(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(dayTypeValueMV(spark, sfDir)))) {
      sumMapRead(Tables.events(spark, sfDir)
        .filter(col("event_type").isin(filteredMapKeys: _*)))
    }
  }

  /** Driver entry (q259, oracled): `minMapFiltered` / `avgMapFiltered`
    * — the -Filtered combinator applied to the q254 pair, completing
    * the keyed-map matrix (sum/max/min/avg × plain/filtered). */
  def minAvgMapFilteredDaily(spark: SparkSession, sfDir: String): DataFrame =
    minAvgMapRead(Tables.events(spark, sfDir)
      .filter(col("event_type").isin(filteredMapKeys: _*)))

  /** Driver entry (q260, oracled — shares q259's oracle): the filtered
    * min/avg maps ROUTED through the same single value rollup. */
  def minAvgMapFilteredDailyRouted(spark: SparkSession,
                                   sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(dayTypeValueMV(spark, sfDir)))) {
      minAvgMapRead(Tables.events(spark, sfDir)
        .filter(col("event_type").isin(filteredMapKeys: _*)))
    }
  }

  /** Driver entry (q249, oracled — shares q248's oracle): the SAME
    * map report with the INNER (day × type) aggregate ROUTED through
    * a registered value rollup — sumMap/maxMap dashboards become a
    * calendar-sized state read (the map fold rides above the routed
    * aggregate untouched); the fact is never scanned. */
  def sumMapDailyRouted(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(dayTypeValueMV(spark, sfDir)))) {
      sumMapRead(Tables.events(spark, sfDir))
    }
  }

  def topKWeightedUsers(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.expr.TkW
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(TkW.topK(TkW.agg(col("user_id"), centWeight), 3).as("top"))
      .select(col("event_type"), explode(col("top")).as("t"))
      .select(col("event_type"),
              col("t.item").as("user_id"), col("t.weight").as("wt"))
      .orderBy(col("event_type"), col("wt").desc, col("user_id"))
  }

  /** The GRAINLESS per-type WEIGHTED-TOP-K registration (round 16):
    * all-time weighted frequent-items states per event type
    * ([[graft.plans.RollupRouting.TopKWeightedOf]] — ClickHouse's
    * `topKWeightedState`). Both the item column and the cent-scaling
    * weight EXPRESSION register as patterns. */
  def topKWeightedSpec(dir: String): graft.plans.RollupRouting.Spec = {
    import graft.plans.RollupRouting._
    Spec("events.parquet", dir, grain = "all", timeCol = "ts",
      keyCols = Map("event_type" -> "event_type"),
      aggs = Seq(
        TopKWeightedOf(ColRef("user_id"), ExprPat(centWeight), "user_topkw_p"),
        CountStarTo("c_p")))
  }

  /** Driver entry (q235, oracled — shares q233's oracle): the SAME
    * weighted-top-k dashboard ROUTED through a registered MV —
    * `graft_topk_weighted_agg(user_id, weight)` rewrites to
    * `graft_topk_weighted_merge` over the stored per-type states (the
    * weight-map sum — exact in the fixture regime, so the explode is
    * bit-equal to q233), and the fact is never scanned. The weighted
    * frequent-items family as a first-class registry member — the
    * reference's "top senders by volume" dashboard
    * (`usdc-transfers/README.md:73-78`) answered from MV state. */
  def topKWeightedUsersRouted(spark: SparkSession, sfDir: String): DataFrame = {
    val mv = eventsMV(spark, sfDir,
      topKWeightedSpec(StarJoins.scratch(sfDir, "topkw_rollup")))
    route(spark, Catalog(Seq(mv))) {
      topKWeightedUsers(spark, sfDir)
    }
  }

  /** Driver entry (q236, oracled — shares q233's oracle): the
    * weighted-top-k dashboard ADVISED end-to-end — the captured
    * workload is the per-type state read (estimate over
    * `graft_topk_weighted_agg`), the advisor mints the
    * [[graft.plans.RollupRouting.TopKWeightedOf]] member (item +
    * weight patterns at the query's own capacity), builds and
    * registers the rollup, and the UNCHANGED q233 query routes. */
  def topKWeightedUsersAdvised(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.expr.TkW
    val root = StarJoins.scratch(sfDir, "advised_topkw")
    val workload = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(TkW.topK(TkW.agg(col("user_id"), centWeight), 3).as("top"))
    val advice = graft.plans.Advisor.advise(Seq(workload), root)
    require(advice.singles.size == 1 && advice.skipped.isEmpty,
      s"advisor unexpectedly skipped: ${advice.skipped}")
    route(spark, graft.plans.Advisor.build(spark, advice)) {
      topKWeightedUsers(spark, sfDir)
    }
  }

  /** Driver entry (q234, oracled): EXACT sliding 7-day distinct users
    * from DAILY BITMAP STATES — the missing exact middle of the
    * sliding-uniques trilogy: q129's explode-exact pays a per-anchor
    * distinct over raw rows (117× at the ×100 audit before the
    * sweep-line), q130's HLL twin is approximate; here each anchor
    * day OR-merges its seven daily bitmaps (calendar × 7 state reads,
    * invariant in fact volume) and the count is EXACT. The spine ×
    * states range join is calendar-sized on both sides — broadcast,
    * never a fact scan. */
  def slidingUniqueBitmap(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.expr.Bmp
    val daily = spark.read.parquet(latticeBitmapMV(spark, sfDir).rollupPath)
      .groupBy(col("day"))
      .agg(Bmp.merge(col("users_bm")).as("bm"))
    val spine = daily.select(col("day").as("anchor"))
    spine.join(broadcast(daily),
        col("day").between(date_sub(col("anchor"), 6), col("anchor")))
      .groupBy(col("anchor").as("day"))
      .agg(Bmp.count(Bmp.merge(col("bm"))).as("uniq_users_7d"))
      .orderBy("day")
  }

  /** The (day × event_type) CAPPED-SET rollup registration (round 13):
    * `uniqUpTo(50)`'s state — at most 51 members per group regardless
    * of cardinality ([[graft.plans.RollupRouting.UniqUpToOf]]). */
  def uniqUpToSpec(dir: String, n: Int = 50): graft.plans.RollupRouting.Spec =
    graft.plans.RollupRouting.Spec("events.parquet", dir, grain = "day",
      timeCol = "ts", keyCols = Map("event_type" -> "event_type"),
      aggs = Seq(graft.plans.RollupRouting.UniqUpToOf("user_id", "upto_set", n),
                 graft.plans.RollupRouting.CountStarTo("c_partial")))

  /** Driver entry (q206, oracled): ClickHouse's `uniqUpTo(N)` INSIDE
    * an MV — the q134 combinator shape `least(count(DISTINCT u), N+1)`
    * answered from a CAPPED set state: at most N+1 members stored per
    * group at ANY cardinality, and the answer stays EXACT — true
    * counts up to N, the single N+1 sentinel above (a truncating
    * partial already carries N+1 members, so no union can fall back
    * under the sentinel; [[graft.plans.RollupRouting.UniqUpToOf]]).
    * The fixture's per-(day, type) distinct users straddle N=50, so
    * both regimes are exercised and DuckDB-oracled. The bounded-state
    * answer to the SetOf member's unbounded-cardinality caveat. */
  def uniqUpToRouted(spark: SparkSession, sfDir: String): DataFrame = {
    val mv = eventsMV(spark, sfDir,
      uniqUpToSpec(StarJoins.scratch(sfDir, "uniq_upto_rollup")))
    route(spark, Catalog(Seq(mv))) {
      Tables.events(spark, sfDir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(least(countDistinct(col("user_id")), lit(51).cast("long"))
               .as("uniq_upto"),
             count(lit(1)).as("n_events"))
        .orderBy("day", "event_type")
    }
  }

  /** The (day × event_type) CONDITIONAL-aggregate rollup registration
    * (round 14): ClickHouse's `countIfState`/`sumIfState` as registry
    * members — the `-If` combinator measures register as the CASE
    * pattern itself ([[graft.plans.RollupRouting.CountOf]] stores the
    * per-group NON-NULL count of the CASE, whose non-match branch is
    * NULL — exactly countIf; the conditional sum is an ordinary
    * [[graft.plans.RollupRouting.SumOf]] ExprPat). Reference analog:
    * the conditional aggregates in `usdc-transfers/sql/analytics.sql`
    * dashboards. */
  def condAggSpec(dir: String): graft.plans.RollupRouting.Spec = {
    import graft.plans.RollupRouting._
    Spec("events.parquet", dir, grain = "day", timeCol = "ts",
      keyCols = Map("event_type" -> "event_type"),
      aggs = Seq(
        CountOf(ExprPat(when(col("value") > 1.0, lit(1))), "over1_cnt_p"),
        SumOf(ExprPat(when(col("value") > 1.0, col("value"))), "over1_sum_p"),
        // the value pattern's OWN non-null count — avgIf's
        // denominator (and `count(CASE WHEN p THEN v END)` directly)
        CountOf(ExprPat(when(col("value") > 1.0, col("value"))), "over1_vcnt_p"),
        // minIf: the extremum member over the SAME CASE pattern —
        // extrema of a null-gapped measure fold like any other
        MinPatOf(ExprPat(when(col("value") > 1.0, col("value"))), "over1_min_p"),
        CountStarTo("c_partial")))
  }

  /** Driver entry (q211, oracled): the `-If` COMBINATORS answered from
    * an MV (round 14) — q134's conditional shapes `count(CASE WHEN
    * value > 1 THEN 1 END)` and `dsum(CASE WHEN ...)` re-aggregate
    * per-(day, type) conditional partials: non-null counts and exact
    * decimal sums both add, so the routed read is bit-equal and
    * DuckDB-oracled. ClickHouse's countIfState/sumIfState inside an
    * AggregatingMergeTree, as registry members. */
  def condAggRouted(spark: SparkSession, sfDir: String): DataFrame = {
    val mv = eventsMV(spark, sfDir,
      condAggSpec(StarJoins.scratch(sfDir, "cond_agg_rollup")))
    route(spark, Catalog(Seq(mv))) {
      Tables.events(spark, sfDir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(when(col("value") > 1.0, 1)).as("n_over_1"),
             Fns.dsum(when(col("value") > 1.0, col("value"))).as("sum_over_1"),
             Fns.davg(when(col("value") > 1.0, col("value"))).as("avg_over_1"),
             min(when(col("value") > 1.0, col("value"))).as("min_over_1"),
             count(lit(1)).as("n_events"))
        .orderBy("day", "event_type")
    }
  }

  /** Driver entry (q209, oracled): the SET-member LATTICE (round 14)
    * — GROUP BY ROLLUP(day, type) over `collect_set` answered from
    * the per-(day, type) array states at EVERY grain: exact distinct
    * sets are subtotal-safe by set union (the q203 argument with sets
    * instead of HLL registers), so one rollup-sized scan answers the
    * per-(day, type) cut, the per-day subtotal, and the grand total,
    * while the exact COUNT(DISTINCT) lattice guard stays untouched.
    * Sorted members render to csv and `size(...)` is the exact count,
    * so the whole lattice is DuckDB-oracled. */
  def latticeSetRouted(spark: SparkSession, sfDir: String): DataFrame = {
    val mv = eventsMV(spark, sfDir,
      uniqArraySpec(StarJoins.scratch(sfDir, "lattice_set_rollup")))
    route(spark, Catalog(Seq(mv))) {
      Tables.events(spark, sfDir)
        .rollup(to_date(col("ts")).as("day"), col("event_type"))
        .agg(
          array_join(expr(
            "transform(sort_array(collect_set(user_id)), x -> cast(x as string))"),
            ",").as("users"),
          size(collect_set(col("user_id"))).cast("long").as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy(col("day").asc_nulls_first, col("event_type").asc_nulls_first)
    }
  }

  /** The (day × event_type) ARG-EXTREMA rollup registration (round
    * 13): per-group struct maxima/minima — ClickHouse's
    * `argMaxState`/`argMinState` as registry members
    * ([[graft.plans.RollupRouting.MaxPatOf]]/`MinPatOf` over the
    * whole struct measure). The pattern registers with catalyst
    * nodes (unresolved attributes; `ExprPat.canon` strips the cast
    * for matching, the result-type guard keeps differently-typed
    * trees live). */
  def argExtremesSpec(dir: String): graft.plans.RollupRouting.Spec = {
    import graft.plans.RollupRouting._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Cast => CCast, CreateNamedStruct, Literal => CLit}
    import org.apache.spark.sql.types.DecimalType
    Spec("events.parquet", dir, grain = "day", timeCol = "ts",
      keyCols = Map("event_type" -> "event_type"),
      aggs = Seq(
        MaxPatOf(ExprPat(CreateNamedStruct(Seq(
          CLit("v"), CCast(UnresolvedAttribute(Seq("value")), DecimalType(38, 6)),
          CLit("u"), UnresolvedAttribute(Seq("user_id"))))), "topv_state"),
        // the raw dashboard's unnamed struct() takes its COLUMN names
        // as field names — the registered pattern must match them
        // (canonical equality compares the name literals)
        MinPatOf(ExprPat(CreateNamedStruct(Seq(
          CLit("ts"), UnresolvedAttribute(Seq("ts")),
          CLit("event_id"), UnresolvedAttribute(Seq("event_id"))))), "first_state"),
        SumOf(ColRef("value"), "value_sum"),
        CountStarTo("c_partial")))
  }

  /** Driver entry (q207, shares q133's oracle): the ARG-EXTREMA
    * dashboard answered from struct-extremum states — the unchanged
    * `max(struct(value, user)).getField(user)` / `min(struct(ts,
    * id)).getField(id)` query (ClickHouse's argMax/argMin, q133's
    * shape) re-aggregates per-(day, type) struct partials; extrema
    * fold associatively, the `getField` scalars survive above the
    * rewrite, and the struct's (v, u) lexicographic order makes ties
    * deterministic on both plans — hence the DuckDB oracle. */
  def argExtremesRouted(spark: SparkSession, sfDir: String): DataFrame = {
    val mv = eventsMV(spark, sfDir,
      argExtremesSpec(StarJoins.scratch(sfDir, "arg_extremes_rollup")))
    route(spark, Catalog(Seq(mv))) {
      argExtremes(spark, sfDir)
    }
  }

  /** The daily UNIQUES-SKETCH rollup registration (round 12): one
    * Datasketches-HLL state per day — ClickHouse's
    * `uniqState`-in-an-AggregatingMergeTree made a registry entry
    * ([[graft.plans.RollupRouting.HllUniqOf]]; the reference's
    * `uniq()` dashboard shape, SURVEY A3). The rollup is DAY-sized —
    * one ~`2^lgK`-byte binary row per day regardless of event volume —
    * so at 100 TB the distinct-users dashboard reads kilobytes. */
  def uniqSketchSpec(dir: String): graft.plans.RollupRouting.Spec =
    graft.plans.RollupRouting.Spec("events.parquet", dir, grain = "day",
      timeCol = "ts", keyCols = Map.empty,
      aggs = Seq(graft.plans.RollupRouting.HllUniqOf("user_id", "uniq_state", 12),
                 graft.plans.RollupRouting.CountStarTo("c_partial")))

  def uniqSketchRollupDir(sfDir: String): String =
    StarJoins.scratch(sfDir, "uniq_sketch_rollup")
  private def uniqSketchMV(spark: SparkSession, sfDir: String): Spec =
    eventsMV(spark, sfDir, uniqSketchSpec(uniqSketchRollupDir(sfDir)))

  /** The raw daily approx-uniques dashboard, written in the engine's
    * sketch form — `hll_sketch_estimate(hll_sketch_agg(user_id, 12))`
    * over RAW events ([[dailyUniqSketchRouted]] runs it unchanged
    * under the router). */
  def dailyUniqSketchRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12))
             .as("uniq_users_approx"),
           count(lit(1)).as("daily_txs"))
      .orderBy("day")

  /** Driver entry (q184): SKETCH-STATE MV routing end-to-end — the
    * unchanged raw sketch query re-aggregates the persisted per-day
    * HLL states through `hll_union_agg` (uniqState → uniqMerge); the
    * events fact is never scanned (plan + routed≡live pinned in
    * RollupRoutingSpec; the estimate itself is spec-bounded against
    * the exact distinct count). */
  def dailyUniqSketchRouted(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(uniqSketchMV(spark, sfDir)))) {
      dailyUniqSketchRaw(spark, sfDir)
    }
  }

  /** Driver entry (q193): SLIDING-WINDOW uniques FROM STATES — the
    * 7-day rolling distinct-users dashboard answered entirely from
    * the persisted per-day HLL states: each day unions its trailing
    * week of states (a banded self-join over the CALENDAR-sized
    * state table, broadcast — both sides are one row per day at any
    * fact scale) and estimates. This is the q129-class sliding-unique
    * problem answered from the MV: the raw forms ship (hour, user)
    * pairs through an exchange; this reads ≤7 sketch rows per output
    * row, invariant in event volume. Sketch union is register-max, so
    * each window's estimate is BIT-equal to the single-pass sketch
    * over that window's raw rows (spec-pinned). */
  def slidingUniqueUsersFromStates(spark: SparkSession, sfDir: String): DataFrame = {
    val states = spark.read.parquet(uniqSketchMV(spark, sfDir).rollupPath)
    val trailing = broadcast(
      states.select(col("day").as("d2"), col("uniq_state"), col("c_partial")))
    states.select(col("day"))
      .join(trailing, col("d2").between(date_sub(col("day"), 6), col("day")))
      .groupBy("day")
      .agg(hll_sketch_estimate(hll_union_agg(col("uniq_state")))
             .as("uniq_users_7d"),
           sum(col("c_partial")).as("txs_7d"))
      .orderBy("day")
  }

  /** Driver entry (q185): the STALE sketch rollup under the hybrid
    * protocol — HLL states for days before [[HybridCutoffUs]] ∪ a
    * live-tail `hll_sketch_agg` over only `ts ≥ watermark`, unioned
    * under the final estimate. Sketch mergeability is what makes the
    * MV-plus-recent-data read exact-in-distribution: the union of the
    * two sides' states IS the single-pass state. */
  def dailyUniqSketchHybrid(spark: SparkSession, sfDir: String): DataFrame = {
    val spec = hybridEventsMV(spark, sfDir,
      uniqSketchSpec(StarJoins.scratch(sfDir, "uniq_sketch_hybrid")))
    route(spark, Catalog(Seq(spec))) {
      dailyUniqSketchRaw(spark, sfDir)
    }
  }

  /** The daily QUANTILE-STATE rollup registration (round 12): one KLL
    * doubles state per day — ClickHouse's `quantileState` made a
    * registry entry ([[graft.plans.RollupRouting.KllQuantileOf]]).
    * Like the HLL member, the rollup is calendar-sized: a p50/p95
    * latency-style dashboard at 100 TB reads one ~KB state per day. */
  def quantileSketchSpec(dir: String): graft.plans.RollupRouting.Spec =
    graft.plans.RollupRouting.Spec("events.parquet", dir, grain = "day",
      timeCol = "ts", keyCols = Map.empty,
      aggs = Seq(graft.plans.RollupRouting.KllQuantileOf("value", "value_kll", 200),
                 graft.plans.RollupRouting.CountStarTo("c_partial")))

  def quantileSketchRollupDir(sfDir: String): String =
    StarJoins.scratch(sfDir, "quantile_sketch_rollup")
  private def quantileSketchMV(spark: SparkSession, sfDir: String): Spec =
    eventsMV(spark, sfDir, quantileSketchSpec(quantileSketchRollupDir(sfDir)))

  /** The raw daily value-quantiles dashboard in the engine's sketch
    * form — `graft_kll_quantile(graft_kll_agg(value, 200), q)` over
    * RAW events; both estimates share one state (Catalyst dedups the
    * equal aggregate). */
  def dailyQuantileSketchRaw(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.expr.Kll
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(Kll.quantile(Kll.agg(col("value"), 200), 0.5).as("p50_value"),
           Kll.quantile(Kll.agg(col("value"), 200), 0.95).as("p95_value"),
           count(lit(1)).as("daily_txs"))
      .orderBy("day")
  }

  /** Driver entry (q188): QUANTILE-state MV routing end-to-end — the
    * unchanged raw sketch query re-aggregates the persisted per-day
    * KLL states through `graft_kll_merge` (quantileState →
    * quantileMerge); the fact is never scanned. KLL compaction is
    * randomized, so the spec pins the ±rank-error bound against the
    * exact CDF (the contract), not bit equality. */
  def dailyQuantileSketchRouted(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(quantileSketchMV(spark, sfDir)))) {
      dailyQuantileSketchRaw(spark, sfDir)
    }
  }

  /** Driver entry (q198): ROLLING quantiles FROM STATES — the 7-day
    * trailing p50/p95 dashboard answered entirely from the persisted
    * per-day KLL states, by the same calendar-sized banded self-join
    * as [[slidingUniqueUsersFromStates]]: ≤7 sketch rows merge per
    * output row, invariant in event volume (the raw form re-scans a
    * week of events per day). Estimates carry the sketch's rank-error
    * contract; the spec pins the ±3% bound against the exact CDF of
    * each window. */
  def slidingQuantilesFromStates(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.expr.Kll
    val states = spark.read.parquet(quantileSketchMV(spark, sfDir).rollupPath)
    val trailing = broadcast(
      states.select(col("day").as("d2"), col("value_kll"), col("c_partial")))
    states.select(col("day"))
      .join(trailing, col("d2").between(date_sub(col("day"), 6), col("day")))
      .groupBy("day")
      .agg(Kll.quantile(Kll.merge(col("value_kll"), 200), 0.5).as("p50_value_7d"),
           Kll.quantile(Kll.merge(col("value_kll"), 200), 0.95).as("p95_value_7d"),
           sum(col("c_partial")).as("txs_7d"))
      .orderBy("day")
  }

  /** Driver entry (q189): the stale quantile rollup under the hybrid
    * protocol — per-day KLL states before [[HybridCutoffUs]] ∪ a
    * live-tail `graft_kll_agg` over only ts ≥ watermark, merged under
    * the final estimates. */
  def dailyQuantileSketchHybrid(spark: SparkSession, sfDir: String): DataFrame = {
    val spec = hybridEventsMV(spark, sfDir,
      quantileSketchSpec(StarJoins.scratch(sfDir, "quantile_sketch_hybrid")))
    route(spark, Catalog(Seq(spec))) {
      dailyQuantileSketchRaw(spark, sfDir)
    }
  }

  /** The daily TOP-K-STATE rollup registration (round 12): one
    * frequent-items sketch per day — ClickHouse's `topKState` made a
    * registry entry ([[graft.plans.RollupRouting.TopKOf]]); the
    * third leg of the state trio (uniq / quantile / topK). */
  def topKSketchSpec(dir: String): graft.plans.RollupRouting.Spec =
    graft.plans.RollupRouting.Spec("events.parquet", dir, grain = "day",
      timeCol = "ts", keyCols = Map.empty,
      aggs = Seq(graft.plans.RollupRouting.TopKOf("user_id", "top_users_state", 8192),
                 graft.plans.RollupRouting.CountStarTo("c_partial")))

  def topKSketchRollupDir(sfDir: String): String =
    StarJoins.scratch(sfDir, "topk_sketch_rollup")

  /** The raw daily top-users dashboard — `approx_top_k` over RAW
    * events (the reference's `topK(...)` shape). */
  def dailyTopUsersRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("approx_top_k(user_id, 5, 8192)").as("top_users"),
           count(lit(1)).as("daily_txs"))
      .orderBy("day")

  /** The SCALAR top-5 dashboard over the frequent-items sketch —
    * the declared-query shape for q191/q192. The driver's compare
    * harness hashes pandas frames, which cannot hash an
    * array<struct> column, so the sketch result is exploded into one
    * row per (day, rank) BEFORE it leaves the engine. Determinism:
    * the estimate is requested at full capacity (k = maxItems =
    * 8192; every fixture day holds well under 8192 distinct users,
    * so the sketch tracks EVERY user exactly) and the final top-5 is
    * then selected by a total order — (est_count DESC, user_id ASC)
    * — making routed, hybrid, and raw forms row-identical and the
    * whole query DuckDB-oracleable (window-count top-5). The rollup
    * routing is untouched: the rewrite fires on the Aggregate node
    * (any foldable k routes onto the same states —
    * [[graft.plans.RollupRouting]] TopKOf member); the explode +
    * rank live above it. */
  def dailyTopUsersScalar(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sketch = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("approx_top_k(user_id, 8192, 8192)").as("top_users"),
           count(lit(1)).as("daily_txs"))
    val w = Window.partitionBy("day")
      .orderBy(col("est_count").desc, col("user_id"))
    sketch
      .select(col("day"), col("daily_txs"), explode(col("top_users")).as("e"))
      .select(col("day"), col("e.item").as("user_id"),
              col("e.count").as("est_count"), col("daily_txs"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 5)
      .select("day", "rank", "user_id", "est_count", "daily_txs")
      .orderBy("day", "rank")
  }

  /** Driver entry (q191): TOP-K-state MV routing end-to-end — the
    * unchanged `approx_top_k` dashboard re-aggregates the persisted
    * per-day frequent-items states through combine + estimate
    * (topKState → topKMerge); the fact is never scanned. The fixture
    * keeps every day under the sketch capacity, so every reported
    * count is EXACT, and the full-capacity estimate + total-order
    * rank ([[dailyTopUsersScalar]]) makes the answer deterministic —
    * routed ≡ raw ≡ the DuckDB exact window-count oracle, ties
    * included. */
  def dailyTopUsersRouted(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(
        eventsMV(spark, sfDir, topKSketchSpec(topKSketchRollupDir(sfDir)))))) {
      dailyTopUsersScalar(spark, sfDir)
    }
  }

  /** Driver entry (q192): the stale top-k rollup under the hybrid
    * protocol — per-day frequent-items states before
    * [[HybridCutoffUs]] ∪ a live-tail accumulate, combined under the
    * final estimate, then projected to deterministic scalar rows
    * ([[dailyTopUsersScalar]]). */
  def dailyTopUsersHybrid(spark: SparkSession, sfDir: String): DataFrame = {
    val spec = hybridEventsMV(spark, sfDir,
      topKSketchSpec(StarJoins.scratch(sfDir, "topk_sketch_hybrid")))
    route(spark, Catalog(Seq(spec))) {
      dailyTopUsersScalar(spark, sfDir)
    }
  }

  /** [[writeRollupUpTo]] at [[HybridCutoffUs]] through the session's
    * rollup memo, like [[eventsMV]]: built once per session and again
    * after events.parquet changes. The watermark is part of the key. */
  private def hybridEventsMV(spark: SparkSession, sfDir: String, spec: Spec): Spec = {
    val events = Tables.events(spark, sfDir)
    graft.SessionCache(spark, "rollup", s"${spec.rollupPath}@$HybridCutoffUs")(
        events.inputFiles.toSeq) {
      writeRollupUpTo(events, spec, HybridCutoffUs)
      spec.rollupPath
    }
    spec
  }

  /** The hybrid-read cutoff used by the q158 fixtures: the rollup
    * covers [min, 2024-01-24); the last ~7 days of events stay raw. */
  val HybridCutoffUs: Long =
    java.time.Instant.parse("2024-01-24T00:00:00Z").toEpochMilli * 1000L

  /** A STALE-BY-CONTRACT daily rollup: partials of exactly the rows
    * with `ts < coveredUpToUs`, stamped with the coverage watermark
    * sidecar ([[graft.plans.RollupRouting.CoverageSidecar]]). The
    * router answers queries over this rollup as rollup ∪ live-tail
    * (ts ≥ watermark) — the MV-plus-recent-data dashboard read.
    *
    * TRANSACTIONAL (round 12): the build lands in a scratch sibling
    * and the sidecar is stamped there BEFORE the directory swap.
    * Writing `mode("overwrite")` straight into the live path would
    * first delete any prior sidecar, with the new stamp landing only
    * after the parquet job — a crash or concurrent planner in that
    * window would see a sidecar-less rollup the router treats as
    * COMPLETE, silently missing every row ≥ the watermark. With the
    * scratch build the live path only ever holds a committed
    * (partials + sidecar) pair; the swap's sole intermediate state is
    * "no directory", which the router answers by staying live — the
    * safe side. (TTL expiry guards the same window differently, with
    * a step-0 zero-coverage stamp — [[Lifecycle.expireIntoRollup]].) */
  def writeDailyRollupUpTo(events: DataFrame, dir: String, coveredUpToUs: Long): Unit =
    writeCommitted(
      dailyPartialsOf(events.filter(col("ts") < timestamp_micros(lit(coveredUpToUs)))),
      dir, Some(coveredUpToUs))

  /** The generalized, SPEC-DRIVEN form of [[writeDailyRollupUpTo]]:
    * build the spec's own partial block
    * ([[graft.plans.RollupRouting.buildPartials]]) over exactly the
    * rows before the watermark and commit it with the same
    * scratch-build + sidecar + whole-directory-swap protocol. One
    * registration value now drives build, commit, AND routing — the
    * reference's one-statement materialized view. */
  def writeRollupUpTo(src: DataFrame, spec: graft.plans.RollupRouting.Spec,
                      coveredUpToUs: Long): Unit = {
    import org.apache.spark.sql.types.DateType
    val cut =
      if (src.schema(spec.timeCol).dataType == DateType)
        col(spec.timeCol) < to_date(timestamp_micros(lit(coveredUpToUs)))
      else col(spec.timeCol).cast("timestamp") < timestamp_micros(lit(coveredUpToUs))
    writeCommitted(graft.plans.RollupRouting.buildPartials(src.filter(cut), spec),
                   spec.rollupPath, Some(coveredUpToUs))
  }

  /** Scratch-build + stamp + atomic-swap commit (see
    * [[writeDailyRollupUpTo]]'s transactionality note). A `None`
    * watermark commits a COMPLETE rollup (no sidecar — the router
    * answers it alone). */
  private def writeCommitted(partials: DataFrame, dir: String,
                             coveredUpToUs: Option[Long]): Unit = {
    val target = java.nio.file.Paths.get(dir)
    val scratch = java.nio.file.Paths.get(dir + ".inprogress")
    graft.LocalFs.deleteTree(scratch)
    partials.write.mode("overwrite").parquet(scratch.toString)
    coveredUpToUs.foreach(
      graft.plans.RollupRouting.stampCoverage(scratch.toString, _))
    graft.LocalFs.deleteTree(target)
    java.nio.file.Files.move(scratch, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** COMPACTION of an append-maintained rollup (round 12). Continuous
    * maintenance ([[graft.streaming.Live.maintainRollup]]) appends one
    * partial block per micro-batch, so a long-lived rollup's file and
    * row counts grow with UPTIME, not with data: every routed read
    * re-merges months of per-batch blocks. Compaction re-aggregates
    * the partials per grain key — partial states are mergeable by
    * construction (decimal sums and counts add, min/max compose), so
    * the merged rollup is value-identical under the router — and
    * commits the result with the same scratch-build + sidecar +
    * atomic-swap protocol as [[writeRollupUpTo]]: the coverage
    * watermark travels with the data, readers see the old directory
    * or the new one, never a mix. The background-merge half of the
    * reference's engine contract (its store compacts parts so
    * read-time merge stays bounded); here it is an explicit
    * maintenance call, same single-writer contract as the maintainer
    * itself (quiesce maintenance while compacting; readers need no
    * quiescing). After compaction the rollup holds exactly one row
    * per grain group (spec-pinned) — a routed scan is then
    * key-cardinality-sized regardless of how many deliveries built
    * it. Fails loudly on an unparseable sidecar (compacting a rollup
    * whose commit point is corrupt would launder the corruption into
    * a clean-looking directory); a sidecar-less COMPLETE rollup
    * compacts to a complete rollup. Unknown columns (not derivable
    * from the spec's aggs) abort rather than silently drop. */
  def compactRollup(spark: SparkSession, spec: graft.plans.RollupRouting.Spec): Unit = {
    // a grainless rollup has no time key — its merge keys are exactly
    // the spec's key columns (it is never append-maintained, but a
    // rebuild tool may still compact a multi-file build)
    val keys =
      if (spec.grain == "all") spec.keyCols.values.toSeq.distinct
      else ((if (spec.grain == "hour") "hour" else "day") +:
        spec.keyCols.values.toSeq).distinct
    compactPartialsDir(spark, spec.rollupPath, keys, spec.aggs)
  }

  /** [[compactRollup]] for a JOIN rollup: same merge, keyed by the
    * spec's grain + grouping columns. Besides bounding read-time merge
    * work, this RESTORES the `CountDistinctGrain` claim for a
    * streaming-built rollup — deliveries that split an order's lines
    * across micro-batches leave several partial rows per grain, and
    * compaction re-merges them to exactly one. */
  def compactJoinRollup(spark: SparkSession,
                        spec: graft.plans.RollupRouting.JoinSpec): Unit =
    compactPartialsDir(spark, spec.rollupPath,
      (spec.grainCols.values.toSeq ++ spec.groupings.values.toSeq ++
        spec.timeGroupings.map(_._2)).distinct,
      spec.aggs)

  private def compactPartialsDir(spark: SparkSession, path: String,
                                 keys: Seq[String],
                                 aggs: Seq[graft.plans.RollupRouting.AggMap]): Unit = {
    import graft.plans.RollupRouting._
    val sidecar = java.nio.file.Paths.get(path, CoverageSidecar)
    val wm: Option[Long] =
      if (java.nio.file.Files.exists(sidecar))
        Some(new String(java.nio.file.Files.readAllBytes(sidecar),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      else None
    val rollup = spark.read.parquet(path)
    val schema = rollup.schema
    // each member defines its own merge and
    // ([[graft.plans.RollupRouting.mergeColumnMap]]) folds them, so a
    // new registry member can never miss this compaction site
    val merges = graft.plans.RollupRouting.mergeColumnMap(aggs)
    val unknown = schema.fieldNames.toSet -- keys.toSet -- merges.map(_._1).toSet
    require(unknown.isEmpty,
      s"rollup at $path has columns the spec cannot merge: $unknown")
    val mergeExprs = merges.map(_._2)
    val merged = rollup.groupBy(keys.map(col): _*)
      .agg(mergeExprs.head, mergeExprs.tail: _*)
      // the merged block must be byte-compatible with what the router
      // matched at registration: original column order and exact types
      // (sum over decimal(38,6) is capped back to (38,6); sum over a
      // long count widens — cast restores it)
      .select(schema.fieldNames.toSeq.map(n =>
        col(n).cast(schema(n).dataType).as(n)): _*)
    // guide §1.5: label the compaction rewrite so drain profiles read
    spark.sparkContext.setJobDescription(s"compact: $path")
    try writeCommitted(merged, path, wm)
    finally spark.sparkContext.setJobDescription(null)
  }

  def hybridRollupDir(sfDir: String): String = StarJoins.scratch(sfDir, "hybrid_rollup")

  /** The raw dashboard window that CROSSES the hybrid cutoff: four
    * covered days answered by the rollup, four uncovered ones by the
    * live tail. */
  def hybridWindowRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("ts") >= lit("2024-01-20 00:00:00").cast("timestamp") &&
              col("ts") < lit("2024-01-28 00:00:00").cast("timestamp"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("daily_volume"), count(lit(1)).as("daily_txs"))
      .orderBy("day")

  /** Driver entry (q158): HYBRID MV + live-tail routing end-to-end —
    * the rollup deliberately covers only history (ts < 2024-01-24),
    * the unchanged raw window query crosses that cutoff, and the
    * router answers it as `rollup partials ∪ tail partials(ts ≥
    * cutoff)` under the final aggregate, with the window re-applied on
    * BOTH sides (subsumed form over the rollup's day key, raw form on
    * the tail scan). The hash match against the raw aggregate proves
    * the split lossless. At 100 TB this is the real dashboard economy:
    * the fact scan is bounded by the REFRESH LAG (hours of raw rows),
    * not the query window — history is rollup-sized. */
  def dailyWindowHybridRouted(spark: SparkSession, sfDir: String): DataFrame = {
    val mv = materialize(spark, Spec("events.parquet", hybridRollupDir(sfDir)))(
      Tables.events(spark, sfDir).filter(col("ts") < timestamp_micros(lit(HybridCutoffUs))))
    // stamp (idempotent; a rebuild's overwrite clears the dir first)
    graft.plans.RollupRouting.stampCoverage(mv.rollupPath, HybridCutoffUs)
    route(spark, Catalog(Seq(mv))) {
      hybridWindowRaw(spark, sfDir)
    }
  }

  /** The daily rollup stored PARTITIONED BY its day key — the layout
    * that makes partition-level refresh ([[refreshStaleDays]])
    * possible: each day's partials live in their own directory, so a
    * late-data correction rewrites one directory, not the MV. */
  def writePartitionedDailyRollup(events: DataFrame, dir: String): Unit = {
    val partials = dailyPartialsOf(events)
    // r19 (guide §6 small files): the partials leave the aggregate
    // hash-partitioned by (day, user_id), so EVERY one of the 32
    // writer tasks held a sliver of every day — ~32 × n_days tiny
    // files per build (≈960 at the 30-day fixture). Clustering by
    // day first writes one file per day — same rows, same layout
    // contract, ~30× fewer file creates on write and footer reads
    // on every read-back (same move as writeDayPartitionedLake).
    // r20 (the r19 advice): the day-clustering stage is SIZED from the
    // partial block's own size estimate (≈1 task per 64 MB, floor =
    // half the cores, cap 2048) instead of inheriting the session
    // shuffle-partition constant from repartition(col("day")) — the
    // same bytes-follow-data sizing as writeDayPartitionedLakeFast.
    // Day remains the clustering unit (one file per day; splitting a
    // day would trade the file-count contract for within-day
    // parallelism), so this bounds TASK count by data size at scale.
    val spark = partials.sparkSession
    val estBytes = partials.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = math.min(2048L,
      math.max(math.max(1, spark.sparkContext.defaultParallelism / 2).toLong,
        estBytes.min(BigInt(Long.MaxValue)).toLong / (64L << 20))).toInt
    partials
      .repartition(n, col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
  }

  /** PARTITION-LEVEL INCREMENTAL REFRESH (T5 at scale): late or
    * corrected rows arrived for some days — recompute ONLY those days'
    * partials from the updated base table and dynamic-partition-
    * overwrite them; every other rollup partition is untouched (the
    * spec pins this by file listing). The stale-day set is derived
    * from the late batch itself and collected to the driver — bounded
    * by the number of affected DAYS, not rows (a late feed touches
    * hours-to-days of event time, not years). At 100 TB the rebuild
    * cost is `days_affected × one-day scan` with the day predicate
    * pushed into the fact scan (partition-pruned in a date-partitioned
    * lake), versus a full MV rebuild. Append-only summing MVs don't
    * need this (signed/partial blocks merge at read —
    * [[graft.streaming.Live.maintainRollup]]); refresh is for
    * CORRECTIONS: reprocessed upstream data, backfills, GDPR erasure,
    * where the day must be recomputed, not appended to. */
  def refreshStaleDays(spark: SparkSession, updatedBase: DataFrame,
                       lateBatch: DataFrame, rollupDir: String): Seq[java.sql.Date] = {
    val staleDays = lateBatch.select(to_date(col("ts")).as("day"))
      .distinct().collect().map(_.getDate(0)).toSeq
    if (staleDays.nonEmpty)
      dailyPartialsOf(updatedBase.filter(to_date(col("ts")).isInCollection(staleDays)))
        // r19 (guide §2.2): the rebuilt block covers only the stale
        // days' partials — writer tasks bounded by the stale-day
        // count beat 32 near-empty task commits under the
        // dynamic-overwrite staging protocol
        .repartition(math.min(staleDays.size, 8), col("day"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day").parquet(rollupDir)
    staleDays
  }

  /** Merge-at-read over the partitioned rollup (same contract as
    * [[graft.streaming.Live.readDailyRollup]]; `day` returns as the
    * inferred DATE partition column). */
  def readPartitionedDailyRollup(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy(col("day"), col("user_id"))
      .agg(sum(col("v_partial")).cast("double").as("total_value"),
           sum(col("c_partial")).as("tx_count"))
      .orderBy("day", "user_id")

  /** Driver entry (q157, shares q01's oracle): the refresh lifecycle
    * end-to-end — build the partitioned rollup from an on-time subset
    * (a deterministic third of two mid-range days held back), deliver
    * the late rows, refresh exactly the affected partitions from the
    * updated base, read. The hash match against the plain full
    * recompute proves targeted refresh ≡ full rebuild; the spec
    * additionally proves untouched partitions were not rewritten. */
  def refreshedDailyRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val isLate = to_date(col("ts"))
      .between(lit("2024-01-10").cast("date"), lit("2024-01-11").cast("date")) &&
      col("event_id") % 3 === 0
    val dir = StarJoins.scratchTemp("graft_refresh")
      .resolve("rollup").toString
    writePartitionedDailyRollup(ev.filter(!isLate), dir)
    refreshStaleDays(spark, ev, ev.filter(isLate), dir)
    readPartitionedDailyRollup(spark, dir)
  }

  /** The raw daily EXACT-AVERAGE dashboard: decimal-shaped avg (the
    * dsum-exact form SURVEY A6 mandates) + event count per day.
    * Written against the RAW table; [[dailyAvgRouted]] runs it
    * UNCHANGED under the routing rule. */
  def dailyAvgRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(avg(col("value").cast("decimal(38,6)")).cast("double").as("avg_value"),
           count(lit(1)).as("n_events"))
      .orderBy("day")

  /** Driver entry (q167): ROUTED EXACT AVERAGE — the unchanged
    * dsum-shaped avg query re-aggregates sum and non-null-count
    * partials and reproduces Spark's own decimal `Average` evaluate
    * tree, so routed ≡ live bit-for-bit
    * ([[graft.plans.RollupRouting.AvgOf]]; near-miss pinned: a bare
    * DOUBLE avg stays live). The oracle replicates the exact decimal
    * HALF_UP quotient in integer space (DuckDB HUGEINT), valid here
    * because every intermediate is exact and the scaled quotient
    * stays inside double's exact-integer range. */
  def dailyAvgRouted(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(dailyMV(spark, sfDir)))) {
      dailyAvgRaw(spark, sfDir)
    }
  }

  /** The raw daily-unique-users dashboard — the reference's `uniq()`
    * read at day grain (`usdc-transfers/sql/analytics.sql:34-35`'s
    * daily sibling). Written against the RAW table;
    * [[dailyUniqUsersRouted]] runs it UNCHANGED under the rule. */
  def dailyUniqUsersRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("uniq_users"),
           count(lit(1)).as("n_events"))
      .orderBy("day")

  /** Driver entry (q169): COUNT(DISTINCT user_id) per day routed as a
    * rollup ROW COUNT — the rollup's grain IS (day, user), so rollup
    * rows per day ARE the day's distinct users, and the usual
    * expand+double-shuffle distinct plan collapses to a rollup-sized
    * count. `CountDistinctGrain` is registered HERE, not in the
    * defaults: it claims grain-uniqueness (a one-shot groupBy build),
    * which a partial-block APPEND stream would violate — the same
    * grain caveat as the join registry's orderkey MV. Near-misses
    * pinned live: a global distinct (same user on many days) and an
    * append-maintained rollup without the registration. */
  def dailyUniqUsersRouted(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.plans.RollupRouting
    val base = dailyMV(spark, sfDir)
    route(spark, Catalog(
        Seq(base.copy(aggs = base.aggs :+ RollupRouting.CountDistinctGrain("user_id"))))) {
      dailyUniqUsersRaw(spark, sfDir)
    }
  }

  // ——— second-table rollup: the generalized Spec vocabulary (round 12) ———

  /** The ORDERS daily rollup's partial block (day × customer grain):
    * the same mergeable-partials contract as [[dailyPartialsOf]] over a
    * DIFFERENT table shape — `o_orderdate` as the time column,
    * `o_custkey` as the key, an exact DECIMAL `o_totalprice` partial.
    * The reference maintains six differently-shaped MVs side by side
    * (`usdc-transfers/sql/analytics.sql:9-94`); with the generalized
    * [[graft.plans.RollupRouting.Spec]] this one registers as pure
    * data ([[ordersSpec]]) — no engine edits. */
  def ordersDailyPartialsOf(orders: DataFrame): DataFrame =
    orders
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .groupBy(to_date(col("o_orderdate")).as("day"), col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(38,6)")).as("price_partial"),
           count(lit(1)).as("n_partial"))

  def ordersRollupDir(sfDir: String): String = StarJoins.scratch(sfDir, "orders_rollup")

  /** The orders rollup's registration — the single-table registry entry
    * carrying its own time column, key map, and aggregate→partial
    * mappings (same vocabulary as the join registry). */
  def ordersSpec(dir: String): graft.plans.RollupRouting.Spec = {
    import graft.plans.RollupRouting._
    Spec("orders.parquet", dir, "day",
      timeCol = "o_orderdate",
      keyCols = Map("o_custkey" -> "o_custkey"),
      aggs = Seq(SumOf(ColRef("o_totalprice"), "price_partial"),
                 CountStarTo("n_partial")))
  }

  /** The raw orders daily-sales dashboard: a whole-day half-open window
    * over raw orders, daily sales + order count. Written against the
    * RAW table; [[ordersDailySalesRouted]] runs it UNCHANGED under the
    * routing rule. */
  def ordersDailySalesRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .groupBy(to_date(col("o_orderdate")).as("o_day"))
      .agg(dsum(col("o_totalprice")).as("daily_sales"), count(lit(1)).as("n_orders"))
      .orderBy("o_day")

  /** Driver entry (q165): a SECOND-TABLE daily rollup routing
    * transparently — the unchanged raw orders query re-aggregates the
    * (day, customer) rollup with the year window subsumed onto its
    * `day` key; the orders fact is never scanned (plan asserted in
    * RollupRoutingSpec, which also pins the near-misses: an unmapped
    * measure or a non-key filter stays on the live scan). Proves the
    * round-12 Spec generalization end-to-end: same engine rule, a
    * differently-shaped table registered as data. */
  def ordersDailySalesRouted(spark: SparkSession, sfDir: String): DataFrame = {
    val mv = materialize(spark, ordersSpec(ordersRollupDir(sfDir)))(Tables.orders(spark, sfDir))
    route(spark, Catalog(Seq(mv))) {
      ordersDailySalesRaw(spark, sfDir)
    }
  }

  /** TIME-WEIGHTED daily average (q162) — the TWAP shape: within each
    * (day, user), an event's value holds until the user's next event
    * that day (the last one until midnight), and the average weights
    * each value by how long it held. One window (lead over the
    * (day, user) partition, event_id tie-break for same-microsecond
    * rows) + one aggregate; the weighted sum multiplies IN EXACT
    * DECIMAL SPACE on BOTH engine and oracle — `value` (≤2 fixture
    * decimals, so the cast is representation-exact) is cast to
    * decimal BEFORE the multiply by the integral minute weight, so no
    * intermediate is ever a rounded double product and no engine
    * build can disagree on a last bit (round 12: the previous
    * double-multiply-then-decimal cast rounded a computed product,
    * the one step where engines legitimately differ). Scales like any
    * keyed window: one shuffle on (day, user), no growing frame. */
  def timeWeightedDaily(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("day"), col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // weights are WHOLE MINUTES held (floor): micros-grained weights
    // push the weighted-sum decimal past double's exact-integer range
    // (2^53 unscaled) where engines legitimately disagree on the last
    // cast bit; minute grain keeps every cast exact on both sides.
    // Sub-minute holds weigh 0 — documented semantics, not a bug.
    // decimal(18,6) (not 38,6) leaves multiplication headroom: with
    // the bigint weight it stays under both engines' precision caps.
    Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("user_id"),
              col("ts"), col("event_id"), col("value"))
      .withColumn("w_min",
        floor((unix_micros(coalesce(lead(col("ts"), 1).over(w),
                                    date_add(col("day"), 1).cast("timestamp"))) -
               unix_micros(col("ts"))) / lit(60000000L)))
      .groupBy(col("day"), col("user_id"))
      .agg(when(sum(col("w_min")) === 0, lit(null))
             .otherwise(
               sum(col("value").cast("decimal(18,6)") * col("w_min")).cast("double") /
                 sum(col("w_min")))
             .as("twap"),
           sum(col("w_min")).as("span_min"),
           count(lit(1)).as("n_events"))
      .orderBy("day", "user_id")
  }

  /** mv_usdc_hourly analog (`setup-analytics.sh:66-85`): hour × type. C4. */
  def hourly(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(dsum(col("value")).as("total_value"), count(lit(1)).as("tx_count"))
      .orderBy("hour", "event_type")

  /** mv_usdc_volume_hourly `uniq()` analog (A3, `sql/analytics.sql:34-35`)
    * — exact countDistinct twin for the oracle (SURVEY §5.3). */
  def uniqUsersHourly(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(countDistinct(col("user_id")).as("uniq_users"),
           count(lit(1)).as("tx_count"))
      .orderBy("hour")

  /** Approx-distinct variant — the reference's actual `uniq()` semantics
    * (HLL++). rsd 0.0174 lands p = 12 under Spark's
    * `p = ceil(2·log2(1.106/rsd))` sizing (1.106/0.0174 ≤ 64): the
    * 2¹²-register sketch ClickHouse uniqHLL12 uses — the fidelity the
    * reference ships, at 1/4 the per-group sketch bytes of the earlier
    * rsd 0.01 (p=14) setting, which tripled the runtime of a 720-group
    * rollup for precision the source system never had. (rsd 0.016
    * would round UP to p=13 — the threshold is 1.106/64 ≈ 0.01729.)
    * Not oracle-comparable (SURVEY §5.3), rows-only check. */
  def uniqUsersApprox(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(approx_count_distinct(col("user_id"), 0.0174).as("approx_users"))
      .orderBy("hour")

  /** Replication-health min/max/count (A4, `sql/monitoring.sql:31-38`). */
  def minMaxByType(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
           count(lit(1)).as("n"))
      .orderBy("event_type")

  /** mv_usdc_size_distribution analog (A7/C2, `sql/analytics.sql:76-88`):
    * multiIf → CASE WHEN bucketing, then GROUP BY bucket. Edges scaled to
    * the fixture's value range (reference edges 1e8/1e9/1e10 micro-USDC). */
  def histogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("size_bucket",
        when(col("value") < 25, "small")
          .when(col("value") < 100, "medium")
          .when(col("value") < 500, "large")
          .otherwise("whale"))
      .groupBy(col("size_bucket"))
      .agg(count(lit(1)).as("tx_count"), dsum(col("value")).as("total_value"))
      .orderBy("size_bucket")

  /** Top senders by volume (O1, `README.md:73-78`): Catalyst plans
    * TakeOrderedAndProject — true top-k, no global sort. This is the
    * reference's skew workload: hot addresses concentrate volume; the
    * partial aggregate absorbs the skew map-side before the shuffle. */
  def topUsers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(dsum(col("value")).as("volume"), count(lit(1)).as("tx_count"))
      .orderBy(col("volume").desc, col("user_id"))
      .limit(10)

  /** Sketch-based frequent-items top-k — the ClickHouse `topK()` true
    * analog (the reference's LIMIT-k queries are exact; `topK` is what
    * ClickHouse offers when exact is too expensive). Spark 4's
    * `approx_top_k` family carries a MERGEABLE sketch state
    * (accumulate → combine → estimate), so partial sketches roll up
    * across partitions, days, or incremental-MV batches exactly like
    * the HLL uniq states of [[uniqSketchSpec]] — constant-size
    * state per group at any fact cardinality. Un-oracled (DuckDB has no
    * twin); the spec asserts exactness vs q08 at test cardinalities and
    * that the merge path equals the one-shot path. */
  def topUsersSketch(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .agg(expr("approx_top_k(user_id, 10)").as("tk"))
      .select(posexplode(col("tk")).as(Seq("rank0", "e")))
      .select((col("rank0") + 1).cast("int").as("rank"),
              col("e.item").as("user_id"), col("e.count").as("est_count"))

  /** intDiv block-bucketing (C1, `sql/analytics.sql:19,31`): integer
    * division bucket — `event_id DIV 100` plays `intDiv(block, 7200)`. */
  def idBuckets(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(expr("event_id DIV 100").as("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("bucket")

  /** toYYYYMMDD partition key (C5, `sql/analytics.sql:58,73,93`). */
  def dayPartitionKey(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(date_format(col("ts"), "yyyyMMdd").cast("int").as("yyyymmdd"))
      .agg(count(lit(1)).as("n"))
      .orderBy("yyyymmdd")

  /** mv_recent_activity sliding predicate (F4/C6, `sql/analytics.sql:106`):
    * `ts >= now() - INTERVAL 24 HOUR`, anchored at max(ts) for
    * determinism (FIXTURES.md). The 1-row anchor is broadcast — no
    * shuffle of the fact table. */
  def recent24h(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val anchor = ev.agg(max(col("ts")).as("anchor"))
    ev.crossJoin(broadcast(anchor))
      .filter(col("ts") >= col("anchor") - expr("INTERVAL 24 HOURS"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("user_id")
  }

  /** GraphQL point-lookup shape (S10, `schema.graphql:4-7` indexed
    * columns): equality predicates + projection, pushed into the parquet
    * scan (PushedFilters) — the Parquet-stats analog of the b-tree
    * indexes in `db/migrations/1691424065505-Data.js:6-8`. */
  def pointLookup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("user_id") === 7 && col("event_type") === "purchase")
      .select(col("event_id"), col("ts"), col("value"))
      .orderBy("event_id")

  /** Payload-column extraction (C9 marshalling analog over the `props`
    * JSON column): regex field pull + cast, then rollup. */
  def propsExtract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("k_sum"))
      .orderBy("k_mod")

  /** The JSON-native twin of [[propsExtract]]: `get_json_object` path
    * extraction instead of a regex (what a semi-structured props column
    * needs once values stop being flat integers). Same rollup, oracled
    * against DuckDB's json_extract_string. */
  def propsJson(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("k_sum"))
      .orderBy("k_mod")

  /** [[propsJson]] through Spark 4's VARIANT type: parse once into the
    * binary semi-structured encoding, then typed `variant_get` path
    * extraction — the open-format analog of ClickHouse's JSON/Object
    * column (and the layout a 100 TB pipeline should persist props in:
    * parse at ingest, shred at read, no per-query string parsing). Same
    * oracle as q55 — the representation change must be invisible. */
  def propsVariant(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("v", parse_json(col("props")))
      .withColumn("k", expr("variant_get(v, '$.k', 'int')"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("k_sum"))
      .orderBy("k_mod")

  /** ClickHouse `groupUniqArray()` analog: the sorted distinct member
    * list per group, rendered to a canonical csv so the oracle compares
    * bit-for-bit (`array_sort` before join — collect_set order is
    * partition-dependent). Bounded state: distinct users per type, not
    * rows. */
  def groupUniqArray(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        array_join(expr("transform(sort_array(collect_set(user_id)), x -> cast(x as string))"), ",")
          .as("users"),
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** ClickHouse `argMax`/`argMin` analog — "the key that attains the
    * extreme", via Spark's native `max_by`/`min_by`: per event type,
    * the user holding the largest single-event value and the earliest
    * event's user. Ties broken deterministically by pairing the value
    * with the key (struct max orders lexicographically), so the oracle
    * hash-matches instead of depending on scan order. */
  def argExtremes(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(max(struct(col("value").cast("decimal(38,6)").as("v"),
                      col("user_id").as("u"))).getField("u").as("top_value_user"),
           min(struct(col("ts"), col("event_id"))).getField("event_id")
             .as("first_event_id"),
           Fns.dsum(col("value")).as("total_value"))
      .orderBy("event_type")

  /** ClickHouse aggregate-COMBINATOR analogs in one rollup — the `-If`
    * family as conditional aggregates (`count(when)`, decimal-routed
    * `sum(when)`) and `uniqUpTo(N)` as `least(countDistinct, N+1)`:
    * exact distinct counts up to N, then the single sentinel N+1
    * ("more than N") — the bounded-cardinality probe dashboards use
    * where the exact tail is irrelevant. */
  def combinatorRollup(spark: SparkSession, sfDir: String,
                       upTo: Int = 10): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(when(col("value") > 1.0, 1)).as("n_over_1"),
           Fns.dsum(when(col("value") > 1.0, col("value"))).as("sum_over_1"),
           least(countDistinct(col("user_id")), lit(upTo + 1).cast("long"))
             .as("uniq_upto"),
           count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** `quantileExactWeighted` analog — the weighted median of document
    * length per language, each doc weighted by its own n_chars (the
    * "median byte lives in a doc of this length" statistic): smallest
    * x with cumulative weight ≥ half the total. One partitioned window
    * per language (high key cardinality, no single-task stage) + a
    * broadcast one-row-per-lang total. */
  def weightedMedianLength(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), col("n_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val totals = docs.groupBy(col("lang"))
      .agg(sum(col("n_chars")).as("total_w"), count(lit(1)).as("n_docs"))
    docs
      .withColumn("cum_w", sum(col("n_chars")).over(w))
      .join(broadcast(totals), "lang")
      .filter(col("cum_w") * 2 >= col("total_w"))
      .groupBy(col("lang"))
      .agg(min(col("n_chars")).as("weighted_median_len"),
           first(col("n_docs")).as("n_docs"))
      .orderBy("lang")
  }

  /** Per-hour (hour, user) distinct pairs — shared by the exact and
    * sketch sliding-unique paths (HLL insertion is idempotent, so the
    * sketch over distinct pairs equals the sketch over raw events). */
  private def hourlyUsers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(date_trunc("hour", col("ts")).as("h"), col("user_id"))
      .distinct()

  /** The sliding scaffold both paths share: explode each hour row into
    * its ≤24 anchors and drop anchors no event ever observed — ONE
    * definition of the window, so the spec that bounds the sketch
    * against the exact form can never drift on window semantics. */
  private def slideToAnchors(hourly: DataFrame): DataFrame = {
    val anchors = hourly.select(col("h").as("anchor")).distinct()
    hourly.withColumn("anchor",
        explode(sequence(col("h"), col("h") + expr("INTERVAL 23 HOURS"),
                         expr("INTERVAL 1 HOUR"))))
      .join(broadcast(anchors), Seq("anchor"), "left_semi")
  }

  /** SLIDING 24-hour distinct users per observed hour — the DAU-style
    * rolling engagement number, EXACT form. The DEFAULT is the
    * sweep-line plan ([[slidingUniqueUsersSweep]]): the ×100-density
    * rehearsal (docs/SCALING.md) measured the older explode form 117×
    * for 100× data (24 anchor-copies of every distinct pair through the
    * distinct-agg exchange) vs 12× for the sweep, so the sweep is what
    * a user gets; [[slidingUniqueUsersExplode]] stays as the
    * independently-derived diagnostic the equivalence spec pins the
    * sweep against, and [[slidingUniqueUsersSketch]] is the mergeable
    * 100 TB path. */
  def slidingUniqueUsers(spark: SparkSession, sfDir: String): DataFrame =
    slidingUniqueUsersSweep(spark, sfDir)

  /** Explode-form exact sliding uniques — spec-only DIAGNOSTIC (the
    * independent derivation [[slidingUniqueUsersSweep]] is checked
    * against; superlinear at extreme density, so not the default). No
    * range join: each (hour, user) row explodes into the ≤24 anchors it
    * contributes to (a fixed 24× fan-out of skinny rows), an
    * anchor-existence semi join against the tiny observed-hour frame
    * drops phantom anchors, and one distinct-aggregate exchange
    * finishes — wall cost scales with active (hour, user) pairs, never
    * |hours|×|rows|. */
  def slidingUniqueUsersExplode(spark: SparkSession, sfDir: String): DataFrame =
    slideToAnchors(hourlyUsers(spark, sfDir))
      .groupBy(col("anchor"))
      .agg(countDistinct(col("user_id")).as("uniq_24h"))
      .orderBy("anchor")

  /** SWEEP-LINE exact sliding uniques — the high-density exact form
    * (same oracle as [[slidingUniqueUsers]], proven row-equal in spec).
    * A user counts toward anchor `a` iff one of their active hours lies
    * in (a-23h, a], i.e. iff `a` is covered by the union of that user's
    * [h, h+23h] intervals — so per user, merge overlapping intervals
    * (one lag + one cumulative flag over the user's DISTINCT hours),
    * emit (+1 at start, -1 past end) deltas, and running-sum the deltas
    * over the hour spine ([[GlobalRank.withRunningTotal]] — exact, no
    * single-task window). The ×100 replica measured the explode form
    * slightly superlinear (117× for 100× density: the exchange carries
    * 24 anchor-copies of every distinct pair and spills); here the only
    * pair-sized exchange is the lag's user shuffle — the anchor-side
    * frames are interval- and spine-sized, invariant in row density. */
  def slidingUniqueUsersSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hu = hourlyUsers(spark, sfDir)
    val wUser = Window.partitionBy(col("user_id")).orderBy(col("h"))
    val intervals = hu
      .withColumn("prev_h", lag(col("h"), 1).over(wUser))
      .withColumn("new_iv",
        when(col("prev_h").isNull ||
             col("h") > col("prev_h") + expr("INTERVAL 23 HOURS"), 1L).otherwise(0L))
      .withColumn("iv", sum(col("new_iv")).over(
        wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("iv"))
      .agg(min(col("h")).as("s"),
           (max(col("h")) + expr("INTERVAL 23 HOURS")).as("e"))
    val spine = hu.select(col("h").as("anchor")).distinct()
    val deltas = intervals.select(col("s").as("anchor"), lit(1L).as("d"))
      .unionByName(intervals.select(
        (col("e") + expr("INTERVAL 1 HOUR")).as("anchor"), lit(-1L).as("d")))
      .unionByName(spine.select(col("anchor"), lit(0L).as("d")))
      .groupBy(col("anchor")).agg(sum(col("d")).as("d"))
    GlobalRank.withRunningTotal(deltas, Seq(col("anchor")), col("d"), "cum")
      .join(broadcast(spine), Seq("anchor"), "left_semi")
      .select(col("anchor"), col("cum").cast("long").as("uniq_24h"))
      .orderBy("anchor")
  }

  /** The 100 TB sliding-unique path: per-hour MERGEABLE HLL sketches
    * (one row per hour regardless of corpus size), slid by exploding
    * each hour's sketch into its ≤24 anchors and UNIONING sketches —
    * the raw table is scanned once ever; every window after that
    * merges 24 sketch binaries. This is the DAU/WAU/MAU-from-rollup
    * design rule ("store mergeable states, not numbers") applied to a
    * sliding frame. Un-oracled (HLL binary); the spec bounds every
    * anchor against [[slidingUniqueUsers]]. */
  def slidingUniqueUsersSketch(spark: SparkSession, sfDir: String): DataFrame =
    slideToAnchors(
        hourlyUsers(spark, sfDir)
          .groupBy(col("h"))
          .agg(expr("hll_sketch_agg(user_id)").as("sk")))
      .groupBy(col("anchor"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("uniq_24h_approx"))
      .orderBy("anchor")

  /** WEEKLY cohort retention — of the users active in week w, the
    * share also active in week w+1 (the engagement KPI every analytics
    * deployment of the reference's shape serves). Both sides reduce to
    * distinct (week, user) before the self-join, so the exchange
    * carries two skinny columns; the division is one IEEE double op on
    * exact longs (identical across engines). The final (open) week
    * reports retention against a week that hasn't happened — its rate
    * is a lower bound, reported as-is. */
  def weeklyRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val wu = Tables.events(spark, sfDir)
      .select(date_trunc("week", col("ts")).as("w"), col("user_id"))
      .distinct()
    wu.as("a")
      .join(wu.as("b"),
            col("b.user_id") === col("a.user_id") &&
              col("b.w") === col("a.w") + expr("INTERVAL 7 DAYS"),
            "left")
      .groupBy(col("a.w").as("week"))
      .agg(count(lit(1)).as("n_active"),
           count(col("b.user_id")).as("n_retained"))
      .withColumn("retention",
        col("n_retained").cast("double") / col("n_active").cast("double"))
      .orderBy("week")
  }
}
