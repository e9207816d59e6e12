package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.RollupRouting.{Catalog, materialize, route}
import Rollups.eventsMV

/** Window-function and multi-grain analytics (library capability beyond
  * the reference, which has no OVER clauses — SURVEY §2.5; the only
  * reference-mandated window is the keep-last dedup in Collapse).
  *
  * Scale note: both windows partition by user_id (high cardinality at
  * scale) so state per window stays tiny; the cumulative frame is
  * ROWS-based over the per-user day series. ROLLUP is one aggregate
  * with grouping-set expansion — partial aggregation still applies.
  */
object Windows {

  /** Per-user running cumulative volume by day (ROWS unbounded
    * preceding). Decimal states keep the running sums exact. */
  def runningTotal(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(38,6)")).as("v"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum_value", sum(col("v")).over(w).cast("double"))
      .select(col("user_id"), col("day"), col("v").cast("double").as("day_value"), col("cum_value"))
      .orderBy("user_id", "day")
  }

  /** ClickHouse's `deltaSum` (round 18): the sum of POSITIVE deltas of
    * a series in time order — the canonical monotone-counter-with-
    * resets reading (a counter that only grows contributes its total
    * growth; each reset contributes nothing). Per user over the
    * (ts, event_id)-ordered value series, in exact cents (LONG after
    * one half-up rounding per value — both engines round the identical
    * double, and the delta arithmetic is then integer-exact).
    *
    * Per USER — deltaSum is sequential per series by definition (each
    * delta needs its predecessor), so the series key must be the
    * high-cardinality counter entity: partitioning by user scales the
    * window to any fact volume (one user's series per sort partition,
    * the per-user shuffle every behavioral read already pays), where
    * a per-type spelling would funnel the whole fact through five
    * sequential sorts.
    *
    * Spark-first shape: ClickHouse computes this inside a streaming
    * aggregate state; the Spark spelling is `lag` over the series'
    * order + a conditional sum — NO per-group collected array, so the
    * plan is one hash exchange and a streaming windowed sort.
    * (ts, event_id) is a total order, so the lag — and therefore
    * every delta — is deterministic. */
  def deltaSumPerUser(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), cents.as("c"),
        lag(cents, 1).over(w).as("prev"))
      .groupBy(col("user_id"))
      .agg(coalesce(sum(when(col("c") > col("prev"),
        col("c") - col("prev"))), lit(0L)).as("delta_cents"))
      .orderBy("user_id")
  }

  /** ClickHouse's `groupArrayMovingSum(k)` (round 18) — per group, the
    * ARRAY of k-window moving sums in series order. Per user over the
    * (ts, event_id)-ordered cents series at k = 3, rendered as csv so
    * the report hash-oracles. Spark-first: the moving sum is a
    * ROWS-frame window (streaming, state bounded by k), and only the
    * final per-user render collects — bounded by a user's OWN events,
    * the same economics as every per-user sequence read. The collect
    * re-sorts by (ts, event_id) explicitly: collect_list order is not
    * guaranteed after a shuffle. */
  def movingSumPerUser(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, Window.currentRow)
    Tables.events(spark, sfDir)
      .select(col("user_id"), struct(col("ts").as("ts"),
        col("event_id").as("event_id"),
        sum(cents).over(w).as("ms")).as("e"))
      .groupBy(col("user_id"))
      .agg(array_join(transform(sort_array(collect_list(col("e"))),
        x => x.getField("ms").cast("string")), ",").as("moving3"))
      .orderBy("user_id")
  }

  /** The exact-cents measure shared by the per-series counter family
    * (q281–q290): ONE half-up rounding per value, integer arithmetic
    * after — both engines round the identical double, so every
    * downstream delta/sum/fold is integer-exact. */
  private def cents: Column = round(col("value") * 100).cast("long")

  /** The per-event cents struct the SEQUENCE member stores —
    * `(ts, event_id, c)`, lexicographic sort = the family's series
    * order. ONE definition shared by the spec registration and every
    * sequence-spelled read, so routed reads match their own pattern. */
  private def centsStruct: Column =
    struct(col("ts").as("ts"), col("event_id").as("event_id"), cents.as("c"))

  /** The (day × user) COMPACT deltaSum registration (round 19 — the
    * r18 verdict's #2): per-(user, day) `struct(first, last, dsum)` of
    * the cents series — [[graft.plans.RollupRouting.DeltaSumOf]],
    * ClickHouse's `deltaSumTimestamp` state keyed by the grain. Three
    * LONGs per user-day vs the sequence member's struct per EVENT. */
  def deltaSumSpec(dir: String): graft.plans.RollupRouting.Spec = {
    import graft.plans.RollupRouting._
    Spec("events.parquet", dir, grain = "day", timeCol = "ts",
      keyCols = Map("user_id" -> "user_id"),
      aggs = Seq(
        DeltaSumOf(ExprPat(cents), Seq("ts", "event_id"), "ds_p"),
        CountStarTo("c_p")))
  }

  /** Driver entry (q283, oracled — shares q281's oracle): deltaSum
    * served from the registered per-(user, day) states — the r18
    * verdict's perf-weak row routed. Partials compose EXACTLY across
    * day buckets (`dsum += next.dsum + max(0, next.first −
    * prev.last)`: consecutive pairs inside a day are the day's dsum,
    * the one pair straddling each boundary is the cross term), so the
    * all-time read folds each user's day states in day order — a
    * calendar-bounded array per user, never the event series. The
    * read is an EXPLICIT state fold: the raw q281 plan is a
    * Window(lag), outside the router's Aggregate-only contract
    * (the q277 precedent, documented on the member). */
  def deltaSumPerUserFromStates(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = eventsMV(spark, sfDir,
      deltaSumSpec(StarJoins.scratch(sfDir, "delta_sum_rollup"))).rollupPath
    // day-sorted flat states → ONE compiled fold per user
    // ([[graft.expr.DeltaStateFold]]; the builtin aggregate() HOF is
    // interpreted per element — see SeriesFold's scaladoc)
    spark.read.parquet(dir)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("day"),
        col("ds_p.first").as("first"), col("ds_p.last").as("last"),
        col("ds_p.dsum").as("dsum")))).as("states"))
      .select(col("user_id"),
        org.apache.spark.sql.graftx.Bridge.column(graft.expr.DeltaStateFold(
          org.apache.spark.sql.graftx.Bridge.expressionEager(col("states"))))
          .as("delta_cents"))
      .orderBy("user_id")
  }

  /** The (day × user) cents-SEQUENCE registration (round 19): the
    * ListOf member over [[centsStruct]] — the state the moving-window
    * family reads route through. Unlike deltaSum, a moving-sum/avg
    * read must emit one value PER EVENT, so its state is
    * information-theoretically the series itself; the routed win is
    * the same as every sequence family's: states are pre-grouped and
    * pre-keyed, the fact is never re-scanned or re-shuffled. */
  def centsSeqSpec(dir: String): graft.plans.RollupRouting.Spec = {
    import graft.plans.RollupRouting._
    Spec("events.parquet", dir, grain = "day", timeCol = "ts",
      keyCols = Map("user_id" -> "user_id"),
      aggs = Seq(
        ListOf(ExprPat(centsStruct), "cents_seq"),
        CountStarTo("c_p")))
  }

  /** Build-once + route scope for the cents-sequence rollup — shared
    * by the q284/q286/q290 state-served reads. */
  private def withCentsSeqStates(spark: SparkSession, sfDir: String)
                                (read: => DataFrame): DataFrame = {
    val mv = eventsMV(spark, sfDir,
      centsSeqSpec(StarJoins.scratch(sfDir, "cents_seq_rollup")))
    route(spark, Catalog(Seq(mv)))(read)
  }

  /** The per-user sorted cents sequence — the ListOf-routable collect
    * (the registered pattern IS this expression, so the unchanged
    * read rewrites to flatten of the per-(day, user) states). */
  private def userCentsSeq(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(sort_array(collect_list(centsStruct)).as("seq"))

  /** q282's moving sums spelled over the sorted SEQUENCE — one
    * compiled ring-buffer pass per user
    * ([[graft.expr.MovingSumCsv]]; the first draft's
    * transform+element_at spelling was interpreted per element and
    * measured 6.2× at ×100 where this kernel sits in the family's
    * flat state-read regime). Value-identical to the window spelling:
    * same cents, same (ts, event_id) total order. */
  private[graft] def movingSumsOverSeq(events: DataFrame): DataFrame =
    userCentsSeq(events)
      .select(col("user_id"),
        org.apache.spark.sql.graftx.Bridge.column(graft.expr.MovingSumCsv(
          org.apache.spark.sql.graftx.Bridge.expressionEager(col("seq")), 3))
          .as("moving3"))
      .orderBy("user_id")

  /** Driver entry (q284, oracled — shares q282's oracle):
    * groupArrayMovingSum(3) served from the registered cents-sequence
    * states — the r18 verdict's second perf-weak row routed; the
    * collect rewrites to flatten of per-(day, user) list states and
    * the fact is never scanned. */
  def movingSumFromStates(spark: SparkSession, sfDir: String): DataFrame =
    withCentsSeqStates(spark, sfDir) {
      movingSumsOverSeq(Tables.events(spark, sfDir))
    }

  /** Driver entry (q285, oracled): ClickHouse's
    * `groupArrayMovingAvg(3)` (round 19 — the r18 verdict's #3) —
    * the k-window moving AVERAGE per user in series order, divisor
    * ALWAYS the window size k (ClickHouse's rule: the first k−1
    * elements average over k, not over the elements seen), emitted as
    * (user, pos, mavg) rows so the double column hash-oracles without
    * string-rendering doubles. Same one-exchange streaming-window
    * plan as q281/q282. */
  def movingAvgPerUser(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"),
        row_number().over(w).cast("int").as("pos"),
        (sum(cents).over(w.rowsBetween(-2, Window.currentRow)).cast("double")
          / 3.0d).as("mavg"))
      .orderBy("user_id", "pos")
  }

  /** q285's moving averages over the sorted sequence (the same
    * compiled ring-buffer kernel with ClickHouse's always-k divisor —
    * [[graft.expr.MovingAvgArr]]), exploded back to (user, pos, mavg)
    * rows. */
  private[graft] def movingAvgsOverSeq(events: DataFrame): DataFrame =
    userCentsSeq(events)
      .select(col("user_id"), posexplode(
        org.apache.spark.sql.graftx.Bridge.column(graft.expr.MovingAvgArr(
          org.apache.spark.sql.graftx.Bridge.expressionEager(col("seq")), 3))))
      .select(col("user_id"), (col("pos") + 1).cast("int").as("pos"),
        col("col").as("mavg"))
      .orderBy("user_id", "pos")

  /** Driver entry (q286, oracled — shares q285's oracle): the moving
    * average served from the same registered cents-sequence states. */
  def movingAvgFromStates(spark: SparkSession, sfDir: String): DataFrame =
    withCentsSeqStates(spark, sfDir) {
      movingAvgsOverSeq(Tables.events(spark, sfDir))
    }

  /** Driver entry (q287, oracled): ClickHouse's `deltaSumTimestamp`
    * analog at DAY grain (round 19 — the r18 verdict's #3): the
    * positive deltas of each user's DAILY-VOLUME cents series in day
    * order — the form whose state merges are ordered by the grain key
    * (exactly why ClickHouse added the timestamped variant for MVs).
    * The inner aggregate is the registered daily rollup's own shape,
    * so [[deltaSumDailyRouted]] runs THIS query unchanged and the
    * fact is never scanned. */
  def deltaSumDaily(spark: SparkSession, sfDir: String): DataFrame =
    deltaSumDailyOver(Tables.events(spark, sfDir))

  private[graft] def deltaSumDailyOver(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(38,6)")).as("v"))
      // exact decimal rounding to cents — ONE rounding per day total
      .withColumn("c", round(col("v") * 100).cast("long"))
      .withColumn("prev", lag(col("c"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(coalesce(sum(when(col("c") > col("prev"), col("c") - col("prev"))),
        lit(0L)).as("delta_day_cents"))
      .orderBy("user_id")
  }

  /** Driver entry (q288, oracled — shares q287's oracle):
    * deltaSumTimestamp ROUTED — the unchanged q287 query under the
    * registered (day × user) daily rollup: the inner Aggregate
    * rewrites onto `v_partial` TRANSPARENTLY (this family's one
    * window read whose input is rollup-grain, so the standard
    * Aggregate rewrite serves it — no explicit state read needed)
    * and the day-ordered lag fold rides above rollup-sized rows. */
  def deltaSumDailyRouted(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(Rollups.dailyMV(spark, sfDir)))) {
      deltaSumDailyOver(Tables.events(spark, sfDir))
    }
  }

  /** Driver entry (q289, oracled): `exponentialMovingAverage` (round
    * 19 — the r18 verdict's #3) — the final per-user EMA of the cents
    * series at α = 0.5: `ema_i = c_i·0.5 + ema_{i−1}·0.5`, seeded at
    * the first value. One compiled fold over the sorted sequence
    * ([[graft.expr.EmaFold]]) — the recursion no window frame can
    * spell — with the identical IEEE op order in the DuckDB
    * recursive-CTE oracle, so the double is bit-deterministic.
    * DIVERGENCE, honestly stated: ClickHouse's
    * `exponentialMovingAverage(T)` decays by TIME-delta; this member
    * decays per OBSERVATION (the classic EWMA) — the time-decayed
    * variant changes only the decay factor expression. */
  def emaPerUser(spark: SparkSession, sfDir: String): DataFrame =
    emaOverSeq(Tables.events(spark, sfDir))

  private[graft] def emaOverSeq(events: DataFrame): DataFrame =
    userCentsSeq(events)
      .select(col("user_id"),
        org.apache.spark.sql.graftx.Bridge.column(graft.expr.EmaFold(
          org.apache.spark.sql.graftx.Bridge.expressionEager(col("seq")), 0.5d))
          .as("ema"))
      .orderBy("user_id")

  /** Driver entry (q290, oracled — shares q289's oracle): the EMA
    * served from the registered cents-sequence states — the same
    * collect routes, the fold runs over the merged sequence. */
  def emaFromStates(spark: SparkSession, sfDir: String): DataFrame =
    withCentsSeqStates(spark, sfDir) {
      emaOverSeq(Tables.events(spark, sfDir))
    }

  /** Driver entry (q291, oracled): ClickHouse's `maxIntersections` /
    * `maxIntersectionsPosition` (round 19) — per event type, the peak
    * number of SIMULTANEOUSLY open one-hour activity windows
    * (half-open [ts, ts + 1h)) and the EARLIEST instant the peak is
    * reached. Sweep-line as relational algebra: each interval explodes
    * to (+1 at start, −1 at end) points, a running sum over
    * (point, delta) order is the concurrency curve — ends sort before
    * starts at ties (delta −1 < +1), so touching intervals do not
    * intersect, exactly the half-open contract the oracle spells.
    * Ties among identical (point, delta) rows leave the row-frame
    * prefix sums order-dependent WITHIN the tie run, but both reported
    * columns are tie-insensitive (the run's max is its closing value;
    * all tied rows share the point), so the output is deterministic.
    * Scale: one exchange on the group key; the curve never
    * materializes per group — the same two-window shape as
    * sessionize. ClickHouse computes this scan-time too (the sweep
    * needs the sorted points); there is no mergeable state to
    * register, honestly. */
  /** The shared concurrency curve: every interval explodes to (+1 at
    * start, −1 at end) points, and the per-type running sum is a
    * CALENDAR-BUCKETED two-level prefix sum — the distributed sweep:
    *
    *  1. local cumulative per (event_type, day-of-point) — a
    *     HIGH-cardinality window partitioning (types × days), so the
    *     curve parallelizes across the cluster;
    *  2. per-bucket delta totals aggregate to a CALENDAR-SIZED frame
    *     whose per-type day-prefix (the only low-cardinality window)
    *     runs over types × days rows, invariant in fact volume;
    *  3. broadcast the offsets back: running = local + offset.
    *
    * A naive per-type `Window` funnels each type's entire 2×|events|
    * curve through ONE task (event_type has ~5 values — measured 35 s
    * at ×100, ~43×); [[GlobalRank.withRunningTotal]] fixes the
    * parallelism but its checkpointed range layout materializes the
    * full curve to local storage (measured 28 s) — the bucketed form
    * keeps the heavy data on one hash exchange. Ends sort before
    * starts at ties (d = −1 < +1): half-open intervals touching at a
    * point do not intersect. */
  /** The ±1 endpoint frame of the one-hour activity intervals — shared
    * by the live sweep and the [[sweepPeakSpec]] state build. */
  private def sweepPoints(spark: SparkSession, sfDir: String): DataFrame = {
    val hour = expr("INTERVAL 1 HOUR")
    Tables.events(spark, sfDir)
      .select(col("event_type"), explode(array(
        struct(col("ts").as("p"), lit(1).as("d")),
        struct((col("ts") + hour).as("p"), lit(-1).as("d")))).as("x"))
      .select(col("event_type"), col("x.p").as("p"), col("x.d").as("d"))
  }

  private def sweepRunning(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = sweepPoints(spark, sfDir)
      .withColumn("__day", to_date(col("p")))
    val local = Window.partitionBy(col("event_type"), col("__day"))
      .orderBy(col("p"), col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offW = Window.partitionBy(col("event_type")).orderBy(col("__day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = pts.groupBy(col("event_type"), col("__day"))
      .agg(sum(col("d")).as("__tot"))
      .withColumn("__off", coalesce(sum(col("__tot")).over(offW), lit(0L)))
      .drop("__tot")
    pts
      .withColumn("__local", sum(col("d")).over(local))
      .join(broadcast(offsets), Seq("event_type", "__day"))
      .withColumn("running", (col("__local") + col("__off")).cast("long"))
      .drop("__day", "__local", "__off")
  }

  def maxIntersections(spark: SparkSession, sfDir: String): DataFrame =
    sweepRunning(spark, sfDir)
      // ONE aggregate pass reads the curve once: the lexicographic
      // struct max carries (peak, earliest-p-at-peak) together —
      // among peak rows, max of the NEGATED epoch is the earliest
      // point (a peaks-then-join spelling re-executed the whole
      // sweep for the second pass; measured ~1.4x the single-pass)
      .groupBy(col("event_type"))
      .agg(max(struct(col("running"),
        (-unix_micros(col("p"))).as("np"))).as("m"))
      .select(col("event_type"),
        col("m.running").cast("long").as("max_open"),
        timestamp_micros(-col("m.np")).as("peak_ts"))
      .orderBy("event_type")

  /** Driver entry (q292, oracled): ClickHouse's `intervalLengthSum`
    * (round 19) — per event type, the total wall-clock (exact micros)
    * covered by the UNION of the one-hour activity windows (overlaps
    * counted once) — "how much wall-clock was this event type live" —
    * plus the count of maximal continuously-covered stretches
    * (half-open convention: touching intervals share no point, so
    * they start a new stretch). Rides the SAME distributed
    * concurrency curve as q291 — see [[sweepRunning]] and the island
    * identity in the body; like q291 the sweep is scan-time in
    * ClickHouse too. */
  /** The (day × type) MAX-PREFIX registration (round 19): per bucket
    * the sweep monoid `(tot, maxp, at_us)` over the (p, d)-sorted ±1
    * points — [[graft.plans.RollupRouting.MaxPrefixOf]]. Calendar ×
    * types sized at ANY fact volume. */
  def sweepPeakSpec(dir: String): graft.plans.RollupRouting.Spec = {
    import graft.plans.RollupRouting._
    // deliberately NO CountStarTo: the build input is the ±1 POINT
    // frame (two rows per event), so a c_p here would serve a
    // transparent count(*) dashboard DOUBLED — the spec carries only
    // the explicit-read member, and routing never consumes it
    Spec("events.parquet", dir, grain = "day", timeCol = "p",
      keyCols = Map("event_type" -> "event_type"),
      aggs = Seq(MaxPrefixOf(ColRef("d"), Seq("p", "d"), "sw_p")))
  }

  /** Driver entry (q293, oracled — shares q291's oracle): the sweep
    * peak from the registered (day × type) MAX-PREFIX states — the
    * segment-tree fold `cand = run + maxp; run += tot` composes day
    * buckets exactly, so the dashboard reads a CALENDAR-sized rollup
    * (300 rows here, invariant in fact volume) where the raw sweep
    * re-scans 2×|events| points; the earliest-peak instant rides the
    * state's own at_us. Explicit state fold like q283 (the raw plan
    * is a sweep, not an Aggregate — the member documents the
    * contract). q292's covered-time read deliberately has NO such
    * member: the union measure of a day depends on the incoming
    * offset level (a per-level time histogram, unbounded state), so
    * it stays an honest scan like ClickHouse's. */
  def maxIntersectionsFromStates(spark: SparkSession, sfDir: String): DataFrame = {
    val mv = materialize(spark,
      sweepPeakSpec(StarJoins.scratch(sfDir, "sweep_peak_rollup")))(sweepPoints(spark, sfDir))
    spark.read.parquet(mv.rollupPath)
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"),
        col("sw_p.tot").as("tot"), col("sw_p.maxp").as("maxp"),
        col("sw_p.at_us").as("at_us")))).as("states"))
      .select(col("event_type"),
        org.apache.spark.sql.graftx.Bridge.column(graft.expr.SweepPeakFold(
          org.apache.spark.sql.graftx.Bridge.expressionEager(col("states"))))
          .as("m"))
      .select(col("event_type"), col("m.peak").cast("long").as("max_open"),
        timestamp_micros(col("m.at_us")).as("peak_ts"))
      .orderBy("event_type")
  }

  def intervalLengthSum(spark: SparkSession, sfDir: String): DataFrame = {
    // an ISLAND (maximal continuously-covered stretch; half-open, so
    // touching intervals start a new island) opens at a +1 point whose
    // running sum is 1 and closes at a −1 point whose running sum is
    // 0 — so covered time is Σ(close points) − Σ(open points) and the
    // island count is the open count: plain aggregates over the ONE
    // distributed curve, no island-numbering window at all. The point
    // sums run in DECIMAL(38,0) (4M epoch-micros each ~1.7e15 overflow
    // a LONG sum long before the DIFFERENCE, which is small). Ties on
    // (p, d) leave WHICH tied row carries running==1 order-dependent,
    // but all tied rows share p, so both sums are deterministic.
    val r = sweepRunning(spark, sfDir)
    val pd = unix_micros(col("p")).cast("decimal(38,0)")
    r.groupBy(col("event_type"))
      .agg(
        (sum(when(col("d") === -1 && col("running") === 0, pd))
          - sum(when(col("d") === 1 && col("running") === 1, pd)))
          .cast("long").as("covered_micros"),
        count(when(col("d") === 1 && col("running") === 1, 1))
          .as("n_islands"))
      .orderBy("event_type")
  }

  /** Day-over-day volume delta per user via lag(). */
  def dayOverDay(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(38,6)")).cast("double").as("v"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    daily
      .withColumn("prev_v", lag(col("v"), 1).over(w))
      .withColumn("delta", col("v") - col("prev_v"))
      .select(col("user_id"), col("day"), col("v").as("day_value"),
              col("prev_v"), col("delta"))
      .orderBy("user_id", "day")
  }

  /** Top-3 spending days per user — per-group top-k via window rank
    * (the grouped variant of O1; `TakeOrderedAndProject` covers global
    * top-k, rank-filter covers per-key). */
  def topDaysPerUser(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(38,6)")).cast("double").as("day_value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("day_value").desc, col("day"))
    daily.withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= 3)
      .orderBy("user_id", "rnk")
  }

  /** q41's plan, re-executed through the native bounded-heap operator
    * ([[graft.plans.TopKPerGroup]]): Exchange → one-pass heaps instead of
    * Exchange → full Sort → Window → Filter. Same rows, same rank
    * tie-breaking (day_value DESC, day ASC), no per-group sort of losers
    * — the shape that survives a 100× scale-up of days-per-user. */
  def topDaysPerUserNative(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(38,6)")).cast("double").as("day_value"))
    graft.plans.TopKPerGroup.topK(
        daily, Seq("user_id"), Seq("day_value" -> false, "day" -> true), k = 3)
      .orderBy("user_id", "rnk")
  }

  /** Wide pivot: one column per event type (explicit value list — a
    * dynamic pivot would need an extra distinct pass and yields a
    * nondeterministic schema). */
  def pivotEventTypes(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("day")

  /** The inverse of [[pivotEventTypes]]: melt the wide per-type columns
    * back to long form with Spark's native `unpivot` (no stack()
    * string-templating). Zero-filled cells are dropped so the roundtrip
    * equals the plain two-key rollup — which is exactly the oracle. */
  def unpivotEventTypes(spark: SparkSession, sfDir: String): DataFrame =
    pivotEventTypes(spark, sfDir)
      .unpivot(Array(col("day")),
               Array(col("click"), col("error"), col("purchase"),
                     col("signup"), col("view")),
               "event_type", "n")
      .filter(col("n") > 0)
      .orderBy("day", "event_type")

  /** Multi-grain totals with ROLLUP(day, event_type): per (day,type),
    * per day, and grand total in one aggregate. Grouping nulls are
    * coalesced to sentinels ('1900-01-01' / 'ALL') so the output is
    * null-free for the oracle hash compare. */
  def rollupGrains(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .rollup(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), Fns.dsum(col("value")).as("total_value"))
      .select(
        coalesce(col("day"), lit("1900-01-01").cast("date")).as("day"),
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("n"), col("total_value"))
      .orderBy("day", "event_type")

  /** All four grains of (event_type, size_bucket) with CUBE — the full
    * grouping-set lattice in one pass. Like ROLLUP this is a single
    * aggregate with grouping-set expansion: each input row feeds every
    * grain's partial state map-side, so the shuffle carries rollup-sized
    * data ×4 grains, never the raw table twice. */
  def cubeGrains(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("size_bucket", when(col("value") < 100, "small").otherwise("large"))
      .cube(col("event_type"), col("size_bucket"))
      .agg(count(lit(1)).as("n"), Fns.dsum(col("value")).as("total_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("size_bucket"), lit("ALL")).as("size_bucket"),
        col("n"), col("total_value"))
      .orderBy("event_type", "size_bucket")

  /** Arbitrary grain list with GROUPING SETS — the general form of
    * ROLLUP/CUBE: exactly the (day) and (event_type) marginals, no
    * combined grain, one pass. Same single-aggregate expansion: each
    * input row feeds both grains' partial states map-side. */
  def groupingSetsGrains(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      // pre-project: set members must be EXACTLY the grouping columns
      // (an alias mismatch silently yields all-NULL grouping output)
      .withColumn("day", to_date(col("ts")))
      .groupingSets(
        Seq(Seq(col("day")), Seq(col("event_type"))),
        col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), Fns.dsum(col("value")).as("total_value"))
      .select(
        coalesce(col("day"), lit("1900-01-01").cast("date")).as("day"),
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("n"), col("total_value"))
      .orderBy("day", "event_type")

  /** Dense time-series gap fill: per-user daily purchase counts with
    * missing days zero-filled from a generated day spine
    * (`sequence` + `explode`). The spine and the user list are rollup-
    * sized (days × users, not events), so both cross-join inputs are
    * tiny and broadcast; the heavy table is touched once by the
    * pre-aggregation. The left join's null slots become explicit zeros —
    * the shape chart/forecast consumers need. */
  def gapFillDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.events(spark, sfDir)
      .filter(col("user_id") < 5 && col("event_type") === "purchase")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), Fns.dsum(col("value")).as("total_value"))
    val spine = base.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val users = base.select(col("user_id")).distinct()
    users.crossJoin(broadcast(spine))
      .join(base, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
              coalesce(col("n"), lit(0L)).as("n"),
              coalesce(col("total_value"), lit(0.0)).as("total_value"))
      .orderBy("user_id", "day")
  }

  /** Per-user sessionization (30-minute inactivity gap): lag() marks
    * session starts, a running sum numbers them, then one aggregate per
    * (user, session). Batch twin of the streaming session window. Both
    * window passes partition by user_id — high cardinality at scale, so
    * per-partition state stays small and the two window operators plus
    * the final aggregate reuse one hash-partitioning of user_id (a
    * single shuffle). Ties on ts are broken by event_id so session
    * assignment is deterministic across engines. */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = 1800L * 1000000L
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("new_sess",
        when(lag(col("ts"), 1).over(w).isNull ||
             unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
           count(lit(1)).as("n_events"), Fns.dsum(col("value")).as("total_value"))
      .orderBy("user_id", "session_id")
  }

  /** [[sessionize]] via Spark's native `session_window` operator — the
    * same 30-minute-gap sessions computed by the dedicated
    * SessionWindowing physical node (sort-merge within partitions, no
    * full-partition window state) instead of two window passes. Note the
    * boundary difference: session_window's half-open [ts, ts+gap)
    * windows start a new session at gap ≥ 30 min, the lag() formulation
    * at gap > 30 min; the oracle uses the ≥ rule. Streaming-ready: the
    * identical expression works under readStream with a watermark. */
  def sessionizeNative(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
           count(lit(1)).as("n_events"), Fns.dsum(col("value")).as("total_value"))
      .select(col("user_id"), col("first_ts"), col("last_ts"),
              col("n_events"), col("total_value"))
      .orderBy("user_id", "first_ts")

  /** Orders above their own customer's average order value — the
    * correlated-scalar-subquery shape (`WHERE price > (SELECT AVG ...
    * same customer)`) decorrelated into one full-partition window pass:
    * no self-join, one shuffle on the correlation key. The average is
    * decimal-sum / count in double space so both engines compute the
    * identical threshold (a plain windowed AVG over doubles is
    * evaluation-order-dependent). */
  def aboveCustomerAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
    Tables.orders(spark, sfDir)
      .withColumn("cust_avg",
        sum(col("o_totalprice").cast("decimal(38,6)")).over(w).cast("double") /
          count(lit(1)).over(w).cast("double"))
      .filter(col("o_totalprice") > col("cust_avg"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_above"),
           Fns.dsum(col("o_totalprice")).as("total_above"),
           countDistinct(col("o_custkey")).as("n_custs"))
      .orderBy("o_orderpriority")
  }

  /** Share-of-total (ratio-to-report): each user's fraction of global
    * volume. The denominator is a ONE-ROW aggregate broadcast back over
    * the per-user table — not an unpartitioned window, which would drag
    * all |users| rows (unbounded at 100 TB) into a single task just to
    * read one number. The total runs over decimal so both engines
    * divide by the identical denominator. */
  def shareOfTotal(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(Fns.dsum(col("value")).as("volume"))
    val total = perUser.agg(
      sum(col("volume").cast("decimal(38,6)")).as("__total"))
    perUser
      .crossJoin(broadcast(total))
      .withColumn("share", col("volume") / col("__total").cast("double"))
      .drop("__total")
      .orderBy("user_id")
  }

  /** 7-day trailing moving average of daily volume per user (ROWS
    * 6 PRECEDING). The frame sum runs over the DECIMAL day-aggregates —
    * engines disagree on sliding-sum evaluation order (retraction vs
    * segment trees), so only an exact, associative state hash-matches;
    * the double division happens once per row at the end. */
  def movingAvg7d(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(38,6)")).as("v"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("ma7",
        sum(col("v")).over(w).cast("double") /
          count(col("v")).over(w).cast("double"))
      .select(col("user_id"), col("day"), col("v").cast("double").as("day_value"),
              col("ma7"))
      .orderBy("user_id", "day")
  }

  /** Quartile + percentile position of every user by total volume:
    * ntile(4) and percent_rank over one global ordering — computed via
    * [[GlobalRank]] rather than an unpartitioned window. The input is
    * the per-user aggregate, but |users| itself is unbounded at scale
    * (billions of rows at 100 TB), so "small after aggregation" is not
    * a safe assumption the way it is for a per-language table; the
    * distributed rank keeps every stage partition-parallel. The ntile /
    * percent_rank reconstruction from the exact rank hash-matches
    * DuckDB's native window verbatim (q65's oracle). */
  def ntileVolumes(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(Fns.dsum(col("value")).as("volume"))
    val (ranked, n) = GlobalRank.withRank(
      perUser, Seq(col("volume").desc, col("user_id")), "__rank")
    ranked
      .withColumn("quartile",
        GlobalRank.ntileFromRank(col("__rank"), n, 4).cast("int"))
      .withColumn("pct_rank",
        GlobalRank.percentRankFromRank(col("__rank"), n))
      .select(col("user_id"), col("volume"), col("quartile"), col("pct_rank"))
      .orderBy("user_id")
  }

  /** Conversion FUNNEL with a time bound — the `windowFunnel` role
    * from the reference's ecosystem (ClickHouse's parameterized
    * sequence aggregate), re-expressed as deterministic relational
    * algebra: chain signup → view → purchase from each user's EARLIEST
    * signup, each later step the MIN matching timestamp after the
    * previous step and within `withinHours` of the chain start.
    * Anchoring on the earliest start (rather than "any chain exists")
    * makes the semantics order-free and SQL-expressible, so the oracle
    * hash-matches instead of trusting an engine-specific greedy scan.
    *
    * Scale shape: three skinny per-user MIN aggregations chained by
    * broadcast-or-shuffle joins on user_id — no per-user event-list
    * materialization, no sort; each step's frame is one row per
    * surviving user. Reports users reaching each depth. */
  def conversionFunnel(spark: SparkSession, sfDir: String,
                       withinHours: Int = 72): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_type"))
    val horizon = expr(s"INTERVAL $withinHours HOURS")
    val t1 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = e.filter(col("event_type") === "view")
      .join(t1, "user_id")
      .filter(col("ts") > col("t1") && col("ts") <= col("t1") + horizon)
      .groupBy(col("user_id"), col("t1")).agg(min(col("ts")).as("t2"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t2, "user_id")
      .filter(col("ts") > col("t2") && col("ts") <= col("t1") + horizon)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    // one plan, one per-user depth frame: left-joining the tiers and
    // counting their non-null markers in a single aggregate reads each
    // tier's chain once (separate .agg branches would re-derive t1
    // under t2 under t3 — ~7 fact scans instead of 3)
    val depth = t1.select(col("user_id"), lit(1).as("__d1"))
      .join(t2.select(col("user_id"), lit(1).as("__d2")), Seq("user_id"), "left")
      .join(t3.select(col("user_id"), lit(1).as("__d3")), Seq("user_id"), "left")
      .agg(count(lit(1)).as("n1"), count(col("__d2")).as("n2"),
           count(col("__d3")).as("n3"))
    val counts = e.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n0"))
      .crossJoin(broadcast(depth))
    def conv(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den === 0, 0.0).otherwise(num.cast("double") / den.cast("double"))
    counts.select(explode(array(
        struct(lit(1).as("depth"), lit("signup").as("step"),
               col("n1").as("n_users"), conv(col("n1"), col("n0")).as("conversion")),
        struct(lit(2).as("depth"), lit("view_after_signup").as("step"),
               col("n2").as("n_users"), conv(col("n2"), col("n1")).as("conversion")),
        struct(lit(3).as("depth"), lit("purchase_after_view").as("step"),
               col("n3").as("n_users"), conv(col("n3"), col("n2")).as("conversion"))))
        .as("r"))
      .select(col("r.*"))
      .orderBy("depth")
  }

  /** First and last daily value per user alongside each day's value —
    * first_value / last_value with explicit frames (last_value needs the
    * full-partition frame or it degenerates to the current row). */
  def firstLastDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(38,6)")).cast("double").as("v"))
    val wAll = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    daily
      .withColumn("first_v", first(col("v")).over(wAll))
      .withColumn("last_v", last(col("v")).over(wAll))
      .select(col("user_id"), col("day"), col("v").as("day_value"),
              col("first_v"), col("last_v"))
      .orderBy("user_id", "day")
  }
}
