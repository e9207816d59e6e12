package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Fns._
import graft.plans.RollupRouting.{Catalog, JoinSpec, materialize, route}

/** Star-schema join capability (SURVEY §2.3 — the reference has zero
  * joins; these are added capability required by the north star).
  *
  * Scale design: dimensions (customer/supplier/nation/region/part) are
  * orders of magnitude smaller than the facts, so every dim join is an
  * explicit `broadcast()` — no shuffle of the fact table, the join runs
  * map-side inside whole-stage codegen. Only fact-fact joins
  * (lineitem ⋈ orders) shuffle, and they shuffle on the join key that
  * the downstream aggregate also uses, so Catalyst reuses the exchange.
  * At 1000 executors a broadcast of a 10 GB dim would not fly — the
  * threshold stays with `spark.sql.autoBroadcastJoinThreshold`/AQE, and
  * these hints only pin the genuinely-small sides.
  */
object StarJoins {

  /** Revenue by market segment: customer ⋈ orders ⋈ lineitem.
    * Fact-fact sort-merge on orderkey, dim broadcast on custkey.
    * `segments` restricts to a segment subset — the reference's
    * dashboard WHERE shape over its MVs
    * (`usdc-transfers/sql/analytics.sql:106`) applied to the join;
    * with routing installed the filter subsumes onto the rollup
    * (q152) because c_mktsegment is a preserved grouping column. */
  private def revenueBySegmentPlan(spark: SparkSession, sfDir: String,
                                   segments: Option[Seq[String]]): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
    segments.fold(joined)(ss => joined.filter(col("c_mktsegment").isin(ss: _*)))
      .withColumn("rev", (col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
      .groupBy(col("c_mktsegment"))
      .agg(dsum(col("rev")).as("revenue"),
           countDistinct(col("o_orderkey")).as("n_orders"),
           count(lit(1)).as("n_lines"))
      .orderBy("c_mktsegment")
  }

  def revenueBySegment(spark: SparkSession, sfDir: String): DataFrame =
    revenueBySegmentPlan(spark, sfDir, None)

  /** q16's DECLARED plan, reshaped (r19 optimization, guide §2.3/§2.4):
    * lineitem pre-aggregates per orderkey BEFORE the fact-fact join, so
    * the exchange carries one (orderkey, rev, n_lines) row per order
    * instead of one per line — and `COUNT(DISTINCT o_orderkey)`
    * degenerates to `COUNT(*)` (each orderkey appears exactly once
    * post-pre-aggregation under the primary-key join), which deletes
    * the two-phase distinct aggregate and its extra exchange.
    * Result-identical to [[revenueBySegmentPlan]]: the decimal partial
    * sums re-aggregate exactly (same Money cast on both shapes) and
    * the shared oracle hash pins it. [[revenueBySegment]] keeps the
    * CLASSIC join shape — the routing/advisor family (q143–q145, q152,
    * q171, the RollupRoutingSpec fixtures) declares THAT shape as the
    * routable raw query, and the rule matches a plain aggregate-over-
    * join core, not this pre-aggregated one. */
  def revenueBySegmentPreAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(dsumPartial(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
             .as("rev_o"),
           count(lit(1)).as("n_lines_o"))
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, sfDir)
              .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("rev_o")).cast("double").as("revenue"),
           count(lit(1)).as("n_orders"),
           sum(col("n_lines_o")).as("n_lines"))
      .orderBy("c_mktsegment")

  /** This process's root for scratch artifacts, removed when the JVM
    * exits. One root per process keeps two JVMs over one fixture from
    * building the same rollup directory at once; nothing is lost by it,
    * since every session rebuilds its scratch rollups through
    * [[graft.SessionCache]] anyway. */
  private[graft] lazy val scratchRoot: java.io.File = {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_run_${ProcessHandle.current.pid}").getAbsoluteFile
    java.nio.file.Files.createDirectories(root.toPath)
    sys.addShutdownHook(graft.LocalFs.deleteTree(root.toPath))
    root
  }

  /** A fresh directory `prefix…` under [[scratchRoot]], for a run's
    * sinks, checkpoints and stream-maintained MVs. */
  private[graft] def scratchTemp(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot.toPath, prefix)

  /** Per-(sfDir, name) scratch dir for persisted rollup artifacts —
    * stable across runs of one process (writes are mode=overwrite) and
    * disjoint across scale factors, same convention as the llm
    * persisted indices. */
  private[graft] def scratch(sfDir: String, name: String): String =
    new java.io.File(scratchRoot,
      s"graft_${name}_${sfDir.replaceAll("[^A-Za-z0-9.]+", "_")}").getAbsolutePath

  /** The q16 join's partial state at (o_orderkey, c_mktsegment) grain —
    * the MV pattern applied to the flagship star join (reference analog:
    * the insert-maintained MVs its dashboards read,
    * `usdc-transfers/README.md:66-71`, here keyed by a join-derived
    * dimension attribute instead of a time bucket).
    *
    * Build pays the 3-table join ONCE: lineitem pre-aggregates per
    * orderkey BEFORE the join (revenue as the exact DECIMAL partial,
    * line count as a long), so the fact-fact exchange carries one row
    * per order instead of one per line; dims attach by broadcast.
    * Partials are additive — batches append like the daily rollup's
    * partial blocks, no read-modify-write ([[graft.streaming.Live
    * .maintainJoinRollup]] economy; additivity proven in
    * RollupRoutingSpec). Caveat: appends must respect the orderkey
    * grain (all lines of an order in one batch — the natural delivery
    * unit), else COUNT(*)-as-n_orders double-counts a split order. */
  def revenueSegmentPartialsOf(li: DataFrame, o: DataFrame, c: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey"))
      .agg(dsumPartial(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
             .as("rev_partial"),
           count(lit(1)).as("n_lines_partial"))
      .join(o.select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c.select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment"),
              col("rev_partial"), col("n_lines_partial"))

  /** One micro-batch's partial block with RUNTIME KEY-RANGE PRUNING of
    * the dimension side — the q147 runtime-filter idea applied to MV
    * maintenance. The batch's min/max orderkey (one tiny
    * columnar-stats aggregate) bounds the orders scan, so parquet
    * row-group statistics skip every dim row no batch key can reach;
    * the inner join would have dropped those rows anyway, so pruning
    * is lossless for ANY batch (spec-pinned equal to the unpruned
    * form). Incremental ingest is key-localized — a micro-batch of
    * lineitems references RECENT orders — so at scale each batch reads
    * and shuffles a sliver of the dimension instead of all of it.
    * Chosen over a broadcast (a file-sized availableNow batch makes
    * either build side broadcast-hostile) and over a cached
    * co-partitioned dim (its one-time build only amortizes over many
    * batches); the ×100 rehearsal measured all three
    * (docs/SCALING.md r11 note). */
  def revenueSegmentPartialsOfPruned(batch: DataFrame, o: DataFrame,
                                     c: DataFrame): DataFrame = {
    val mm = batch.agg(min(col("l_orderkey")), max(col("l_orderkey"))).head
    val oPruned =
      if (mm.isNullAt(0)) o // empty batch: nothing to prune against
      else o.filter(col("o_orderkey").between(mm.getLong(0), mm.getLong(1)))
    revenueSegmentPartialsOf(batch, oPruned, c)
  }

  /** Dashboard read over the persisted rollup: NO join, no lineitem
    * scan — one skinny parquet scan + one aggregation. COUNT(DISTINCT
    * o_orderkey) degenerates to COUNT(*) because the rollup grain IS
    * the orderkey. At 100 TB this is the difference between scanning
    * the fact table and scanning |orders| pre-joined rows. */
  def readRevenueSegmentRollup(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy(col("c_mktsegment"))
      .agg(dsumFinal(col("rev_partial")).as("revenue"),
           count(lit(1)).as("n_orders"),
           sum(col("n_lines_partial")).as("n_lines"))
      .orderBy("c_mktsegment")

  /** Driver entry (q16's MV twin, same oracle): build the persisted
    * rollup, then answer revenue-by-segment FROM the rollup — write +
    * read-back + final agg in one checked query, like the persisted
    * dedup/ANN index probes. Hash must equal q16's. */
  /** Canonical location of the persisted revenue-segment rollup for a
    * scale-factor dir (what [[revenueSegmentViaRollup]] writes and a
    * `RollupRouting.JoinSpec` registration points at). */
  def revenueSegmentRollupDir(sfDir: String): String = scratch(sfDir, "revseg_rollup")

  /** `spec`'s MV built by [[materialize]] from this scale factor's
    * tables. */
  private def joinMV(spark: SparkSession, sfDir: String, spec: JoinSpec): JoinSpec =
    materialize(spark, spec)(spec.tables.toSeq.map { t =>
      t -> (if (t == "events") Tables.events(spark, sfDir) else Tables.load(spark, sfDir, t))
    }.toMap)

  private def revenueSegmentMV(spark: SparkSession, sfDir: String): JoinSpec =
    joinMV(spark, sfDir, JoinSpec.revenueSegment(revenueSegmentRollupDir(sfDir)))

  def revenueSegmentViaRollup(spark: SparkSession, sfDir: String): DataFrame =
    readRevenueSegmentRollup(spark, revenueSegmentMV(spark, sfDir).rollupPath)

  /** The second registered join MV ([[graft.plans.RollupRouting.JoinSpec
    * .customerVolume]]): per-customer order volume at c_custkey grain —
    * orders pre-aggregate per custkey BEFORE the dim join (exact
    * DECIMAL volume partial + order count), the customer name attaches
    * by broadcast. Answers the q17 top-customers shape join-free. */
  def customerVolumePartialsOf(o: DataFrame, c: DataFrame): DataFrame =
    o.groupBy(col("o_custkey"))
      .agg(dsumPartial(col("o_totalprice")).as("vol_partial"),
           count(lit(1)).as("n_orders_partial"))
      .join(broadcast(c.select(col("c_custkey"), col("c_name"))),
            col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"),
              col("vol_partial"), col("n_orders_partial"))

  def customerVolumeRollupDir(sfDir: String): String = scratch(sfDir, "custvol_rollup")

  /** Gross charge by market segment — [[revenueBySegment]]'s sibling
    * with the USER-DEFINED charge measure
    * `l_extendedprice * (1 - l_discount) * (1 + l_tax)`. Written
    * against the raw 3-table join; [[chargeSegmentRouted]] runs it
    * UNCHANGED with the ExprPat-measure MV registered. */
  def chargeBySegment(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .withColumn("charge",
        col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax")))
      .groupBy(col("c_mktsegment"))
      .agg(dsum(col("charge")).as("gross_charge"),
           count(lit(1)).as("n_lines"))
      .orderBy("c_mktsegment")
  }

  /** The charge MV's partial block at (o_orderkey, c_mktsegment) grain —
    * same build economy as [[revenueSegmentPartialsOf]] (fact
    * pre-aggregation before the fact-fact exchange, broadcast dims),
    * but its measure is the registry's [[graft.plans.RollupRouting
    * .JoinSpec.chargeMeasure]] expression rather than a named engine
    * pattern. */
  def chargeSegmentPartialsOf(li: DataFrame, o: DataFrame, c: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey"))
      .agg(dsumPartial(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
             (lit(1.0) + col("l_tax"))).as("charge_partial"),
           count(lit(1)).as("n_lines_partial"))
      .join(o.select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c.select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment"),
              col("charge_partial"), col("n_lines_partial"))

  def chargeSegmentRollupDir(sfDir: String): String = scratch(sfDir, "charge_rollup")
  private def chargeSegmentMV(spark: SparkSession, sfDir: String): JoinSpec =
    joinMV(spark, sfDir, JoinSpec.chargeSegment(chargeSegmentRollupDir(sfDir)))

  /** Driver entry (q166): a join MV with a USER-REGISTERED measure
    * expression routing transparently — the unchanged [[chargeBySegment]]
    * query rewrites onto the charge rollup because the spec's ExprPat
    * matches the query's measure after canonicalization (casts, name
    * binding, literal types, eval modes); a near-miss measure (same
    * columns, different operator) provably stays on the live join
    * (RollupRoutingSpec). Registered alongside BOTH round-11 join MVs,
    * so the registry picks by measure+core, not arrival order. */
  def chargeSegmentRouted(spark: SparkSession, sfDir: String): DataFrame =
    route(spark, starCatalog(spark, sfDir, extra = Seq(chargeSegmentMV(spark, sfDir)))) {
      chargeBySegment(spark, sfDir)
    }

  /** Per-segment EXACT distinct customers over orders⋈customer —
    * written against the raw join; [[segmentCustomersRouted]] runs it
    * UNCHANGED with the bitmap join MV registered. */
  def segmentCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    o.join(broadcast(c), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
           count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")
  }

  def segmentCustomersRollupDir(sfDir: String): String =
    scratch(sfDir, "segcust_rollup")

  /** Driver entry (q243, oracled — shares [[segmentCustomers]]'s
    * oracle): the EXACT-distinct BITMAP member on the JOIN path
    * (round 16) — the unchanged per-segment `COUNT(DISTINCT
    * o_custkey)` dashboard rewrites to
    * `graft_bitmap_count(graft_bitmap_merge(state))` over five
    * segment-grain rows; neither base table is scanned and the join
    * never runs. The star-schema twin of the single-table q218
    * member, mirroring the reference's uniq() MVs
    * (`usdc-transfers/sql/analytics.sql:34-35`) onto a join core. */
  def segmentCustomersRouted(spark: SparkSession, sfDir: String): DataFrame =
    route(spark, Catalog(joinSpecs = Seq(joinMV(spark, sfDir,
        JoinSpec.segmentCustomers(segmentCustomersRollupDir(sfDir)))))) {
      segmentCustomers(spark, sfDir)
    }

  /** Per-segment line-quantity stats over the 3-table join — exact
    * decimal average (the dsum-shaped form), min, max, line count.
    * Written against the raw join; [[segmentQtyRouted]] runs it
    * UNCHANGED with the full-vocabulary MV registered. `l_quantity`
    * is integer-valued, so every decimal cast is
    * representation-exact on both engines. */
  def segmentQtyStats(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(avg(col("l_quantity").cast("decimal(38,6)")).cast("double")
             .as("avg_qty"),
           min(col("l_quantity")).as("min_qty"),
           max(col("l_quantity")).as("max_qty"),
           count(lit(1)).as("n_lines"))
      .orderBy("c_mktsegment")
  }

  def segmentQtyRollupDir(sfDir: String): String = scratch(sfDir, "segqty_rollup")

  /** Driver entry (q172): the FULL aggregate vocabulary routed on the
    * JOIN path — the unchanged [[segmentQtyStats]] query re-aggregates
    * min/max partials directly and reproduces Spark's own decimal
    * `Average` evaluate tree over the exact sum + non-null-count
    * partials, exactly as the single-table q167 does
    * (RollupRoutingSpec pins the join-free plan and the near-miss: a
    * bare DOUBLE avg stays on the live join). */
  def segmentQtyRouted(spark: SparkSession, sfDir: String): DataFrame =
    route(spark, starCatalog(spark, sfDir, extra = Seq(joinMV(spark, sfDir,
        JoinSpec.segmentQty(segmentQtyRollupDir(sfDir)))))) {
      segmentQtyStats(spark, sfDir)
    }

  /** Driver entry (q174, shares q166's oracle): REGISTRY PERSISTENCE —
    * the reference's MVs are DDL in files that outlive any process
    * (`usdc-transfers/sql/analytics.sql:9-94`); here the in-session
    * registry saves to one JSON document and a fresh session state
    * loads it back. The ExprPat charge measure is the hard case: it
    * travels as its SQL rendering and is re-parsed on load, and the
    * canonicalized matcher makes the fresh tree semantically
    * identical — the unchanged raw query routes through the RELOADED
    * registration (RollupRoutingSpec pins the round trip for every
    * AggMap kind and both registries). */
  def chargeSegmentPersistedRouted(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.plans.RollupRouting
    val charge = chargeSegmentMV(spark, sfDir)
    val reg = s"${scratch(sfDir, "charge_registry")}/registry.json"
    val reloaded = RollupRouting.keepingRegistry {
      RollupRouting.registerJoin(charge)
      RollupRouting.saveRegistry(reg)
      RollupRouting.clear()
      RollupRouting.loadRegistry(spark, reg)
      RollupRouting.catalog
    }
    route(spark, reloaded)(chargeBySegment(spark, sfDir))
  }

  /** Daily revenue by segment over the star join — the by-date
    * dashboard shape (grouping by the order-date column itself).
    * Written against the raw join; [[revenueByDaySegmentRouted]] runs
    * it UNCHANGED with the DATED revenue MV registered: since round
    * 12 any deterministic grouping EXPRESSION over preserved
    * grain/grouping columns maps onto the rollup (they are per-row
    * constants of it), so the per-(order, date) rollup answers the
    * per-(date, segment) cut join-free. */
  def revenueByDaySegment(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .withColumn("rev", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .groupBy(col("o_orderdate").as("o_day"), col("c_mktsegment"))
      .agg(dsum(col("rev")).as("revenue"), count(lit(1)).as("n_lines"))
      .orderBy("o_day", "c_mktsegment")
  }

  /** Driver entry (q179): expression groupings over preserved
    * columns on the join path — the unchanged [[revenueByDaySegment]]
    * query routes onto the dated revenue MV because `o_orderdate` is
    * one of its preserved grain columns (RollupRoutingSpec pins the
    * bare + to_date + shifted spellings, the non-preserved near miss,
    * and the hybrid read under a stamped sidecar). */
  def revenueByDaySegmentRouted(spark: SparkSession, sfDir: String): DataFrame =
    route(spark, starCatalog(spark, sfDir, extra = Seq(joinMV(spark, sfDir,
        JoinSpec.revenueSegmentDated(scratch(sfDir, "revseg_dated_full_rollup")))))) {
      revenueByDaySegment(spark, sfDir)
    }

  /** The by-DAY events⋈customer dashboard — value volume and event
    * count per (day, segment). Unlike [[revenueByDaySegment]], the day
    * key is a REAL TRUNCATION of the fact's timestamp (`to_date(ts)`),
    * which no bare preserved column can express — the
    * [[graft.plans.RollupRouting.TimeGrainPat]] vocabulary exists for
    * exactly this shape (reference analog: every MV in
    * `usdc-transfers/sql/analytics.sql:9-94` buckets the fact stream
    * by `date_trunc('day'|'hour', evt_block_time)` before joining
    * dimension data on). */
  def eventsSegmentDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    ev.join(broadcast(c), col("user_id") === col("c_custkey"))
      .groupBy(to_date(col("ts")).as("day"), col("c_mktsegment"))
      .agg(dsum(col("value")).as("sum_value"), count(lit(1)).as("n_events"))
      .orderBy("day", "c_mktsegment")
  }

  /** The raw daily distinct-users-per-segment dashboard, in the
    * engine's sketch form (`hll_sketch_estimate(hll_sketch_agg(...))`
    * over the events⋈customer join). */
  def uniqSegmentDailyRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    ev.join(broadcast(c), col("user_id") === col("c_custkey"))
      .groupBy(to_date(col("ts")).as("day"), col("c_mktsegment"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12))
             .as("uniq_users_approx"),
           count(lit(1)).as("n_events"))
      .orderBy("day", "c_mktsegment")
  }

  def uniqSegmentRollupDir(sfDir: String): String =
    scratch(sfDir, "uniq_segment_rollup")

  /** Driver entry (q186): the sketch-state MV on the JOIN path — the
    * unchanged raw sketch-over-join dashboard re-aggregates the
    * (day, segment) HLL states join-free (`uniqMerge` economy across a
    * star join; routed≡live and the error bound are spec-pinned). */
  def uniqSegmentDailyRouted(spark: SparkSession, sfDir: String): DataFrame =
    route(spark, starCatalog(spark, sfDir, extra = Seq(joinMV(spark, sfDir,
        JoinSpec.uniqSegmentDaily(uniqSegmentRollupDir(sfDir)))))) {
      uniqSegmentDailyRaw(spark, sfDir)
    }

  def eventsSegmentHourlyRollupDir(sfDir: String): String =
    scratch(sfDir, "events_seg_hourly_rollup")

  /** Driver entry (q181): TRUNCATING time-grain grouping on the join
    * path — the HOURLY (hour, segment) MV answers the unchanged
    * by-DAY dashboard join-free, because `to_date(ts)` is a coarser
    * truncation of the registered `date_trunc('hour', ts)` key and
    * calendar truncations compose (RollupRoutingSpec pins the hourly/
    * daily/monthly spellings, the finer-grain and shifted near misses,
    * and the hour-aligned hybrid read). */
  def eventsSegmentDailyRouted(spark: SparkSession, sfDir: String): DataFrame =
    route(spark, starCatalog(spark, sfDir, extra = Seq(joinMV(spark, sfDir,
        JoinSpec.eventsSegmentHourly(eventsSegmentHourlyRollupDir(sfDir)))))) {
      eventsSegmentDaily(spark, sfDir)
    }

  def chargeSegmentCoarseRollupDir(sfDir: String): String =
    scratch(sfDir, "charge_coarse_rollup")

  /** Driver entry (q175, shares q166's oracle): COST-BASED MV CHOICE —
    * two registered MVs both answer the unchanged charge query (the
    * per-order rollup and the five-row segment-grain aggregate table,
    * [[graft.plans.RollupRouting.JoinSpec.chargeSegmentCoarse]]), and
    * the router picks by on-disk size, not registration order: the
    * fine rollup is registered LAST (so arrival-order matching would
    * serve it) and the plan must still scan the coarse one
    * (RollupRoutingSpec pins the choice in both orders). The coarse
    * build is [[graft.plans.RollupRouting.buildJoinPartials]]'s merge
    * path — fact partials re-aggregated to the declared grain. */
  def chargeSegmentCostRouted(spark: SparkSession, sfDir: String): DataFrame = {
    val fine = chargeSegmentMV(spark, sfDir)
    val coarse = joinMV(spark, sfDir,
      JoinSpec.chargeSegmentCoarse(chargeSegmentCoarseRollupDir(sfDir)))
    route(spark, starCatalog(spark, sfDir, extra = Seq(coarse, fine))) {
      chargeBySegment(spark, sfDir)
    }
  }

  /** Both round-11 join MVs plus any `extra` specs as one catalog —
    * the multi-MV registry in action (the reference maintains six MVs
    * side by side, `usdc-transfers/sql/analytics.sql:9-94`). */
  private def starCatalog(spark: SparkSession, sfDir: String,
                          extra: Seq[JoinSpec] = Nil): Catalog =
    Catalog(joinSpecs = Seq(revenueSegmentMV(spark, sfDir), joinMV(spark, sfDir,
      JoinSpec.customerVolume(customerVolumeRollupDir(sfDir)))) ++ extra)

  /** Driver entry (q144, shares q16's oracle): transparent
    * answering-queries-using-views end-to-end — build the join
    * rollups and route the UNCHANGED raw 3-table query over their
    * catalog; `RollupRouting` picks the matching spec and rewrites onto
    * its rollup (join-free plan — shape
    * asserted in RollupRoutingSpec, which also proves near-miss queries
    * stay on the live join). The returned frame is lazy: its own plan
    * scans the rollup. */
  def revenueSegmentRouted(spark: SparkSession, sfDir: String): DataFrame =
    route(spark, starCatalog(spark, sfDir)) {
      revenueBySegment(spark, sfDir)
    }

  /** Driver entry (q150, shares q17's oracle): the SECOND registered
    * join MV routing transparently — the UNCHANGED [[topCustomers]]
    * query (orders⋈customer, different core than the revenue spec)
    * rewrites onto the per-customer volume rollup while both specs are
    * registered, proving the registry selects by join core rather than
    * matching a single hardcoded shape. */
  def topCustomersRouted(spark: SparkSession, sfDir: String): DataFrame =
    route(spark, starCatalog(spark, sfDir)) {
      topCustomers(spark, sfDir)
    }

  /** The two filter segments q152 pins (also used by its spec). */
  val Q152Segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING")

  /** Driver entry (q152): JOIN-path predicate subsumption — the raw
    * 3-table revenue query WITH a segment WHERE clause routes onto the
    * revenue rollup because `c_mktsegment` is a preserved grouping
    * column, so the pushed-down dimension filter re-applies losslessly
    * above the rollup scan (near-misses — a fact-side or unpreserved
    * dim predicate — stay live; RollupRoutingSpec). Oracle: q16's SQL
    * plus the WHERE. */
  def revenueSegmentFilteredRouted(spark: SparkSession, sfDir: String): DataFrame =
    route(spark, starCatalog(spark, sfDir)) {
      revenueBySegmentPlan(spark, sfDir, Some(Q152Segments))
    }

  /** Spec access: the filtered raw query without routing installed. */
  private[graft] def revenueBySegmentFiltered(spark: SparkSession, sfDir: String,
                                              segments: Seq[String]): DataFrame =
    revenueBySegmentPlan(spark, sfDir, Some(segments))

  /** Top-10 customers by revenue (top-k over a join, O1 shape). */
  def topCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(dsum(col("o_totalprice")).as("volume"), count(lit(1)).as("n_orders"))
      .orderBy(col("volume").desc, col("c_custkey"))
      .limit(10)
  }

  /** Customers with at least one urgent order — left-semi (EXISTS). */
  def semiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
    Tables.customer(spark, sfDir)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** Customers with no big-ticket order — left-anti (NOT EXISTS). */
  def antiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val big = Tables.orders(spark, sfDir)
      .filter(col("o_totalprice") > 450000)
    Tables.customer(spark, sfDir)
      .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  /** TPC-H Q1-shaped pricing summary — the canonical scan-heavy
    * aggregate; no join, one shuffle over a 4-value key space. */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Range (band) join: classify every lineitem price into an irregular
    * price band by inequality join against a literal band table, then
    * aggregate per band. Spark plans this as a BroadcastNestedLoopJoin —
    * the right choice when one side is a handful of rows: every executor
    * gets the 4-row band table and the fact side never shuffles. With a
    * *large* range side this would degrade to cartesian work; the scale
    * path is then a coarse equi-bucket key (floor(price/grain)) joined
    * hash-style and refined by the range predicate. */
  def priceBandJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("p0_under_10k", 0.0, 10000.0),
      ("p1_10k_30k", 10000.0, 30000.0),
      ("p2_30k_60k", 30000.0, 60000.0),
      ("p3_over_60k", 60000.0, 1e12)).toDF("band", "lo", "hi")
    Tables.lineitem(spark, sfDir)
      .join(broadcast(bands),
            col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_extendedprice")).as("total_price"))
      .orderBy("band")
  }

  /** TPC-H Q14-style promo-revenue ratio: lineitem ⋈ part on partkey,
    * conditional revenue share per brand. Unlike the tiny dims, `part`
    * grows with the catalog — at 100 TB this is the shuffle-join case
    * (both sides hash-partition on partkey; AQE picks SMJ/SHJ by size),
    * whereas the fixture-sized part still broadcasts. The conditional
    * aggregate (sum FILTER-style promo revenue over total) is the
    * map-side-decomposable way to compute a ratio — never two scans. */
  def promoRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    li.join(p, col("l_partkey") === col("p_partkey"))
      .withColumn("rev", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .groupBy(col("p_brand"))
      .agg(dsum(when(col("p_type") === "PROMO", col("rev")).otherwise(lit(0.0)))
             .as("promo_rev"),
           dsum(col("rev")).as("total_rev"),
           count(lit(1)).as("n_lines"))
      .withColumn("promo_share", col("promo_rev") / col("total_rev"))
      .orderBy("p_brand")
  }

  /** The 100 TB form of [[priceBandJoin]]: quantize both sides to coarse
    * buckets so the inequality join becomes a broadcast EQUI-join plus a
    * residual filter. A pure inequality join plans as
    * BroadcastNestedLoopJoin — every fact row tests every band, and a
    * non-broadcastable band side would force a cartesian. Here each band
    * explodes into the buckets it overlaps (clamped to the observed
    * domain max, so open-ended bands stay finite) and each fact row
    * computes one bucket key; the hash join probes exactly the
    * overlapping bands and the `[lo,hi)` filter refines. Same oracle as
    * q44. */
  def priceBandJoinBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val step = 5000.0
    val bands = Seq(
      ("p0_under_10k", 0.0, 10000.0),
      ("p1_10k_30k", 10000.0, 30000.0),
      ("p2_30k_60k", 30000.0, 60000.0),
      ("p3_over_60k", 60000.0, 1e12)).toDF("band", "lo", "hi")
    val li = Tables.lineitem(spark, sfDir)
    // eager one-row "index build": clamp open-ended bands to the observed
    // domain before exploding buckets (keeps the query plan equi-only)
    val mx = li.agg(max(col("l_extendedprice"))).head.getDouble(0)
    val bandBuckets = bands
      .withColumn("hi_c", least(col("hi"), lit(mx + step)))
      .select(col("band"), col("lo"), col("hi"),
        explode(sequence(floor(col("lo") / step).cast("long"),
                         floor(col("hi_c") / step).cast("long"))).as("bucket"))
    li.withColumn("bucket", floor(col("l_extendedprice") / step).cast("long"))
      .join(broadcast(bandBuckets), Seq("bucket"))
      .filter(col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_extendedprice")).as("total_price"))
      .orderBy("band")
  }

  /** Geography rollup: supplier ⋈ nation ⋈ region — an all-broadcast
    * snowflake chain (two map-side joins, single tiny aggregate). */
  def supplierGeo(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    s.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"), dsum(col("s_acctbal")).as("total_acctbal"))
      .orderBy("r_name", "n_name")
  }

  /** Urgent-order line revenue by ship month — the un-materialized
    * plan for [[urgentRevenueRuntimeFiltered]]; callers own the conf
    * scope. A selective dimension-side filter (one priority class,
    * ~20% of orders) on a fact-fact join whose probe side (lineitem)
    * is too large to broadcast the build against. */
  def urgentRevenueOver(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate"),
              col("l_extendedprice"), col("l_discount"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("ship_month"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
           count(lit(1)).as("n_lines"))
  }

  /** RUNTIME-FILTER (bloom) pushdown on a selective fact-fact join —
    * the 100 TB shuffle-reduction lever Spark's `InjectRuntimeFilter`
    * provides: the optimizer builds a bloom filter over the FILTERED
    * build side's join keys (urgent orders) as a scalar subquery and
    * plants `might_contain(l_orderkey)` on the probe side BEFORE its
    * shuffle, so ~80% of lineitem rows never enter the exchange. At
    * cluster scale the injection triggers on the defaults (probe scan
    * > 10 GB); at fixture scale the thresholds are lowered inside this
    * query's conf scope — and because runtime-filter injection happens
    * at optimization time of the ACTION, the aggregate is materialized
    * (localCheckpoint of the few output rows) inside that scope rather
    * than lazily after it closes. The broadcast threshold is pinned off
    * to keep the join the SMJ it would be at scale; PlanLint asserts
    * `might_contain` reaches the lineitem side of the executed plan.
    *
    * Conf scope caveat: the save/mutate/restore of session-global SQL
    * confs assumes no CONCURRENT query shares this SparkSession (a
    * query optimized inside the window would also see the lowered
    * thresholds). The engine's drivers (Verify/Bench) run queries
    * sequentially per session, which is the supported mode; a
    * multi-tenant deployment should run this through its own
    * `spark.newSession()` so the conf scope is private. The same
    * assumption covers the streaming as-of drivers' state-store conf
    * scope in [[graft.streaming.Live]]. */
  def urgentRevenueRuntimeFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try urgentRevenueOver(spark, sfDir).localCheckpoint(true).orderBy("ship_month")
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Ledger reconciliation: FULL OUTER join of the order header total
    * against the recomputed lineitem revenue, classifying every key as
    * matched / order_only / lineitem_only and summing the money drift
    * per class. The fact-fact full-outer is a shuffle hash/sort-merge
    * join on the order key — both sides pre-aggregate to one row per
    * key first, so the join input is the small side of each table, and
    * the diff never materializes per-line. The decimal difference is
    * computed BEFORE the final double cast so the drift sum is exact. */
  def reconcileOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = "decimal(38,6)"
    val o = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderkey").as("orderkey"))
      .agg(sum(col("o_totalprice").cast(dec)).as("header_total"))
    val l = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey").as("orderkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(dec)).as("line_total"))
    o.join(l, Seq("orderkey"), "full_outer")
      .withColumn("status",
        when(col("header_total").isNull, "lineitem_only")
          .when(col("line_total").isNull, "order_only")
          .otherwise("matched"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"),
           sum(coalesce(col("header_total"), lit(0).cast(dec)) -
               coalesce(col("line_total"), lit(0).cast(dec)))
             .cast("double").as("total_drift"))
      .orderBy("status")
  }
}
