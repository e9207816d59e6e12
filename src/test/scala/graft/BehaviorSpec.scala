package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The behavioral suite (round 15): windowFunnel / retention /
  * sequenceMatch — greedy-scan semantics pinned against an
  * independent brute-force reference, cohort intersections against
  * set-op truth. */
class BehaviorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf

  /** Independent reference: iteratively pick min-ts next step after
    * prev within window-from-anchor (the DuckDB CTE semantics). */
  private def bruteLevel(events: Seq[(Long, Int)], steps: Int, window: Long): Int = {
    val anchor = events.filter(_._2 == 0).map(_._1).minOption.getOrElse(return 0)
    var level = 1
    var prev = anchor
    while (level < steps) {
      events.filter { case (ts, st) =>
        st == level && ts > prev && ts - anchor <= window
      }.map(_._1).minOption match {
        case Some(t) => prev = t; level += 1
        case None => return level
      }
    }
    level
  }

  test("funnel level = brute-force reference on 300 random sequences") {
    val rnd = new scala.util.Random(42)
    val steps = 3
    val window = 50L
    val cases: Seq[(Int, Seq[(Long, Int)])] = (0 until 300).map { i =>
      val n = 1 + rnd.nextInt(12)
      // small ts domain forces ties; step domain includes ignored -1
      i -> Seq.fill(n)((rnd.nextInt(100).toLong, rnd.nextInt(4) - 1))
    }
    // build rows through timestamp_micros so timestamps carry exact micros
    val rows = cases.flatMap { case (i, evs) =>
      evs.map { case (ts, st) => (i, ts, st) }
    }.toDF("id", "us", "step")
    val leveled = rows
      .select($"id", timestamp_micros($"us").as("ts"), $"step")
      .groupBy($"id")
      .agg(org.apache.spark.sql.graftx.Bridge.column(
        graft.expr.FunnelLevel(
          org.apache.spark.sql.graftx.Bridge.expressionEager(
            sort_array(collect_list(struct($"ts", $"step")))),
          steps, window)).as("level"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    cases.foreach { case (i, evs) =>
      val expect = bruteLevel(evs, steps, window)
      assert(leveled(i) == expect,
        s"case $i: expression ${leveled(i)} != reference $expect for $evs")
    }
  }

  test("funnel window boundary: inclusive at anchor+window, strict ts ordering") {
    def level(evs: Seq[(Long, Int)], window: Long): Int = {
      val df = evs.toDF("us", "step")
        .select(timestamp_micros($"us").as("ts"), $"step")
        .agg(org.apache.spark.sql.graftx.Bridge.column(
          graft.expr.FunnelLevel(
            org.apache.spark.sql.graftx.Bridge.expressionEager(
              sort_array(collect_list(struct($"ts", $"step")))),
            3, window)).as("level"))
      df.collect().head.getInt(0)
    }
    assert(level(Seq((10L, 0), (20L, 1), (110L, 2)), 100L) == 3,
      "an event exactly at anchor+window is inside (inclusive)")
    assert(level(Seq((10L, 0), (20L, 1), (111L, 2)), 100L) == 2,
      "an event one past anchor+window is outside")
    assert(level(Seq((10L, 0), (10L, 1)), 100L) == 1,
      "equal timestamps never chain (strictly-after semantics)")
    assert(level(Seq((20L, 1), (10L, 0), (15L, 1)), 100L) == 2,
      "the chain takes the earliest valid next step after the anchor")
    assert(level(Seq((20L, 1)), 100L) == 0, "no anchor, level 0")
  }

  /** Reference for sequenceCount: repeated earliest-anchor chains over
    * the (ts, step)-sorted sequence, restarting at the index after
    * each completion — an independent spelling of the contract. */
  private def bruteChains(events: Seq[(Long, Int)], steps: Int, window: Long): Int = {
    val sorted = events.sorted
    var idx = 0
    var count = 0
    while (idx < sorted.length) {
      val a = sorted.indexWhere(_._2 == 0, idx)
      if (a < 0) return count
      var level = 1
      val t1 = sorted(a)._1
      var tPrev = t1
      var j = a + 1
      var completedAt = -1
      while (j < sorted.length && level < steps) {
        val (ts, st) = sorted(j)
        if (st == level && ts > tPrev && ts - t1 <= window) {
          tPrev = ts; level += 1
          if (level == steps) completedAt = j
        }
        j += 1
      }
      if (completedAt < 0) return count
      count += 1
      idx = completedAt + 1
    }
    count
  }

  test("sequence count = brute-force reference on 300 random sequences") {
    val rnd = new scala.util.Random(7)
    val steps = 2
    val window = 40L
    val cases: Seq[(Int, Seq[(Long, Int)])] = (0 until 300).map { i =>
      val n = 1 + rnd.nextInt(14)
      i -> Seq.fill(n)((rnd.nextInt(120).toLong, rnd.nextInt(3) - 1))
    }
    val rows = cases.flatMap { case (i, evs) =>
      evs.map { case (ts, st) => (i, ts, st) }
    }.toDF("id", "us", "step")
    val counted = rows
      .select($"id", timestamp_micros($"us").as("ts"), $"step")
      .groupBy($"id")
      .agg(org.apache.spark.sql.graftx.Bridge.column(
        graft.expr.FunnelCount(
          org.apache.spark.sql.graftx.Bridge.expressionEager(
            sort_array(collect_list(struct($"ts", $"step")))),
          steps, window)).as("chains"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    cases.foreach { case (i, evs) =>
      val expect = bruteChains(evs, steps, window)
      assert(counted(i) == expect,
        s"case $i: expression ${counted(i)} != reference $expect for $evs")
    }
    // the driver query runs and buckets deterministically
    val dist = ops.Behavior.sequenceCounts(spark, sf).collect()
    assert(dist.nonEmpty && dist.map(_.getLong(1)).sum > 0)
  }

  /** Independent POSITIONAL reference for strict_order (the oracle's
    * formulation): anchor at the first step-0 position of the
    * (ts, step)-sorted list; the level is 1 + the longest consecutive
    * run of following positions carrying steps 1, 2, … with strictly
    * increasing ts inside the anchor's window. */
  private def bruteStrictOrder(events: Seq[(Long, Int)], steps: Int,
                               window: Long): Int = {
    val sorted = events.sorted
    val arn = sorted.indexWhere(_._2 == 0)
    if (arn < 0) return 0
    val t1 = sorted(arn)._1
    var level = 1
    var prev = t1
    var i = arn + 1
    while (i < sorted.length && level < steps) {
      val (ts, st) = sorted(i)
      if (st == level && ts > prev && ts - t1 <= window) {
        level += 1; prev = ts; i += 1
      } else return level
    }
    level
  }

  /** Functional respelling of strict_dedup / relaxed-increase (the
    * greedy contract with the mode hooks spelled as a fold). */
  private def bruteMode(events: Seq[(Long, Int)], steps: Int, window: Long,
                        sd: Boolean, si: Boolean): Int = {
    @annotation.tailrec
    def go(evs: List[(Long, Int)], lvl: Int, t1: Long, tPrev: Long): Int =
      evs match {
        case Nil => lvl
        case _ if lvl == steps => lvl
        case (ts, st) :: rest =>
          if (lvl == 0)
            if (st == 0) go(rest, 1, ts, ts) else go(rest, 0, t1, tPrev)
          else if (st == lvl && (if (si) ts > tPrev else ts >= tPrev) &&
                   ts - t1 <= window) go(rest, lvl + 1, t1, ts)
          else if (sd && st >= 0 && st < lvl) lvl
          else go(rest, lvl, t1, tPrev)
      }
    go(events.sorted.toList, 0, 0L, 0L)
  }

  private def sparkLevel(evs: Seq[(Long, Int)], steps: Int, window: Long,
                         so: Boolean, sd: Boolean, si: Boolean): Int = {
    val df = evs.toDF("ts", "step")
      .agg(sort_array(collect_list(struct(
        col("ts").as("ts"), col("step").as("step")))).as("seq"))
    df.select(org.apache.spark.sql.graftx.Bridge.column(
        graft.expr.FunnelLevel(
          org.apache.spark.sql.graftx.Bridge.expressionEager(col("seq")),
          steps, window, strictOrder = so, strictDedup = sd,
          strictIncrease = si)).as("level"))
      .collect().head.getInt(0)
  }

  test("funnel modes = independent references on 300 random sequences each") {
    val rnd = new scala.util.Random(43)
    val window = 50L
    val cases: Seq[Seq[(Long, Int)]] = (0 until 300).map { _ =>
      val n = 1 + rnd.nextInt(12)
      Seq.fill(n)((rnd.nextInt(100).toLong, rnd.nextInt(5) - 2)) // steps -2..2
    }
    // batch each mode's 300 cases into ONE Spark job (a per-case
    // round-trip would be 1200 jobs)
    def sparkLevels(so: Boolean, sd: Boolean, si: Boolean): Map[Int, Int] =
      cases.zipWithIndex.flatMap { case (evs, i) => evs.map(e => (i, e._1, e._2)) }
        .toDF("case_id", "ts", "step")
        .groupBy(col("case_id"))
        .agg(sort_array(collect_list(struct(
          col("ts").as("ts"), col("step").as("step")))).as("seq"))
        .select(col("case_id"), org.apache.spark.sql.graftx.Bridge.column(
          graft.expr.FunnelLevel(
            org.apache.spark.sql.graftx.Bridge.expressionEager(col("seq")),
            3, window, strictOrder = so, strictDedup = sd,
            strictIncrease = si)).as("level"))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val gotSo = sparkLevels(so = true, sd = false, si = true)
    val gotSd = sparkLevels(so = false, sd = true, si = true)
    val gotSi = sparkLevels(so = false, sd = false, si = false)
    cases.zipWithIndex.foreach { case (evs, i) =>
      assert(gotSo(i) == bruteStrictOrder(evs, 3, window),
        s"strict_order case $i: $evs")
      assert(gotSd(i) == bruteMode(evs, 3, window, sd = true, si = true),
        s"strict_dedup case $i: $evs")
      assert(gotSi(i) == bruteMode(evs, 3, window, sd = false, si = false),
        s"relaxed-increase case $i: $evs")
    }
    // and the mode matrix driver query is internally consistent: every
    // mode's histogram covers the same cohort
    val matrix = ops.Behavior.funnelModeMatrix(spark, sf).collect()
    val byMode = matrix.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum)
    assert(byMode.values.toSet.size == 1,
      s"every mode must histogram the same cohort: ${byMode.toMap}")
  }

  /** Exhaustive independent reference for max-over-anchors: try every
    * strictly-increasing chain of steps 0..L-1 within the window of
    * its own first event; the level is the deepest L that exists. */
  private def bruteMaxAnchor(events: Seq[(Long, Int)], steps: Int,
                             window: Long): Int = {
    val sorted = events.sorted
    def chainExists(depth: Int): Boolean = {
      def rec(j: Int, prevTs: Long, firstTs: Long): Boolean =
        if (j == depth) true
        else sorted.exists { case (ts, st) =>
          st == j && (j == 0 || (ts > prevTs && ts - firstTs <= window)) &&
            rec(j + 1, ts, if (j == 0) ts else firstTs)
        }
      rec(0, 0L, 0L)
    }
    (steps to 1 by -1).find(chainExists).getOrElse(0)
  }

  test("max-over-anchors funnel = exhaustive reference; diverges from " +
       "greedy exactly where a later anchor goes deeper") {
    val rnd = new scala.util.Random(45)
    val window = 30L
    val cases: Seq[Seq[(Long, Int)]] = (0 until 300).map { _ =>
      val n = 1 + rnd.nextInt(12)
      Seq.fill(n)((rnd.nextInt(100).toLong, rnd.nextInt(4) - 1))
    }
    val got = cases.zipWithIndex.flatMap { case (evs, i) =>
        evs.map(e => (i, e._1, e._2)) }
      .toDF("case_id", "ts", "step")
      .groupBy(col("case_id"))
      .agg(sort_array(collect_list(struct(
        col("ts").as("ts"), col("step").as("step")))).as("seq"))
      .select(col("case_id"),
        org.apache.spark.sql.graftx.Bridge.column(
          graft.expr.FunnelLevel(
            org.apache.spark.sql.graftx.Bridge.expressionEager(col("seq")),
            3, window, maxOverAnchors = true)).as("maxlvl"),
        org.apache.spark.sql.graftx.Bridge.column(
          graft.expr.FunnelLevel(
            org.apache.spark.sql.graftx.Bridge.expressionEager(col("seq")),
            3, window)).as("greedy"))
      .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap
    var diverged = 0
    cases.zipWithIndex.foreach { case (evs, i) =>
      val (maxlvl, greedy) = got(i)
      assert(maxlvl == bruteMaxAnchor(evs, 3, window),
        s"max-anchor case $i: $evs")
      assert(maxlvl >= greedy,
        s"the existential level can never trail the greedy one: case $i $evs")
      if (maxlvl > greedy) diverged += 1
    }
    assert(diverged > 0,
      "the corpus must witness the documented greedy divergence")
    // the ClickHouse doc example: view@0, view@5, click@6, window 3
    val doc = Seq((0L, 0), (5L, 0), (6L, 1))
    assert(bruteMaxAnchor(doc, 3, 3L) == 2)
    val docGot = Seq(doc).zipWithIndex.flatMap { case (evs, i) =>
        evs.map(e => (i, e._1, e._2)) }
      .toDF("case_id", "ts", "step")
      .groupBy(col("case_id"))
      .agg(sort_array(collect_list(struct(
        col("ts").as("ts"), col("step").as("step")))).as("seq"))
      .select(
        org.apache.spark.sql.graftx.Bridge.column(
          graft.expr.FunnelLevel(
            org.apache.spark.sql.graftx.Bridge.expressionEager(col("seq")),
            3, 3L, maxOverAnchors = true)).as("m"),
        org.apache.spark.sql.graftx.Bridge.column(
          graft.expr.FunnelLevel(
            org.apache.spark.sql.graftx.Bridge.expressionEager(col("seq")),
            3, 3L)).as("g"))
      .collect().head
    assert(docGot.getInt(0) == 2 && docGot.getInt(1) == 1,
      s"the doc example must be 2 under max-anchor, 1 under greedy: $docGot")
  }

  /** Exhaustive independent reference for pattern matching: try every
    * index tuple (conditions are ≤ 3, events ≤ 10 — O(n^m) is fine). */
  private def bruteSeqMatch(evs: Seq[(Long, Int)],
                            conds: Seq[(Int, Option[(String, Long)])]): Boolean = {
    val sorted = evs.sorted
    def gapOk(c: Option[(String, Long)], dt: Long): Boolean = c match {
      case None => true
      case Some(("<", s)) => dt < s * 1000000L
      case Some(("<=", s)) => dt <= s * 1000000L
      case Some((">", s)) => dt > s * 1000000L
      case Some((">=", s)) => dt >= s * 1000000L
      case _ => false
    }
    def rec(j: Int, prevTs: Long): Boolean =
      if (j == conds.size) true
      else sorted.exists { case (ts, st) =>
        st == conds(j)._1 && (j == 0 || (ts > prevTs &&
          gapOk(conds(j)._2, ts - prevTs))) && rec(j + 1, ts)
      }
    rec(0, 0L)
  }

  test("sequenceMatch pattern grammar = exhaustive reference; parser rejects junk") {
    import graft.expr.SequenceMatchPattern
    val rnd = new scala.util.Random(44)
    // micros-scale gaps so (?t<2)/(?t>1) (seconds) bite: ts in 0..5s
    val cases: Seq[Seq[(Long, Int)]] = (0 until 200).map { _ =>
      val n = 1 + rnd.nextInt(8)
      Seq.fill(n)((rnd.nextInt(5000000).toLong * 1L, rnd.nextInt(4) - 1))
    }
    val patterns = Seq(
      "(?1).*(?2)",
      "(?1)(?2)",
      "(?1)(?t<2)(?2)",
      "(?1)(?t>1)(?2).*(?3)",
      "(?1)(?t<=3)(?2)(?t>=1)(?3)")
    for (p <- patterns) {
      // re-parse with the production parser; the reference consumes
      // the parsed (step, constraint) pairs — the grammar itself is
      // pinned by the rejection cases below
      val conds = graft.expr.SequenceMatchPattern.parseForTest(p)
      val got = cases.zipWithIndex.flatMap { case (evs, i) =>
        evs.map(e => (i, e._1, e._2)) }
        .toDF("case_id", "ts", "step")
        .groupBy(col("case_id"))
        .agg(sort_array(collect_list(struct(
          col("ts").as("ts"), col("step").as("step")))).as("seq"))
        .select(col("case_id"), org.apache.spark.sql.graftx.Bridge.column(
          SequenceMatchPattern(
            org.apache.spark.sql.graftx.Bridge.expressionEager(col("seq")),
            p)).as("m"))
        .collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
      cases.zipWithIndex.foreach { case (evs, i) =>
        assert(got(i) == bruteSeqMatch(evs, conds),
          s"pattern $p case $i: $evs")
      }
    }
    // rejected shapes fail fast with the offending token
    for (bad <- Seq("(?0)", "(?t<5)(?1)", "(?1)(?t<5)", "(?1)(?t<5)(?t<6)(?2)",
                    "(?1)x(?2)", "", "(?1)(?t<5).*(?2)"))
      intercept[IllegalArgumentException] {
        graft.expr.SequenceMatchPattern.parseForTest(bad)
      }
  }

  test("sequence match = unbounded-window funnel (order only)") {
    val events = Tables.events(spark, sf)
    val got = ops.Behavior.sequenceMatch(spark, sf).collect().head
    // independent truth: first view per user, then any later purchase
    val v = events.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t1"))
    val matched = events.filter($"event_type" === "purchase")
      .join(v, "user_id").filter($"ts" > $"t1")
      .select($"user_id").distinct().count()
    val total = events.select($"user_id").distinct().count()
    assert(got.getLong(0) == matched && got.getLong(1) == total)
  }

  test("retention from the bitmap MV = fact-scanning retention; fact never read") {
    val fromStates = ops.Behavior.retentionFromStates(spark, sf)
    val plan = fromStates.queryExecution.executedPlan.toString
    assert(plan.contains("lattice_bitmap_rollup") && !plan.contains("events.parquet"),
      s"the MV-served retention must read only the rollup:\n$plan")
    assert(fromStates.collect().toSeq ==
           ops.Behavior.retentionReport(spark, sf).collect().toSeq,
      "state-served cells must be bit-equal to the fact-scanning ones")
  }

  test("funnel routes through event-sequence MV states; different steps stay live") {
    import graft.plans.RollupRouting
    val dir = java.nio.file.Files.createTempDirectory("graft_seq")
      .resolve("seqrollup").toString
    val spec = ops.Behavior.funnelSeqSpec(dir)
    RollupRouting.buildPartials(Tables.events(spark, sf), spec).write.parquet(dir)
    val truth = ops.Behavior.windowFunnel(spark, sf).collect().toSeq
    RollupRouting.register(spec)
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      // the live funnelLevels path FILTERS the fact (a collect over
      // qualifying rows only) — that shape stays live; the MV read is
      // the when-guarded form windowFunnelFromStates uses (the same
      // plan built inline here, since the spec is already registered)
      val guarded = {
        val steps = Seq("view", "click", "purchase")
        val st = steps.zipWithIndex.tail.foldLeft(
            when($"event_type" === steps.head,
              struct($"ts".as("ts"), lit(0).as("step")))) { case (acc, (s, i)) =>
          acc.when($"event_type" === s, struct($"ts".as("ts"), lit(i).as("step")))
        }
        Tables.events(spark, sf)
          .groupBy($"user_id")
          .agg(sort_array(collect_list(st)).as("seq"))
          .filter(size($"seq") > 0)
          .select(org.apache.spark.sql.graftx.Bridge.column(
            graft.expr.FunnelLevel(
              org.apache.spark.sql.graftx.Bridge.expressionEager($"seq"),
              3, 7L * 24 * 3600 * 1000000L)).as("level"))
          .groupBy($"level").agg(count(lit(1)).as("users")).orderBy("level")
      }
      val plan = guarded.queryExecution.executedPlan.toString
      assert(plan.contains("seqrollup") && !plan.contains("events.parquet"),
        s"the guarded funnel must read the sequence states:\n$plan")
      assert(guarded.collect().toSeq == truth,
        "the MV-served histogram must equal the live funnel")
      // near miss: a DIFFERENT step mapping is a different sequence —
      // must stay live, never serve the wrong states
      val otherSteps = Seq("signup", "click", "purchase")
      val st2 = otherSteps.zipWithIndex.tail.foldLeft(
          when($"event_type" === otherSteps.head,
            struct($"ts".as("ts"), lit(0).as("step")))) { case (acc, (s, i)) =>
        acc.when($"event_type" === s, struct($"ts".as("ts"), lit(i).as("step")))
      }
      val other = Tables.events(spark, sf)
        .groupBy($"user_id")
        .agg(sort_array(collect_list(st2)).as("seq"))
      assert(other.queryExecution.executedPlan.toString.contains("events.parquet"),
        "a different step mapping must not route onto the registered sequence")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  test("gap fill: dense spine, zero defaults, carry-forward NULL before first") {
    val sparse = Seq(
      ("a", "2024-03-01", 2L, 7.0), ("a", "2024-03-04", 1L, 3.0),
      ("b", "2024-03-02", 5L, 9.0))
      .toDF("k", "d", "n", "m")
      .select($"k", $"d".cast("date").as("day"), $"n", $"m")
    val got = ops.GapFill.fillDays(sparse, "day", Seq("k"),
        defaults = Map("n" -> lit(0L)), carryForward = Seq("m"))
      .orderBy("k", "day")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))
    // every key × every spine day (2024-03-01..04), zero-filled n,
    // carry-forward m with NULL before a key's first observation
    assert(got.length == 8, s"2 keys × 4 spine days: ${got.toSeq}")
    val a = got.filter(_._1 == "a").toSeq
    assert(a.map(_._3) == Seq(2L, 0L, 0L, 1L))
    assert(a.map(_._4) == Seq(Some(7.0), Some(7.0), Some(7.0), Some(3.0)))
    val b = got.filter(_._1 == "b").toSeq
    assert(b.map(_._3) == Seq(0L, 5L, 0L, 0L))
    assert(b.map(_._4) == Seq(None, Some(9.0), Some(9.0), Some(9.0)),
      "carry-forward must be NULL before the first observation")
  }

  test("numeric WITH FILL: exclusive TO, grid spine, iterative INTERPOLATE") {
    // key "a": real rows at 0 and 75; "b": real row at 50 only
    val sparse = Seq(("a", 0L, 10L, 3.0), ("a", 75L, 2L, 5.0),
                     ("b", 50L, 7L, 2.0))
      .toDF("k", "x", "n", "v")
    // doubling interpolation: a NON-linear expr proves the fold is
    // iterative (a closed-form carry could not fake acc*2 per step)
    val got = ops.GapFill.fillNumericRange(sparse, "x", Seq("k"),
        from = 0L, to = 100L, step = 25L,
        defaults = Map("n" -> lit(0L)),
        interpolate = Map("v" -> (acc => acc * lit(2.0d))))
      .orderBy("k", "x")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(got.toSeq == Seq(
      // a: v=3 at 0, then 6, 12 filled; real 5 at 75
      ("a", 0L, 10L, Some(3.0)), ("a", 25L, 0L, Some(6.0)),
      ("a", 50L, 0L, Some(12.0)), ("a", 75L, 2L, Some(5.0)),
      // b: NULL before the first observation; real 2 at 50; then 4, 8
      ("b", 0L, 0L, None), ("b", 25L, 0L, None),
      ("b", 50L, 7L, Some(2.0)), ("b", 75L, 0L, Some(4.0))),
      s"got ${got.toSeq}")
    // TO is exclusive: x = 100 must not appear
    assert(!got.exists(_._2 == 100L), "TO must be exclusive")
  }

  test("retention cells = distinct-intersect truth") {
    val events = Tables.events(spark, sf)
    def usersOn(d: String) = events
      .filter(to_date($"ts") === lit(java.sql.Date.valueOf(d)))
      .select($"user_id").distinct()
    val r0 = usersOn("2024-01-05").count()
    val r1 = usersOn("2024-01-05").intersect(usersOn("2024-01-06")).count()
    val r2 = usersOn("2024-01-05").intersect(usersOn("2024-01-12")).count()
    val got = ops.Behavior.retentionReport(spark, sf).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((r0, r1, r2)),
      s"bitmap-AND cells must equal set-op truth: $got vs ($r0,$r1,$r2)")
  }

  test("sequenceCount routes through two-step sequence MV states: " +
       "routed ≡ live on the fixture AND a 300-user random corpus") {
    import graft.plans.RollupRouting
    // fixture: the driver query, MV-served, equals the live scan
    // (the plan is also pinned below, on an inline-registered scope
    // routed by the session's own rule)
    assert(ops.Behavior.sequenceCountsFromStates(spark, sf).collect().toSeq ==
             ops.Behavior.sequenceCounts(spark, sf).collect().toSeq,
      "MV-served sequenceCount must equal the live scan (multiset-exact states)")
    val fixtureDir = ops.StarJoins.scratch(sf, "seqcount_rollup")
    RollupRouting.register(ops.Behavior.seqCountSpec(fixtureDir))
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      val inline = ops.Behavior.sequenceCountsOver(Tables.events(spark, sf))
      val plan = inline.queryExecution.executedPlan.toString
      assert(plan.contains("seqcount_rollup") && !plan.contains("events.parquet"),
        s"the sequenceCount read must route onto the sequence states:\n$plan")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
    // random corpus: 300 users × random (ts, type) rows, written as an
    // events.parquet-suffixed table so the registration applies
    val rnd = new scala.util.Random(7)
    val types = Seq("view", "purchase", "click", "other")
    val rows = (0 until 300).flatMap { u =>
      Seq.fill(1 + rnd.nextInt(12)) {
        val (d, h, m) = (1 + rnd.nextInt(28), rnd.nextInt(24), rnd.nextInt(60))
        (u.toLong,
         java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:$m%02d:00"),
         types(rnd.nextInt(types.size)))
      }
    }
    val base = java.nio.file.Files.createTempDirectory("graft_seqcorpus")
    val srcPath = base.resolve("events.parquet").toString
    rows.toDF("user_id", "ts", "event_type").write.parquet(srcPath)
    val corpus = spark.read.parquet(srcPath)
    val dir = base.resolve("rollup").toString
    val spec = ops.Behavior.seqCountSpec(dir)
    RollupRouting.buildPartials(corpus, spec).write.parquet(dir)
    val live = ops.Behavior.sequenceCountsOver(corpus).collect().toSeq
    RollupRouting.register(spec)
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      val r = ops.Behavior.sequenceCountsOver(corpus)
      val cplan = r.queryExecution.executedPlan.toString
      assert(cplan.contains("rollup") && !cplan.contains("events.parquet"),
        s"the corpus read must route onto the corpus states:\n$cplan")
      assert(r.collect().toSeq == live,
        "routed sequenceCount must equal live on the random corpus")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  /** Independent positional reference for the full sequenceNextNode
    * surface (round 18): over the (ts, step)-sorted 0-based list, an
    * anchor i carries the VARIADIC chain — steps 0..k−1 matching
    * consecutively from i in the travel direction — with the answer k
    * positions beyond it (i+k forward, i−k backward); head pins i=0,
    * tail i=n−1, the match bases take the first/last anchor. Outer
    * None = chain never matched (user excluded); inner None = matched
    * with nothing beyond the chain (a NULL histogram row). */
  private def bruteNextNode(evs: Seq[(Long, Int)], forward: Boolean,
                            base: String, k: Int = 2): Option[Option[String]] = {
    val s = evs.sorted
    val n = s.length
    def chainAt(i: Int): Boolean = (0 until k).forall { j =>
      val a = if (forward) i + j else i - j
      a >= 0 && a < n && s(a)._2 == j
    }
    val cands = (0 until n).filter(chainAt)
    val p = base match {
      case "head" => cands.find(_ == 0)
      case "tail" => cands.find(_ == n - 1)
      case "first_match" => cands.headOption
      case "last_match" => cands.lastOption
    }
    p.map { i =>
      val a = if (forward) i + k else i - k
      if (a < 0 || a >= n) None
      else Some(s(a)._2 match {
        case 0 => "view"; case 1 => "click"; case 2 => "purchase"
        case _ => "other"
      })
    }
  }

  test("sequenceNextNode: all six ClickHouse combinations = positional " +
       "reference on a 300-user tie-heavy corpus; invalid combos refused") {
    val rnd = new scala.util.Random(46)
    val types = Seq("view", "click", "purchase", "other")
    val stepOf = Map("view" -> 0, "click" -> 1, "purchase" -> 2, "other" -> -1)
    val cases: Map[Long, Seq[(Long, String)]] = (0 until 300).map { u =>
      val n = 1 + rnd.nextInt(12)
      // minute resolution on a small domain forces (ts, step) ties
      u.toLong -> Seq.fill(n) {
        val (d, h, m) = (1 + rnd.nextInt(10), rnd.nextInt(4), rnd.nextInt(10))
        (java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:$m%02d:00").getTime * 1000L,
         types(rnd.nextInt(types.size)))
      }
    }.toMap
    val corpus = cases.toSeq.flatMap { case (u, evs) =>
      evs.map { case (us, t) => (u, us / 1000L, t) }
    }.toDF("user_id", "ms", "event_type")
      .select($"user_id", timestamp_millis($"ms").as("ts"), $"event_type")
    val combos = Seq(
      ("forward", "head"), ("forward", "first_match"),
      ("forward", "last_match"), ("backward", "tail"),
      ("backward", "first_match"), ("backward", "last_match"))
    for ((dir, base) <- combos) {
      val expect: Map[Option[String], Long] = cases.values.toSeq
        .flatMap(evs => bruteNextNode(
          evs.map { case (us, t) => (us, stepOf(t)) }, dir == "forward", base))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = ops.Behavior.sequenceNextNodeOver(corpus, dir, base)
        .collect()
        .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      assert(got == expect, s"($dir, $base): $got vs $expect")
    }
    // the matrix is the six singles, labeled — one scan, same answers
    val matrix = ops.Behavior.sequenceNextNodeMatrixOver(corpus).collect()
      .groupBy(_.getString(0)).view.mapValues(
        _.map(r => Option(r.getString(1)) -> r.getLong(2)).toMap).toMap
    for ((dir, base) <- combos) {
      val single = ops.Behavior.sequenceNextNodeOver(corpus, dir, base)
        .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      assert(matrix(s"${dir}_$base") == single,
        s"matrix must agree with the single ($dir, $base)")
    }
    // the VARIADIC chain (k = 1 and 3) against the same reference —
    // ClickHouse's event1..eventN are as many conditions as passed
    for (k <- Seq(1, 3); (dir, base) <- Seq(
        ("forward", "first_match"), ("backward", "last_match"),
        ("forward", "head"), ("backward", "tail"))) {
      val expect: Map[Option[String], Long] = cases.values.toSeq
        .flatMap(evs => bruteNextNode(
          evs.map { case (us, t) => (us, stepOf(t)) }, dir == "forward",
          base, k))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = ops.Behavior.sequenceNextNodeOver(corpus, dir, base, k)
        .collect()
        .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      assert(got == expect, s"($dir, $base, k=$k): $got vs $expect")
    }
    // ClickHouse's own rejections, mirrored
    intercept[IllegalArgumentException] {
      ops.Behavior.sequenceNextNodeOver(corpus, "forward", "tail")
    }
    intercept[IllegalArgumentException] {
      ops.Behavior.sequenceNextNodeOver(corpus, "backward", "head")
    }
    intercept[IllegalArgumentException] {
      ops.Behavior.sequenceNextNodeOver(corpus, "sideways", "head")
    }
  }

  test("window-truncated all-events states are LOSSLESS for the " +
       "windowed funnel family: routed ≡ live, only out-of-reach " +
       "non-step events dropped, state strictly smaller") {
    import graft.plans.RollupRouting
    // fixture: the truncated-states strict_order and four-mode matrix
    // equal the live scans (q274's oracle shares q239's)
    assert(ops.Behavior.windowFunnelStrictOrderTruncated(spark, sf)
             .collect().toSeq ==
           ops.Behavior.windowFunnelStrictOrder(spark, sf).collect().toSeq,
      "truncated-state strict_order must equal the live scan")
    assert(ops.Behavior.funnelModeMatrixTruncated(spark, sf).collect().toSeq ==
           ops.Behavior.funnelModeMatrix(spark, sf).collect().toSeq,
      "truncated-state mode matrix must equal the live scan on all modes")
    // random corpus: adversarial sequences, truncation provably bites
    val rnd = new scala.util.Random(18)
    val types = Seq("view", "purchase", "click", "other")
    val rows = (0 until 300).flatMap { u =>
      Seq.fill(1 + rnd.nextInt(12)) {
        val (d, h, m) = (1 + rnd.nextInt(28), rnd.nextInt(24), rnd.nextInt(60))
        (u.toLong,
         java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:$m%02d:00"),
         types(rnd.nextInt(types.size)))
      }
    }
    val base = java.nio.file.Files.createTempDirectory("graft_trunccorpus")
    val srcPath = base.resolve("events.parquet").toString
    rows.toDF("user_id", "ts", "event_type").write.parquet(srcPath)
    val corpus = spark.read.parquet(srcPath)
    val week = 7L * 24 * 3600 * 1000000L
    val full = RollupRouting.buildPartials(
      corpus, ops.Behavior.funnelAllSpec("unused"))
    val trunc = ops.Behavior.truncatedFunnelAllPartials(corpus, week)
    // the dropped elements are EXACTLY non-step events out of window
    // reach (multiset difference of the exploded states)
    val dropped = full.select(explode($"ev_all").as("e"))
      .exceptAll(trunc.select(explode($"ev_all").as("e")))
      .select($"e.step").collect().map(_.getInt(0))
    assert(dropped.nonEmpty,
      "the 28-day corpus must make a 7-day truncation bite")
    assert(dropped.forall(_ == -1),
      s"only step -1 events may be dropped: ${dropped.toSet}")
    val nFull = full.select(sum(size($"ev_all"))).collect().head.getLong(0)
    val nTrunc = trunc.select(sum(size($"ev_all"))).collect().head.getLong(0)
    assert(nTrunc < nFull, s"state must shrink: $nTrunc vs $nFull")
    // routed ≡ live through the truncated states, fact never read —
    // registered WITH the r19 window declaration: the whole windowed
    // mode family is on the truncation-invariant whitelist, so the
    // machine-checked contract must still let these reads route
    val dir = base.resolve("rollup").toString
    trunc.write.parquet(dir)
    val liveMatrix = ops.Behavior.funnelModeMatrixOver(corpus).collect().toSeq
    RollupRouting.register(
      ops.Behavior.funnelAllSpec(dir).copy(truncatedToWindowUs = Some(week)))
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      val r = ops.Behavior.funnelModeMatrixOver(corpus)
      val cplan = r.queryExecution.executedPlan.toString
      assert(cplan.contains("rollup") && !cplan.contains("events.parquet"),
        s"the corpus matrix must route onto the truncated states:\n$cplan")
      assert(r.collect().toSeq == liveMatrix,
        "matrix through TRUNCATED states must equal live on the corpus")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  test("truncated states REFUSE an unwindowed read (r19, machine-" +
       "checked contract): a sequenceNextNode adjacency over the same " +
       "registered pattern falls back to raw; an undeclared " +
       "registration would have silently served wrong states") {
    import graft.plans.RollupRouting
    // same corpus shape as the lossless test: 28 days vs a 7-day
    // window, so truncation provably bites
    val rnd = new scala.util.Random(19)
    val types = Seq("view", "purchase", "click", "other")
    val rows = (0 until 300).flatMap { u =>
      Seq.fill(1 + rnd.nextInt(12)) {
        val (d, h, m) = (1 + rnd.nextInt(28), rnd.nextInt(24), rnd.nextInt(60))
        (u.toLong,
         java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:$m%02d:00"),
         types(rnd.nextInt(types.size)))
      }
    }
    val base = java.nio.file.Files.createTempDirectory("graft_truncrefuse")
    val srcPath = base.resolve("events.parquet").toString
    rows.toDF("user_id", "ts", "event_type").write.parquet(srcPath)
    val corpus = spark.read.parquet(srcPath)
    val week = 7L * 24 * 3600 * 1000000L
    val dir = base.resolve("rollup").toString
    ops.Behavior.truncatedFunnelAllPartials(corpus, week).write.parquet(dir)
    val live = ops.Behavior.sequenceNextNodeOver(corpus).collect().toSeq
    // DECLARED truncation: the unwindowed next-node read must refuse
    // the states and scan the fact — value-identical to live
    RollupRouting.register(
      ops.Behavior.funnelAllSpec(dir).copy(truncatedToWindowUs = Some(week)))
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      val r = ops.Behavior.sequenceNextNodeOver(corpus)
      val cplan = r.queryExecution.executedPlan.toString
      assert(cplan.contains("events.parquet") && !cplan.contains("rollup"),
        s"an unwindowed read must fall back to the fact scan:\n$cplan")
      assert(r.collect().toSeq == live,
        "the refused read must equal the live answer")
      // a WINDOWED strict_order funnel over the same registration
      // still routes — the gate is per-consumer, not per-directory
      val ok = ops.Behavior.funnelModeMatrixOver(corpus)
      val okPlan = ok.queryExecution.executedPlan.toString
      assert(okPlan.contains("rollup") && !okPlan.contains("events.parquet"),
        s"the windowed family must still route:\n$okPlan")
      // review finding (r19): a COUNT(*)-only dashboard must refuse
      // too — the truncated build's c_p counted KEPT rows, and with no
      // collect in the aggregate there is nothing to whitelist
      val cnt = corpus.groupBy($"user_id").agg(count(lit(1)).as("n"))
      val cntPlan = cnt.queryExecution.executedPlan.toString
      assert(cntPlan.contains("events.parquet") && !cntPlan.contains("rollup"),
        s"a no-collect aggregate must never read a truncated dir:\n$cntPlan")
      // and a RAW EXPORT of the collected sequence (no consumer at
      // all — the seq escapes as plan output) must refuse as well;
      // the collect IS the registered pattern, so absent the gate it
      // would route
      val export = corpus.groupBy($"user_id")
        .agg(sort_array(collect_list(
          ops.Behavior.funnelStructAll(ops.Behavior.FunnelSteps))).as("seq"))
      val exPlan = export.queryExecution.executedPlan.toString
      assert(exPlan.contains("events.parquet") && !exPlan.contains("rollup"),
        s"an escaping sequence must never come from a truncated dir:\n$exPlan")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
    // CONTROL — the pre-r19 mis-wiring: registering the truncated
    // directory WITHOUT the declaration routes the next-node read onto
    // the truncated states (this is exactly the silent-wrong-answer
    // hazard the declaration closes)
    RollupRouting.register(ops.Behavior.funnelAllSpec(dir))
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      val r = ops.Behavior.sequenceNextNodeOver(corpus)
      val cplan = r.queryExecution.executedPlan.toString
      assert(cplan.contains("rollup") && !cplan.contains("events.parquet"),
        s"control: the undeclared registration routes:\n$cplan")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  test("all-events sequence advising is OPT-IN: the default refuses " +
       "(state ≈ fact), the opt-in mints with a cost warning and the " +
       "advised read equals live") {
    import graft.plans.Advisor
    val structAll = {
      val steps = Seq("view", "click", "purchase")
      val idx = steps.zipWithIndex.foldLeft(lit(-1)) { case (acc, (s, i)) =>
        when($"event_type" === s, lit(i)).otherwise(acc)
      }
      struct($"ts".as("ts"), idx.as("step"))
    }
    val workload = Tables.events(spark, sf)
      .groupBy($"user_id")
      .agg(sort_array(collect_list(structAll)).as("seq"))
    val root = java.nio.file.Files.createTempDirectory("graft_optin").toString
    val deflt = Advisor.advise(Seq(workload), root)
    assert(deflt.singles.isEmpty && deflt.skipped.nonEmpty,
      s"the unguarded collect must stay register-by-hand by default: $deflt")
    val opted = Advisor.advise(Seq(workload), root,
      allowUnboundedSequences = true)
    assert(opted.singles.size == 1 && opted.skipped.isEmpty,
      s"the opt-in must mint the all-events member: $opted")
    assert(opted.splits.exists(_.contains("all-events")),
      s"the opt-in must stamp its cost warning: ${opted.splits}")
    assert(ops.Behavior.windowFunnelStrictOrderAdvised(spark, sf)
             .collect().toSeq ==
           ops.Behavior.windowFunnelStrictOrder(spark, sf).collect().toSeq,
      "the advised strict_order read must equal the live scan")
  }

  test("condition retention = set-op truth; an unmet condition is 0") {
    val events = Tables.events(spark, sf)
    def usersWhere(c: org.apache.spark.sql.Column) =
      events.filter(c).select($"user_id").distinct()
    val anchor = usersWhere($"event_type" === "purchase" && $"value" > 100.0d)
    val r1 = anchor.intersect(usersWhere($"event_type" === "click")).count()
    val got = ops.Behavior.retentionConditions(spark, sf).collect().head
    assert(got.getLong(0) == anchor.count() && got.getLong(1) == r1,
      s"condition cells must equal set-op truth: $got")
    // a condition NO event satisfies must yield 0, not be skipped
    val z = ops.Behavior.retentionConds(events, Seq(
      $"event_type" === "purchase",
      $"event_type" === "no_such_type")).collect().head
    assert(z.getLong(1) == 0L, s"unmet condition must be 0: $z")
    // an unmet ANCHOR zeroes everything
    val za = ops.Behavior.retentionConds(events, Seq(
      $"event_type" === "no_such_type",
      $"event_type" === "click")).collect().head
    assert(za.getLong(0) == 0L && za.getLong(1) == 0L,
      s"unmet anchor must zero the report: $za")
  }

  test("retention: a requested day with no events yields 0 cells, not " +
       "the surviving day's cardinality") {
    // two users active on day 5 only; day 6 and day 99 have no rows
    val events = Seq(
      (1L, "2024-01-05 10:00:00"),
      (2L, "2024-01-05 11:00:00"),
      (1L, "2024-01-12 09:00:00"))
      .toDF("user_id", "s").select($"user_id", $"s".cast("timestamp").as("ts"))
    // empty RETURN day: r_i must be 0 (unmet condition), never r0
    val a = ops.Behavior.retention(events, "2024-01-05",
      Seq("2024-01-06", "2024-01-12")).collect().head
    assert((a.getLong(0), a.getLong(1), a.getLong(2)) == ((2L, 0L, 1L)),
      s"empty return day must intersect to 0: $a")
    // empty ANCHOR day: every cell must be 0, never the return day's count
    val b = ops.Behavior.retention(events, "2024-01-06",
      Seq("2024-01-12")).collect().head
    assert((b.getLong(0), b.getLong(1)) == ((0L, 0L)),
      s"empty anchor day must zero the whole report: $b")
  }

  test("theta union buffer never downsamples its inputs (a default " +
       "union of one lgK-14 estimation-regime state is an identity)") {
    import graft.expr.Tht
    // 60k distinct values at lgK 14: the state is in the ESTIMATION
    // regime (retained set governed by its own θ). A union buffer
    // smaller than the input (the old 12 default) quick-selects the
    // retained set down to ~4096 entries — a DIFFERENT θ, a different
    // estimate. A never-downsampling buffer makes the single-input
    // union an exact identity.
    val df = spark.range(60000).select($"id".cast("long").as("v"))
    val st = df.agg(Tht.agg($"v", 14).as("st"))
    val direct = st.select(Tht.estimate($"st").as("est"))
      .collect().head.getDouble(0)
    val unioned = st.agg(Tht.estimate(Tht.union($"st")).as("est"))
      .collect().head.getDouble(0)
    assert(unioned == direct,
      s"default union must not downsample an lgK-14 input: $unioned vs $direct")
  }

  test("max-anchor funnel routes through the three-step sequence " +
       "states: routed ≡ live, fact never read") {
    import graft.plans.RollupRouting
    // fixture equality first (also builds the scratch rollup)
    assert(ops.Behavior.windowFunnelMaxAnchorFromStates(spark, sf)
             .collect().toSeq ==
           ops.Behavior.windowFunnelMaxAnchor(spark, sf).collect().toSeq,
      "MV-served max-anchor histogram must equal the live scan")
    // plan pin on an inline-registered scope, routed by the session's
    // own rule rather than the entry point's catalog
    val dir = ops.StarJoins.scratch(sf, "funnel_seq_rollup")
    RollupRouting.register(ops.Behavior.funnelSeqSpec(dir))
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      val inline =
        ops.Behavior.windowFunnelMaxAnchorOver(Tables.events(spark, sf))
      val plan = inline.queryExecution.executedPlan.toString
      assert(plan.contains("funnel_seq_rollup") && !plan.contains("events.parquet"),
        s"the max-anchor read must route onto the q230 sequence states:\n$plan")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  test("theta bounds compose with the registered theta MV: routed ≡ " +
       "live (value-set-deterministic states), fact never read") {
    import graft.plans.RollupRouting
    assert(ops.Behavior.audienceBoundsFromStates(spark, sf).collect().toSeq ==
           ops.Behavior.audienceBounds(spark, sf).collect().toSeq,
      "MV-composed bounds must be bit-equal to the fact-scanning ones")
    val dir = ops.StarJoins.scratch(sf, "theta_rollup")
    RollupRouting.register(ops.Behavior.thetaSpec(dir))
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      val inline = ops.Behavior.audienceBoundsOver(Tables.events(spark, sf))
      val plan = inline.queryExecution.executedPlan.toString
      assert(plan.contains("theta_rollup") && !plan.contains("events.parquet"),
        s"the bounds read must route onto the theta states:\n$plan")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  test("condition retention routes through per-condition bitmap " +
       "states; the advised twin mints the same members") {
    import graft.plans.RollupRouting
    val live = ops.Behavior.retentionConditions(spark, sf).collect().toSeq
    assert(ops.Behavior.retentionConditionsFromStates(spark, sf)
             .collect().toSeq == live,
      "state-served condition cells must be bit-equal to the live scan")
    assert(ops.Behavior.retentionConditionsAdvised(spark, sf)
             .collect().toSeq == live,
      "advisor-minted condition cells must be bit-equal to the live scan")
    val dir = ops.StarJoins.scratch(sf, "retention_cond_rollup")
    RollupRouting.register(ops.Behavior.retentionCondSpec(dir))
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      val conds = Seq(
        col("event_type") === "purchase" && col("value") > 100.0d,
        col("event_type") === "click",
        col("event_type") === "view" && col("value") > 200.0d)
      val inline = ops.Behavior.retentionConds(Tables.events(spark, sf), conds)
      val plan = inline.queryExecution.executedPlan.toString
      assert(plan.contains("retention_cond_rollup") && !plan.contains("events.parquet"),
        s"the condition-retention read must route onto the bitmap states:\n$plan")
      // WINDOWED cells: whole-day ts bounds subsume onto the spec's
      // day grain (the reason the states register per day); a MID-DAY
      // cut provably stays live
      val windowed = ops.Behavior.retentionConds(
        Tables.events(spark, sf).filter(
          col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")) &&
          col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))),
        conds)
      val wplan = windowed.queryExecution.executedPlan.toString
      assert(wplan.contains("retention_cond_rollup") && !wplan.contains("events.parquet"),
        s"whole-day-windowed cells must subsume onto the day grain:\n$wplan")
      val midday = ops.Behavior.retentionConds(
        Tables.events(spark, sf).filter(
          col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-01 12:00:00"))),
        conds)
      assert(midday.queryExecution.executedPlan.toString.contains("events.parquet"),
        "a mid-day cut must keep the windowed cells live")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  test("per-condition bitmap states stream-maintain (T5): the routed " +
       "retention read over the maintained rollup equals batch") {
    import graft.plans.RollupRouting
    val base = java.nio.file.Files.createTempDirectory("graft_condmv")
    val spec = ops.Behavior.retentionCondSpec(
      base.resolve("condstream").toString)
    val events = Tables.events(spark, sf)
    val srcDir = base.resolve("deliveries").toString
    // mid-day cut: the same day's condition states land in TWO appended
    // partial blocks, so the read must OR-union across blocks
    val cut = lit("2024-01-15 12:00:00").cast("timestamp")
    events.filter($"ts" < cut).write.mode("append").parquet(srcDir)
    events.filter($"ts" >= cut).write.mode("append").parquet(srcDir)
    graft.streaming.Live.maintainRollup(
      spark.readStream.schema(events.schema).option("maxFilesPerTrigger", "1")
        .parquet(srcDir), spec)
    val conds = Seq(
      col("event_type") === "purchase" && col("value") > 100.0d,
      col("event_type") === "click",
      col("event_type") === "view" && col("value") > 200.0d)
    val truth = ops.Behavior.retentionConds(events, conds).collect().toSeq
    RollupRouting.register(spec)
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      val routed = ops.Behavior.retentionConds(Tables.events(spark, sf), conds)
      assert(routed.queryExecution.executedPlan.toString.contains("condstream"),
        "the stream-maintained condition rollup must answer")
      assert(routed.collect().toSeq == truth,
        "stream-maintained condition states must OR-union to the batch cells")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  test("funnel mode matrix routes through ALL-EVENTS sequence states: " +
       "routed ≡ live on the fixture AND a 300-user random corpus") {
    import graft.plans.RollupRouting
    assert(ops.Behavior.funnelModeMatrixFromStates(spark, sf).collect().toSeq ==
           ops.Behavior.funnelModeMatrix(spark, sf).collect().toSeq,
      "MV-served mode matrix must equal the live scan for all four modes")
    // the strict_order single-mode read shares the same collect — its
    // state-served twin (q263) must be bit-equal to the raw positional
    // oracle's answer too
    assert(ops.Behavior.windowFunnelStrictOrderFromStates(spark, sf)
             .collect().toSeq ==
           ops.Behavior.windowFunnelStrictOrder(spark, sf).collect().toSeq,
      "MV-served strict_order must equal the live scan")
    assert(ops.Behavior.sequenceNextNodeFromStates(spark, sf).collect().toSeq ==
           ops.Behavior.sequenceNextNode(spark, sf).collect().toSeq,
      "MV-served sequenceNextNode must equal the live scan")
    val fixtureDir = ops.StarJoins.scratch(sf, "funnel_all_rollup")
    RollupRouting.register(ops.Behavior.funnelAllSpec(fixtureDir))
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      val inline = ops.Behavior.funnelModeMatrixOver(Tables.events(spark, sf))
      val plan = inline.queryExecution.executedPlan.toString
      assert(plan.contains("funnel_all_rollup") && !plan.contains("events.parquet"),
        s"the mode matrix must route onto the all-events states:\n$plan")
      val soPlan = ops.Behavior.windowFunnelStrictOrder(spark, sf)
        .queryExecution.executedPlan.toString
      assert(soPlan.contains("funnel_all_rollup") && !soPlan.contains("events.parquet"),
        s"strict_order must route onto the all-events states:\n$soPlan")
      val nnPlan = ops.Behavior.sequenceNextNodeOver(Tables.events(spark, sf))
        .queryExecution.executedPlan.toString
      assert(nnPlan.contains("funnel_all_rollup") && !nnPlan.contains("events.parquet"),
        s"sequenceNextNode must route onto the all-events states:\n$nnPlan")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
    // random corpus (the q237 pattern): interference modes exercised
    // on adversarial sequences, routed ≡ live
    val rnd = new scala.util.Random(17)
    val types = Seq("view", "purchase", "click", "other")
    val rows = (0 until 300).flatMap { u =>
      Seq.fill(1 + rnd.nextInt(12)) {
        val (d, h, m) = (1 + rnd.nextInt(28), rnd.nextInt(24), rnd.nextInt(60))
        (u.toLong,
         java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:$m%02d:00"),
         types(rnd.nextInt(types.size)))
      }
    }
    val base = java.nio.file.Files.createTempDirectory("graft_modecorpus")
    val srcPath = base.resolve("events.parquet").toString
    rows.toDF("user_id", "ts", "event_type").write.parquet(srcPath)
    val corpus = spark.read.parquet(srcPath)
    val dir = base.resolve("rollup").toString
    val spec = ops.Behavior.funnelAllSpec(dir)
    RollupRouting.buildPartials(corpus, spec).write.parquet(dir)
    val live = ops.Behavior.funnelModeMatrixOver(corpus).collect().toSeq
    // sequenceNextNode rides the same states — the corpus's random
    // minute-resolution timestamps produce ties, exercising the
    // (ts, step) ordering determinism the fixture barely has
    val nnLive = ops.Behavior.sequenceNextNodeOver(corpus).collect().toSeq
    RollupRouting.register(spec)
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      val r = ops.Behavior.funnelModeMatrixOver(corpus)
      val cplan = r.queryExecution.executedPlan.toString
      assert(cplan.contains("rollup") && !cplan.contains("events.parquet"),
        s"the corpus matrix must route onto the corpus states:\n$cplan")
      assert(r.collect().toSeq == live,
        "routed mode matrix must equal live on the random corpus")
      val nn = ops.Behavior.sequenceNextNodeOver(corpus)
      assert(!nn.queryExecution.executedPlan.toString.contains("events.parquet"),
        "the corpus next-node read must route onto the corpus states")
      assert(nn.collect().toSeq == nnLive,
        "routed sequenceNextNode must equal live on the random corpus")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }
}
