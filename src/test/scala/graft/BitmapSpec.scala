package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.Bmp
import graft.plans.RollupRouting

/** The EXACT-DISTINCT bitmap member (round 15): ClickHouse's
  * `groupBitmapState`/`groupBitmapMerge` on Roaring bitmaps —
  * expression contracts and the full registry-member lifecycle
  * (route, lattice, hybrid, catalog, compaction merge). */
class BitmapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf

  // ——— expression contracts ———

  test("bitmap agg+count = exact COUNT(DISTINCT), full long domain incl. negatives") {
    val rows = Seq[(String, java.lang.Long)](
      ("a", 1L), ("a", 1L), ("a", -5L), ("a", Long.MaxValue), ("a", Long.MinValue),
      ("a", null), ("b", 0L), ("b", 0L), ("c", null)).toDF("k", "v")
    val got = rows.groupBy($"k")
      .agg(Bmp.count(Bmp.agg($"v")).as("n"), countDistinct($"v").as("truth"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    got.foreach { case (k, (n, truth)) =>
      assert(n == truth, s"group $k: bitmap count $n != exact $truth")
    }
    assert(got("a")._1 == 4L && got("b")._1 == 1L && got("c")._1 == 0L)
  }

  test("bitmap merge of per-partition states = single-pass state, bit-for-bit") {
    // states built under two different row partitions must OR-union to
    // the identical canonical serialized form (routed ≡ live's basis)
    val df = Tables.events(spark, sf).select($"event_type", $"user_id")
    val single = df.groupBy($"event_type")
      .agg(Bmp.agg($"user_id").as("bm"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val merged = df.withColumn("half", pmod($"user_id", lit(2)))
      .groupBy($"event_type", $"half")
      .agg(Bmp.agg($"user_id").as("bm"))
      .groupBy($"event_type")
      .agg(Bmp.merge($"bm").as("bm"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(single.keySet == merged.keySet)
    single.foreach { case (k, bytes) =>
      assert(java.util.Arrays.equals(bytes, merged(k)),
        s"merged state for $k must be bit-equal to the single-pass state")
    }
  }

  test("bitmap intersect = cohort membership (AND of states); empty input counts 0") {
    // users seen on BOTH halves of the fixture = intersect of the two
    // half states; truth via a self-join
    val df = Tables.events(spark, sf)
      .select($"user_id", (pmod($"user_id", lit(2)) === 0).as("even_row"))
    val truth = df.filter($"even_row").select($"user_id").distinct()
      .intersect(df.filter(!$"even_row").select($"user_id").distinct())
      .count()
    val got = df.groupBy($"even_row").agg(Bmp.agg($"user_id").as("bm"))
      .agg(Bmp.count(Bmp.intersect($"bm")).as("n"))
      .collect().head.getLong(0)
    assert(got == truth, s"intersect cardinality $got != join truth $truth")
    // zero states: the AND identity choice is the empty bitmap
    val empty = df.filter(lit(false)).groupBy($"even_row")
      .agg(Bmp.agg($"user_id").as("bm"))
      .agg(Bmp.count(Bmp.intersect($"bm")).as("n"))
      .collect().head.getLong(0)
    assert(empty == 0L)
  }

  test("non-integral inputs are refused at analysis (exactness, not hashing)") {
    val df = Seq(("a", 1.5d)).toDF("k", "v")
    val ex = intercept[Exception] {
      df.groupBy($"k").agg(Bmp.count(Bmp.agg($"v"))).collect()
    }
    assert(ex.getMessage.contains("integral"),
      s"refusal must explain the integral contract, got: ${ex.getMessage}")
  }

  test("SQL surface: graft_bitmap_agg/merge/intersect/count") {
    Functions.registerAll(spark)
    Tables.events(spark, sf).createOrReplaceTempView("ev_bm")
    val got = spark.sql(
      """SELECT event_type,
           graft_bitmap_count(graft_bitmap_merge(bm)) AS n
         FROM (SELECT event_type, graft_bitmap_agg(user_id) AS bm
               FROM ev_bm GROUP BY event_type, CAST(ts AS DATE))
         GROUP BY event_type ORDER BY event_type""").collect()
    val truth = spark.sql(
      """SELECT event_type, COUNT(DISTINCT user_id) AS n
         FROM ev_bm GROUP BY event_type ORDER BY event_type""").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq ==
           truth.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  // ——— the registry member, end to end ———

  test("bitmap states route: exact uniq + uniqIf, lattice, hybrid, catalog, compaction") {
    import graft.ops.Rollups
    val dir = java.nio.file.Files.createTempDirectory("graft_bm")
      .resolve("bmrollup").toString
    val spec = Rollups.bitmapDaySpec(dir)
    RollupRouting.buildPartials(Tables.events(spark, sf), spec).write.parquet(dir)
    val q = () => Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"), count(lit(1)).as("n_events"))
      .orderBy("event_type")
    val truth = q().collect().toSeq
    val latticeTruth = Tables.events(spark, sf)
      .rollup(to_date($"ts").as("day"), $"event_type")
      .agg(countDistinct($"user_id").as("u"))
      .orderBy($"day".asc_nulls_first, $"event_type".asc_nulls_first)
      .collect().toSeq
    val acdTruth = Tables.events(spark, sf)
      .groupBy($"event_type").agg(approx_count_distinct($"user_id").as("u"))
      .orderBy("event_type").collect().toSeq
    RollupRouting.register(spec)
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      val routed = q()
      val plan = routed.queryExecution.executedPlan.toString
      assert(plan.contains("bmrollup") && !plan.contains("events.parquet"),
        s"COUNT(DISTINCT) must read the bitmap states, not the fact:\n$plan")
      assert(routed.collect().toSeq == truth,
        "routed exact distinct counts must be bit-equal to live")
      // the EXACT lattice: every ROLLUP grain from the same states
      val lat = Tables.events(spark, sf)
        .rollup(to_date($"ts").as("day"), $"event_type")
        .agg(countDistinct($"user_id").as("u"))
        .orderBy($"day".asc_nulls_first, $"event_type".asc_nulls_first)
      assert(lat.queryExecution.executedPlan.toString.contains("bmrollup"),
        "the exact distinct lattice must route")
      assert(lat.collect().toSeq == latticeTruth,
        "every lattice grain's exact count must equal the live one")
      // approx_count_distinct SUBSTITUTES the exact answer (zero error
      // dominates any tolerance) under the estimator knob…
      val acd = Tables.events(spark, sf)
        .groupBy($"event_type").agg(approx_count_distinct($"user_id").as("u"))
        .orderBy("event_type")
      assert(acd.queryExecution.executedPlan.toString.contains("bmrollup"),
        "approx_count_distinct must route onto the exact state")
      val exact = truth.map(r => r.getString(0) -> r.getLong(1)).toMap
      acd.collect().foreach(r => assert(r.getLong(1) == exact(r.getString(0)),
        "the substituted estimate IS the exact count"))
      // …and reverts to HLL++'s own values when the knob is off
      spark.conf.set("spark.graft.routing.estimatorSubstitution", "false")
      try {
        val live = Tables.events(spark, sf)
          .groupBy($"event_type").agg(approx_count_distinct($"user_id").as("u"))
          .orderBy("event_type")
        assert(!live.queryExecution.executedPlan.toString.contains("bmrollup"),
          "with substitution off, approx_count_distinct must stay live")
        assert(live.collect().toSeq == acdTruth)
      } finally spark.conf.unset("spark.graft.routing.estimatorSubstitution")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
    // hybrid: stale bitmap states ∪ live-tail bitmap ≡ full exact count
    val dayQ = () => Tables.events(spark, sf)
      .groupBy(to_date($"ts").as("day"), $"event_type")
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy("day", "event_type")
    val dayTruth = dayQ().collect().toSeq
    val hDir = java.nio.file.Files.createTempDirectory("graft_bmh")
      .resolve("bmrollup").toString
    val hSpec = Rollups.bitmapDaySpec(hDir)
    graft.ops.Rollups.writeRollupUpTo(
      Tables.events(spark, sf), hSpec, graft.ops.Rollups.HybridCutoffUs)
    RollupRouting.register(hSpec)
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      val hybrid = dayQ()
      val plan = hybrid.queryExecution.executedPlan.toString
      assert(plan.contains("bmrollup") && plan.contains("events.parquet"),
        s"hybrid must read states AND tail:\n$plan")
      assert(hybrid.collect().toSeq == dayTruth,
        "stale states ∪ tail must OR-union to the full exact count")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
    // JSON catalog round-trip (pattern member included): bare members
    // compare structurally; the ExprPat member re-parses from its SQL
    // rendering, so the invariant is the serialization fixed-point —
    // save(load(save(X))) is byte-identical — plus the reloaded
    // grainless spec still routing below
    val regDir = java.nio.file.Files.createTempDirectory("graft_bmreg")
    val reg = regDir.resolve("registry.json").toString
    val reg2 = regDir.resolve("registry2.json").toString
    val gSpec = Rollups.uniqBitmapSpec(dir + "_g")
    RollupRouting.register(hSpec)
    RollupRouting.register(gSpec)
    RollupRouting.saveRegistry(reg)
    val bareBefore = RollupRouting.registered.filter(_ == hSpec)
    RollupRouting.clear()
    RollupRouting.loadRegistry(spark, reg)
    assert(RollupRouting.registered.contains(hSpec) && bareBefore.nonEmpty,
      "the bare BitmapUniqOf spec must survive the JSON catalog round-trip")
    RollupRouting.saveRegistry(reg2)
    assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(reg)),
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(reg2))),
      "save∘load must be a fixed point for BitmapUniqOf catalogs (pattern incl.)")
    RollupRouting.clear()
    // appended partial blocks (two date-split deliveries) merge at
    // read; compaction via mergeColumnMap restores one row per group
    // without changing any answer
    val cDir = java.nio.file.Files.createTempDirectory("graft_bmc")
      .resolve("bmrollup").toString
    val cSpec = Rollups.bitmapDaySpec(cDir)
    val ev = Tables.events(spark, sf)
    // user-split deliveries guarantee every (day, type) group spans
    // both appended partial blocks — the merge-at-read regime
    RollupRouting.buildPartials(ev.filter(pmod($"user_id", lit(2)) === 0), cSpec)
      .write.mode("append").parquet(cDir)
    RollupRouting.buildPartials(ev.filter(pmod($"user_id", lit(2)) =!= 0), cSpec)
      .write.mode("append").parquet(cDir)
    RollupRouting.register(cSpec)
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      assert(q().collect().toSeq == truth,
        "split-delivery bitmap partials must merge to the exact counts")
      graft.ops.Rollups.compactRollup(spark, cSpec)
      assert(q().collect().toSeq == truth,
        "compaction must not change any routed answer")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  /** The hybrid check above, on the JOIN path: a day × segment bitmap
    * rollup over events⋈customer, stamped with a coverage watermark,
    * serves the distinct-users dashboard as rollup days before the
    * watermark ∪ a live-tail re-join that rebuilds the bitmap partial. */
  test("stamped join bitmap rollup serves hybrid: states ∪ live-tail re-join") {
    import RollupRouting.{BitmapUniqOf, JoinSpec, TimeGrainPat}
    val dir = java.nio.file.Files.createTempDirectory("graft_bmjh")
      .resolve("bmjoinrollup").toString
    val spec = JoinSpec(dir,
      tables = Set("events", "customer"),
      joinKeys = Set(("c_custkey", "user_id")),
      groupings = Map("c_mktsegment" -> "c_mktsegment"),
      aggs = Seq(BitmapUniqOf("user_id", "users_bm")),
      coverage = Some("ts_day"),
      timeGroupings = Seq(TimeGrainPat("day", "ts") -> "ts_day"))
    RollupRouting.buildJoinPartials(
        Map("events" -> Tables.events(spark, sf),
            "customer" -> Tables.customer(spark, sf)), spec)
      .write.parquet(dir)
    // a midnight inside the fixture's 2024-01 range
    RollupRouting.stampCoverage(dir,
      java.time.LocalDate.parse("2024-01-15").toEpochDay * 86400000000L)
    val q = () => Tables.events(spark, sf)
      .join(Tables.customer(spark, sf), $"user_id" === $"c_custkey")
      .groupBy(to_date($"ts").as("day"), $"c_mktsegment")
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy("day", "c_mktsegment")
    val live = q().collect().toSeq
    RollupRouting.registerJoin(spec)
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      val hybrid = q()
      val plan = hybrid.queryExecution.executedPlan.toString
      assert(plan.contains("bmjoinrollup") && plan.contains("events.parquet") &&
        hybrid.queryExecution.optimizedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union]),
        s"hybrid must read states AND a union'd tail:\n$plan")
      assert(hybrid.collect().toSeq == live,
        "stale states ∪ tail must OR-union to the live join's exact count")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  /** The multi-distinct inversion's REGULAR-aggregate leg: in Spark's
    * Expand+gid encoding, non-distinct aggregates arrive as
    * `first(x) FILTER (gid=0)` over an inner partial — the inversion
    * must inline and re-source the inner definition. Only counts had
    * exercised that path; this pins the decimal SUM leg (and the mix
    * of two distincts + sum + count in one dashboard) bit-equal. */
  test("multi-distinct inversion carries sums: 2 distincts + dsum + count route bit-equal") {
    import graft.plans.RollupRouting
    import graft.plans.RollupRouting._
    val dir = java.nio.file.Files.createTempDirectory("graft_bmsum")
      .resolve("bmsumrollup").toString
    val spec = Spec("events.parquet", dir, grain = "day", timeCol = "ts",
      keyCols = Map("event_type" -> "event_type"),
      aggs = Seq(
        BitmapUniqOf("user_id", "users_bm"),
        BitmapUniqOf(ExprPat(when($"value" > 2.0d, $"user_id")), "big_bm"),
        SumOf(ColRef("value"), "v_sum_p"),
        CountStarTo("c_p")))
    RollupRouting.buildPartials(Tables.events(spark, sf), spec).write.parquet(dir)
    val q = () => Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"),
           countDistinct(when($"value" > 2.0d, $"user_id")).as("n_big"),
           graft.ops.Fns.dsum($"value").as("volume"),
           count(lit(1)).as("n"))
      .orderBy("event_type")
    val truth = q().collect().toSeq
    RollupRouting.register(spec)
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      val routed = q()
      val plan = routed.queryExecution.executedPlan.toString
      assert(plan.contains("bmsumrollup") && !plan.contains("events.parquet"),
        s"the mixed multi-distinct dashboard must route whole:\n$plan")
      assert(routed.collect().toSeq == truth,
        "distincts, the exact-decimal sum, and the count must all be bit-equal")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  test("grainless bitmap spec: uniqExactIf routes; different predicate stays live") {
    import graft.ops.Rollups
    val dir = java.nio.file.Files.createTempDirectory("graft_bmg")
      .resolve("bmgrainless").toString
    val spec = Rollups.uniqBitmapSpec(dir)
    RollupRouting.buildPartials(Tables.events(spark, sf), spec).write.parquet(dir)
    val q = () => Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"),
           countDistinct(when($"value" > 2.0d, $"user_id")).as("n_big"),
           count(lit(1)).as("n"))
      .orderBy("event_type")
    val truth = q().collect().toSeq
    RollupRouting.register(spec)
    spark.experimental.extraOptimizations = Seq(new RollupRouting.RuleImpl(spark))
    try {
      val routed = q()
      val plan = routed.queryExecution.executedPlan.toString
      assert(plan.contains("bmgrainless") && !plan.contains("events.parquet"),
        s"uniqExact + uniqExactIf must both read the grainless bitmap states:\n$plan")
      assert(routed.collect().toSeq == truth)
      // near miss: a DIFFERENT predicate is a different conditional
      // set — must stay live, never silently serve the wrong state
      val other = Tables.events(spark, sf)
        .groupBy($"event_type")
        .agg(countDistinct(when($"value" > 3.0d, $"user_id")).as("n_big"))
      assert(other.queryExecution.executedPlan.toString.contains("events.parquet"),
        "a different predicate must not route onto the registered pattern state")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }
}
