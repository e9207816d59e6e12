package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{Advisor, RollupRouting}
import graft.plans.RollupRouting._
import graft.ops.Rollups

/** The registry members ([[RollupRouting.AggMap]]) each define their
  * build, merge, hybrid tail, read, source refs, JSON codec and dedupe
  * key once. These cases hold every member to those pieces together:
  * a seeded property over random events, the persisted-catalog format
  * (a golden document), and the advisor paths that key members. */
class RegistryMemberSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `f` over an empty registry of the test session, restored after. */
  private def withRegistry[A](f: => A): A = {
    spark.sparkContext // the registry lives in the session: start it first
    RollupRouting.keepingRegistry { RollupRouting.clear(); f }
  }

  private def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")

  // ——— the seeded property ———

  private val gt50 = col("value") > 50
  /** One instance of every member kind; [[liveOf]]'s exhaustive match
    * makes a member kind left out of this spec a compile error. */
  private val members: Seq[AggMap] = Seq(
    SumOf(ColRef("value"), "value_sum_p"),
    CountStarTo("cnt_p"),
    CountOf(ExprPat(when(gt50, lit(1))), "c50_p"),
    CountDistinctGrain("user_id"),
    MinOf("value", "value_min_p"),
    MaxOf("value", "value_max_p"),
    AvgOf("value", "value_sum_p", "value_cnt_p"),
    HllUniqOf(ColRef("user_id"), "user_id_hll_p", 12),
    KllQuantileOf(ColRef("value"), "value_kll_p", 200),
    TopKOf(ColRef("event_type"), "event_type_topk_p", 100),
    SetOf(ColRef("event_type"), "event_type_set_p"),
    UniqUpToOf(ColRef("event_type"), "event_type_upto_p", 2),
    BitmapUniqOf(ColRef("user_id"), "user_id_bm_p"),
    ThetaUniqOf(ColRef("user_id"), "user_id_theta_p", 12),
    ListOf(ExprPat(when(gt50, col("value"))), "seq_p"),
    TopKWeightedOf(ColRef("user_id"),
      ExprPat(round(col("value") * 100).cast("long")), "tkw_p", 64),
    MinPatOf(ExprPat(struct(col("value"), col("event_id"))), "argmin_p"),
    MaxPatOf(ExprPat(struct(col("value"), col("event_id"))), "argmax_p"),
    DeltaSumOf(ColRef("value"), Seq("ts", "event_id"), "ds_p"),
    MaxPrefixOf(ColRef("user_id"), Seq("ts", "event_id"), "mp_p"))

  private def measure(p: SrcPat): Column = p match {
    case ColRef(n) => col(n)
    case OneMinusProduct(a, b) => col(a) * (lit(1.0d) - col(b))
    case ExprPat(e) => Bridge.column(e)
  }

  /** The live aggregate a member answers — the read shape the advisor
    * mints it from — or None for the rebuild-only series states, whose
    * reads are explicit state folds. */
  private def liveOf(m: AggMap): Option[Column] = m match {
    case SumOf(p, _) => Some(sum(measure(p).cast("decimal(38,6)")))
    case CountStarTo(_) => Some(count(lit(1)))
    case CountOf(p, _) => Some(count(measure(p)))
    case CountDistinctGrain(g) => Some(countDistinct(col(g)))
    case MinOf(c, _) => Some(min(col(c)))
    case MaxOf(c, _) => Some(max(col(c)))
    case AvgOf(c, _, _) => Some(avg(col(c).cast("decimal(38,6)")))
    case HllUniqOf(p, _, k) => Some(hll_sketch_estimate(hll_sketch_agg(measure(p), k)))
    case KllQuantileOf(p, _, k) => Some(graft.expr.Kll.quantile(graft.expr.Kll.agg(measure(p), k), 0.5))
    case TopKOf(p, _, n) =>
      Some(sort_array(call_function("approx_top_k", measure(p), lit(5), lit(n))))
    case SetOf(p, _) => Some(sort_array(collect_set(measure(p))))
    case UniqUpToOf(p, _, n) => Some(least(countDistinct(measure(p)), lit((n + 1).toLong)))
    case BitmapUniqOf(p, _) => Some(graft.expr.Bmp.count(graft.expr.Bmp.agg(measure(p))))
    case ThetaUniqOf(p, _, k) => Some(graft.expr.Tht.estimate(graft.expr.Tht.agg(measure(p), k)))
    case ListOf(p, _) => Some(sort_array(collect_list(measure(p))))
    case TopKWeightedOf(i, w, _, n) =>
      Some(graft.expr.TkW.topK(graft.expr.TkW.agg(measure(i), measure(w), n), 5))
    case MinPatOf(p, _) => Some(min(measure(p)))
    case MaxPatOf(p, _) => Some(max(measure(p)))
    case DeltaSumOf(_, _, _) | MaxPrefixOf(_, _, _) => None
  }

  /** Random events over four days: few users and types (so groups
    * merge across files), 2-decimal values with some NULLs. */
  private val eventsGen = Gen.listOfN(90, Gen.zip(Gen.chooseNum(0, 3),
    Gen.chooseNum(0L, 86399L), Gen.chooseNum(1L, 6L),
    Gen.frequency(1 -> Gen.const(Option.empty[Double]),
      9 -> Gen.chooseNum(0.0, 100.0).map(v => Some(math.rint(v * 100) / 100))),
    Gen.oneOf("a", "b", "c")))

  private def writeEvents(rows: List[(Int, Long, Long, Option[Double], String)]): String = {
    val path = s"${tmp("graft_members")}/events.parquet"
    rows.zipWithIndex.map { case ((d, s, u, v, t), i) =>
      (new java.sql.Timestamp((1704067200L + d * 86400L + s) * 1000L), u, i.toLong, v, t)
    }.toDF("ts", "user_id", "event_id", "value", "event_type").write.parquet(path)
    path
  }

  /** The routed KLL median must sit within the sketch's rank error of
    * the true median of each day's values. */
  private def withinRankError(values: Seq[Double], est: Double, k: Int): Boolean = {
    val n = values.size.toDouble
    val lo = values.count(_ < est) / n
    val hi = values.count(_ <= est) / n
    lo <= 0.5 + kllRankError(k) && hi >= 0.5 - kllRankError(k)
  }

  test("property: every member builds, compacts, routes like its live aggregate, " +
       "round-trips its codec and re-mints from its read shape") {
    for (rows <- samples(eventsGen, 2)) {
      val src = writeEvents(rows)
      val events = spark.read.parquet(src)
      for (m <- members) {
        val spec = Spec(src, tmp("graft_member_mv"), "day", "ts",
          Map("user_id" -> "user_id"),
          if (m.partials.isEmpty) Seq(m, CountStarTo("cnt_p")) else Seq(m))
        // two appended builds leave several partial rows per group
        for (half <- Seq(0, 1))
          RollupRouting.buildPartials(events.filter($"event_id" % 2 === half), spec)
            .write.mode("append").parquet(spec.rollupPath)
        liveOf(m) match {
          case None =>
            val e = intercept[IllegalArgumentException](Rollups.compactRollup(spark, spec))
            assert(e.getMessage.contains("rebuild-only"), e.getMessage)
          case Some(agg) =>
            Rollups.compactRollup(spark, spec)
            val q = () => events.groupBy(to_date($"ts").as("day")).agg(agg.as("a")).orderBy("day")
            val live = q()
            val routed = RollupRouting.route(spark, Catalog(Seq(spec)))(live)
            assert(!(routed eq live), s"$m must route its own read shape")
            m match {
              case KllQuantileOf(_, _, k) =>
                val byDay = rows.collect { case (d, _, _, Some(v), _) => d -> v }
                  .groupBy(_._1).map { case (d, vs) => d -> vs.map(_._2) }
                routed.collect().foreach { r =>
                  val d = (r.getDate(0).toLocalDate.toEpochDay - 19723L).toInt
                  assert(if (r.isNullAt(1)) !byDay.contains(d)
                         else withinRankError(byDay(d), r.getDouble(1), k), s"$m day $d: $r")
                }
              case _ =>
                assert(routed.collect().toSeq == live.collect().toSeq, m)
            }
            // the advisor mints the member back from its read shape
            val advice = Advisor.advise(Seq(q()), tmp("graft_member_advice"))
            assert(advice.singles.flatMap(_.spec.aggs).exists(_.key == m.key),
              s"$m: advised ${advice.singles.map(_.spec.aggs)} ${advice.skipped}")
        }
        // the codec round-trips through the persisted catalog: the same
        // fields back (an ExprPat re-parses from its SQL, so it compares
        // by the router's own pattern equality), and a re-save of the
        // loaded catalog is byte-identical
        val saved = s"${tmp("graft_member_codec")}/registry.json"
        withRegistry {
          RollupRouting.register(spec)
          RollupRouting.saveRegistry(saved)
          RollupRouting.clear()
          RollupRouting.loadRegistry(spark, saved)
          val back = RollupRouting.registered.head.aggs.head
          assert(back.codec == m.codec && back.fields.map(_._1) == m.fields.map(_._1) &&
            back.fields.zip(m.fields).forall {
              case ((_, Pat(b: ExprPat)), (_, Pat(a: ExprPat))) => b.matchesOrdered(a.expr)
              case (b, a) => b == a
            }, s"$m reloaded as $back")
          RollupRouting.saveRegistry(s"$saved.again")
          assert(read(s"$saved.again") == read(saved), m)
        }
      }
    }
  }

  // ——— the persisted format ———

  /** The catalog a build before members defined their own codecs
    * saved: every member kind and pattern kind, plus one pre-r15
    * bare-"col" entry. Loading and re-saving it must reproduce that
    * build's own re-save byte for byte. */
  test("a golden catalog with every member kind loads and re-saves byte-identically") {
    def resource(n: String): String =
      java.nio.file.Paths.get(getClass.getResource(s"/registry/$n").toURI).toString
    val out = s"${tmp("graft_golden")}/registry.json"
    withRegistry {
      RollupRouting.loadRegistry(spark, resource("golden_catalog.json"))
      assert(RollupRouting.registered.flatMap(_.aggs).exists {
        case HllUniqOf(ColRef("event_type"), _, 10) => true; case _ => false },
        "the bare-\"col\" entry loads as a ColRef")
      RollupRouting.saveRegistry(out)
    }
    assert(read(out) == read(resource("golden_catalog.saved.json")))
  }

  test("a joinKeys entry that is not a pair is refused with the file and the entry") {
    val path = s"${tmp("graft_badcat")}/registry.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      """{"singles": [], "joins": [{"rollupPath": "/mv/x", "tables": ["orders", "customer"],
        |  "joinKeys": [["c_custkey"]], "groupings": {}, "aggs": [], "grainCols": {},
        |  "timeGroupings": []}]}""".stripMargin.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](RollupRouting.loadRegistry(spark, path))
    assert(e.getMessage.contains(path) && e.getMessage.contains("""["c_custkey"]"""),
      e.getMessage)
  }

  test("a capture whose joinKeys entry is not a pair is refused with the file and the entry") {
    val path = s"${tmp("graft_badcap")}/workload.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      s"""{"demands": [{"kind": "join",
        |  "tables": [{"name": "orders", "path": "$sf/orders.parquet"},
        |             {"name": "customer", "path": "$sf/customer.parquet"}],
        |  "joinKeys": [["c_custkey", "o_custkey", "o_orderkey"]], "groupings": [],
        |  "grainKeys": [], "timeKeys": [], "aggs": []}]}""".stripMargin.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](Advisor.retireCandidates(spark, path))
    assert(e.getMessage.contains(path) &&
           e.getMessage.contains("""["c_custkey","o_custkey","o_orderkey"]"""), e.getMessage)
  }

  // ——— the advisor keys every member ———

  /** The rebuild-only series members are keyed like every other member:
    * with their specs registered, the capture-driven advisor paths match
    * demands against them instead of failing. */
  test("retireCandidates and skipServed advice key the series-state specs") {
    val base = tmp("graft_series_keys")
    val log = s"$base/workload.json"
    val perUserDay = Tables.events(spark, sf)
      .groupBy(to_date($"ts").as("day"), $"user_id").agg(count(lit(1)).as("n"))
    val perType = Tables.events(spark, sf)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    Advisor.captureWorkload(Seq(perUserDay, perType), log)
    val delta = graft.ops.Windows.deltaSumSpec(s"$base/delta")
    val sweep = graft.ops.Windows.sweepPeakSpec(s"$base/sweep")
    withRegistry {
      RollupRouting.register(delta)
      RollupRouting.register(sweep)
      // the delta spec's row count serves the per-(day, user) demand;
      // nothing the log demands reads the sweep spec
      assert(Advisor.retireCandidates(spark, log).map(_._1) == Seq(sweep.rollupPath))
      val advice = Advisor.adviseCaptured(spark, log, s"$base/mv", skipServed = true)
      assert(advice.skipped.count(_.contains(s"already served by registered spec ${delta.rollupPath}")) == 1,
        advice.skipped)
      assert(advice.singles.map(_.spec.keyCols.keySet) == Seq(Set("event_type")), advice)
    }
  }
}
