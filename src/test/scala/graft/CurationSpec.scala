package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{Dedup, Sampling, TextOps}
import graft.ops.{StarJoins, Windows}

/** Invariants for the round-2 curation operators: deterministic
  * sampling/splitting, PII scrubbing, near-dup connected components,
  * window frames, TF-IDF, reconciliation. */
class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf

  test("hash sampling is deterministic and approximately at rate") {
    val a = Sampling.bernoulliSample(spark, sf).select("doc_id").as[Long].collect()
    val b = Sampling.bernoulliSample(spark, sf).select("doc_id").as[Long].collect()
    assert(a.sameElements(b)) // pure function of the key: re-runs identical
    val total = Tables.documents(spark, sf).count().toDouble
    val rate = a.length / total // nominal 26/256 ≈ 10.2%
    assert(rate > 0.04 && rate < 0.20)
  }

  test("train/test split partitions the corpus exactly") {
    val split = Sampling.trainTestSplit(spark, sf)
    val n = split.agg(sum($"n_docs")).head.getLong(0)
    assert(n == Tables.documents(spark, sf).count())
    // both splits non-empty, and the split is per-key so re-aggregation
    // over lang must reproduce the same totals
    val bySplit = split.groupBy($"split").agg(sum($"n_docs").as("n"))
      .as[(String, Long)].collect().toMap
    assert(bySplit.keySet == Set("train", "test") && bySplit.values.forall(_ > 0))
  }

  test("stratified sample keeps every purchase/error and downsamples views") {
    val r = Sampling.stratifiedEvents(spark, sf)
      .select($"event_type", $"n_total", $"n_sampled").as[(String, Long, Long)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r("purchase")._1 == r("purchase")._2) // keep-all strata
    assert(r("error")._1 == r("error")._2)
    assert(r("view")._2 < r("view")._1 / 4) // nominal 5.1% of views
  }

  test("weighted sampling rate tracks the mean quality weight") {
    val rows = Sampling.weightedSample(spark, sf)
      .select($"n_docs", $"n_kept", $"avg_ratio", $"rate")
      .as[(Long, Long, Double, Double)].collect()
    val (n, kept) = (rows.map(_._1).sum, rows.map(_._2).sum)
    val meanRatio = rows.map(r => r._3 * r._1).sum / n
    assert(kept > 0 && kept < n)
    // keep-probability equals the per-doc weight, so the corpus-level
    // rate concentrates near the mean ratio
    assert(math.abs(kept.toDouble / n - meanRatio) < 0.15)
  }

  test("pii scrub redacts planted emails, phones and digit runs") {
    val planted = Seq((1L, "contact bob.smith+x@corp.example.org or 555-867-5309 ref 123456"))
      .toDF("doc_id", "text")
    val clean = TextOps.piiRules.foldLeft(col("text")) { case (c, (re, repl)) =>
      regexp_replace(c, re, repl)
    }
    val out = planted.select(clean.as("clean")).head.getString(0)
    assert(out == "contact <EMAIL> or <PHONE> ref <NUM>")
  }

  test("connected components propagate labels across chains") {
    // chain 1-2-3-4 (needs multi-round propagation) + disjoint pair 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    val comps = Dedup.componentsOf(edges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(n => comps(n) == (1L, 4L)))
    assert(Seq(10L, 11L).forall(n => comps(n) == (10L, 2L)))
  }

  test("self-loops are ignored identically on both clustering paths") {
    // a (v, v) edge is not a duplication relation: node 7 must be
    // absent from the output whichever internal algorithm runs
    val edges = Seq((7L, 7L), (1L, 2L)).toDF("a_id", "b_id")
    val viaProp = Dedup.componentsOf(edges)
      .as[(Long, Long, Long)].collect().toSet
    val viaStar = Dedup.componentsOf(edges, propagationBudget = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(viaProp == Set((1L, 1L, 2L), (2L, 1L, 2L)))
    assert(viaStar == viaProp)
  }

  test("1000-node chain converges via the large-star/small-star fallback") {
    // diameter 999 >> any propagation budget: plain min-label would need
    // 999 rounds; the star fallback must finish in O(log² n). The small
    // budget only makes the fallback trigger sooner — the fallback path
    // is identical at the default budget.
    val edges = (0L until 999L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val comps = Dedup.componentsOf(edges, propagationBudget = 2)
      .as[(Long, Long, Long)].collect()
    assert(comps.length == 1000)
    assert(comps.forall { case (_, comp, size) => comp == 0L && size == 1000L })
  }

  test("star labels equal propagation labels on a mixed random graph") {
    val rnd = new scala.util.Random(42)
    // forest of cliques + a few chains — the realistic near-dup shapes
    val edges = (
      (0 until 40).flatMap { c => // cliques of 3 on ids [c*10, c*10+2]
        val base = c * 10L
        Seq((base, base + 1), (base + 1, base + 2), (base, base + 2))
      } ++
      (0 until 200).map { _ => // random extra edges merging some cliques
        val a = rnd.nextInt(400).toLong; val b = rnd.nextInt(400).toLong
        (a, b)
      }.filter { case (a, b) => a != b }
    ).toDF("a_id", "b_id")
    val viaProp = Dedup.componentsOf(edges, propagationBudget = 64)
      .as[(Long, Long, Long)].collect().toSet
    val viaStar = Dedup.componentsOf(edges, propagationBudget = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(viaProp == viaStar)
  }

  test("clustering matches a driver-side union-find ground truth") {
    // independent oracle: the two distributed algorithms agreeing can't
    // hide a shared systematic bug — union-find on the driver can
    val rnd = new scala.util.Random(7)
    val n = 500
    val edgeList = (0 until 600)
      .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    // union-by-min: the class root is always the minimum member id —
    // exactly componentsOf's canonical-label contract
    edgeList.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val touched = edgeList.flatMap { case (a, b) => Seq(a.toInt, b.toInt) }.distinct
    val byRoot = touched.groupBy(find)
    val expected = byRoot.flatMap { case (root, members) =>
      members.map(m => (m.toLong, root.toLong, members.length.toLong))
    }.toSet
    for (budget <- Seq(64, 0)) { // both internal algorithms vs the truth
      val got = Dedup.componentsOf(edgeList.toDF("a_id", "b_id"), budget)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == expected, s"mismatch at propagationBudget=$budget")
    }
  }

  test("near-dup clusters have size >= 2 and canonical = min member") {
    val df = Dedup.connectedComponents(spark, sf)
    val rows = df.as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty) // the corpus has planted near-dups
    assert(rows.forall(_._3 >= 2)) // singletons excluded by construction
    val byComp = rows.groupBy(_._2)
    byComp.foreach { case (comp, members) =>
      assert(members.map(_._1).min == comp) // label = min reachable id
      assert(members.length == members.head._3)
    }
  }

  test("minhash-LSH components obey the same cluster algebra") {
    val rows = Dedup.minhashComponents(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty) // planted near-dups collide in bands
    assert(rows.forall(_._3 >= 2))
    rows.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.map(_._1).min == comp)
    }
  }

  test("7-day moving average starts at the day value and stays in range") {
    val rows = Windows.movingAvg7d(spark, sf)
      .groupBy($"user_id").agg(
        first($"ma7").as("first_ma"), first($"day_value").as("first_v"))
      .as[(Long, Double, Double)].collect()
    rows.foreach { case (_, firstMa, firstV) =>
      assert(math.abs(firstMa - firstV) < 1e-9) // frame of size 1 on day 1
    }
  }

  test("ntile quartiles are balanced and percent_rank is in [0,1]") {
    val rows = Windows.ntileVolumes(spark, sf)
      .select($"quartile", $"pct_rank").as[(Int, Double)].collect()
    val sizes = rows.groupBy(_._1).view.mapValues(_.length).toMap
    assert(sizes.keySet == Set(1, 2, 3, 4))
    assert(sizes.values.max - sizes.values.min <= 1)
    assert(rows.forall(r => r._2 >= 0.0 && r._2 <= 1.0))
  }

  test("first/last value match the min/max-day rows per user") {
    val df = Windows.firstLastDaily(spark, sf)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
    val bad = df
      .withColumn("minday_v", first($"day_value")
        .over(w.orderBy($"day"))) // recompute independently
      .filter($"first_v" =!= $"minday_v")
    assert(bad.count() == 0)
    val lastBad = df.groupBy($"user_id")
      .agg(max($"day").as("maxday"), first($"last_v").as("lv"))
      .join(df, Seq("user_id"))
      .filter($"day" === $"maxday" && $"day_value" =!= $"lv")
    assert(lastBad.count() == 0)
  }

  test("tfidf emits at most 3 ranked terms per doc with positive scores") {
    val rows = TextOps.tfidfTopTerms(spark, sf)
      .select($"doc_id", $"rnk", $"score").as[(Long, Int, Double)].collect()
    assert(rows.forall(r => r._2 >= 1 && r._2 <= 3 && r._3 > 0.0))
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._2).sorted.sameElements(1 to g.length))
    }
  }

  test("native session_window sessions partition events with >=30min separation") {
    val s = Windows.sessionizeNative(spark, sf)
    // no event lost or duplicated across sessions
    assert(s.agg(sum($"n_events")).head.getLong(0) ==
      Tables.events(spark, sf).count())
    // consecutive sessions of a user are separated by at least the gap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"first_ts")
    val tooClose = s
      .withColumn("prev_end", lag($"last_ts", 1).over(w))
      .filter($"prev_end".isNotNull &&
        unix_micros($"first_ts") - unix_micros($"prev_end") < 1800L * 1000000L)
    assert(tooClose.count() == 0)
  }

  test("topK sketch is exact below capacity and its merge path agrees") {
    // at test cardinality (#users << sketch width) the frequent-items
    // sketch must be exact: same items, same counts as the exact top-k
    val sketch = ops.Rollups.topUsersSketch(spark, sf)
      .select($"user_id", $"est_count").as[(Long, Long)].collect().toMap
    // exact FREQUENCY top-10 (q08 ranks by volume, the sketch by count)
    val exact = Tables.events(spark, sf)
      .groupBy($"user_id").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"user_id").limit(10)
      .as[(Long, Long)].collect().toMap
    assert(sketch == exact)
    // mergeable state: per-partition accumulate + combine == one-shot
    val merged = Tables.events(spark, sf)
      .groupBy(expr("user_id % 4").as("p"))
      .agg(expr("approx_top_k_accumulate(user_id, 1024)").as("s"))
      .agg(expr("approx_top_k_estimate(approx_top_k_combine(s), 10)").as("tk"))
      .select(explode($"tk").as("e"))
      .select($"e.item".as[Long], $"e.count".as[Long]).collect().toMap
    assert(merged == sketch)
  }

  test("streamed topK sketch partials merge to the batch per-day top users") {
    val dir = ops.StarJoins.scratchTemp("graft_topk").toString
    graft.streaming.Live.maintainRollup(
      Tables.normalizeTs(TestSpark.fileStream(sf, "events.parquet")),
      ops.Rollups.topKSketchSpec(s"$dir/rollup"))
    val merged = spark.read.parquet(s"$dir/rollup")
      .groupBy($"day")
      .agg(expr("approx_top_k_estimate(approx_top_k_combine(top_users_state), 10)").as("tk"))
      .select($"day".cast("string").as("day"), explode($"tk").as("e"))
      .select($"day", $"e.item".as("user_id"), $"e.count".as("est_count"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    // exact at fixture cardinality: per-day counts from the batch path
    val batch = Tables.events(spark, sf)
      .groupBy(to_date($"ts").cast("string").as("day"), $"user_id")
      .agg(count(lit(1)).as("c"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    assert(merged.nonEmpty)
    merged.foreach { case (day, topk) =>
      topk.foreach { case (user, est) => assert(batch(day)(user) == est) }
    }
  }

  test("sql surface: a registered view runs the daily rollup as plain SQL") {
    Tables.events(spark, sf).createOrReplaceTempView("events_v")
    val sqlRes = spark.sql(
      """SELECT CAST(ts AS DATE) AS day, user_id,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
         COUNT(*) AS tx_count
         FROM events_v GROUP BY 1, 2""")
    val api = ops.Rollups.daily(spark, sf)
    assert(sqlRes.count() == api.count())
    assert(sqlRes.exceptAll(api.select(sqlRes.columns.map(col): _*)).count() == 0)
  }

  test("variant props extraction is invisible vs string-path json") {
    val v = ops.Rollups.propsVariant(spark, sf)
    val j = ops.Rollups.propsJson(spark, sf)
    assert(v.exceptAll(j).count() == 0 && j.exceptAll(v).count() == 0)
  }

  test("groupUniqArray csv length matches its distinct count") {
    val rows = ops.Rollups.groupUniqArray(spark, sf)
      .select($"users", $"n_users").as[(String, Long)].collect()
    rows.foreach { case (csv, n) =>
      assert(csv.split(",").length.toLong == n)
      assert(csv.split(",").map(_.toLong).sorted.sameElements(csv.split(",").map(_.toLong)))
    }
  }

  test("published corpus lake prunes on split and matches the stats query") {
    val out = ops.StarJoins.scratchTemp("graft_pub").toString
    llm.Curate.publish(spark, sf, out)
    val lake = spark.read.parquet(out)
    // readback totals match the oracled stats query exactly
    val fromLake = lake.groupBy($"lang", $"split").count()
      .as[(String, String, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val fromStats = llm.Curate.curateFull(spark, sf)
      .select($"lang", $"split", $"n_docs").as[(String, String, Long)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(fromLake == fromStats)
    // split predicate prunes at the partition level, not the row level
    val plan = lake.filter($"split" === "train").queryExecution
      .executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(split"))
  }

  test("full curation pipeline never keeps more than the simple capstone") {
    // q72 dedups on SCRUBBED text: redaction is many-to-one, so it can
    // only merge more duplicates than the raw-text dedup in q57
    val full = llm.Curate.curateFull(spark, sf)
      .groupBy($"lang").agg(sum($"n_docs").as("n"))
      .as[(String, Long)].collect().toMap
    val simple = llm.Curate.curatedStats(spark, sf)
      .select($"lang", $"n_docs").as[(String, Long)].collect().toMap
    simple.foreach { case (lang, n) =>
      assert(full.getOrElse(lang, 0L) <= n)
      assert(full.getOrElse(lang, 0L) > 0)
    }
  }

  test("gate+scrub runs identically under structured streaming") {
    val schema = Tables.documents(spark, sf).schema
    val streamIn = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf)
    val q = llm.Curate.gateAndScrub(streamIn)
      .select($"doc_id", $"clean")
      .writeStream.format("memory").queryName("scrub_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = spark.table("scrub_stream")
      .as[(Long, String)].collect().sortBy(_._1)
    val batch = llm.Curate.gateAndScrub(Tables.documents(spark, sf))
      .select($"doc_id", $"clean")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(streamed.nonEmpty && streamed.sameElements(batch))
  }

  test("contamination flags stream identically and agree with the ranked queue") {
    val bench = Dedup.benchShingleSet(spark, sf)
    assert(bench.nonEmpty)
    // batch flags
    val batchFlags = Dedup.contaminationFlags(Tables.documents(spark, sf), bench)
      .as[(Long, Boolean)].collect().sortBy(_._1)
    // identical under structured streaming (stateless per-doc map)
    val schema = Tables.documents(spark, sf).schema
    val streamIn = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf)
    val q = Dedup.contaminationFlags(streamIn, bench)
      .writeStream.format("memory").queryName("contam_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = spark.table("contam_stream")
      .as[(Long, Boolean)].collect().sortBy(_._1)
    assert(streamed.nonEmpty && streamed.sameElements(batchFlags))
    // every doc the ranked queue (q79) reports as contaminated is flagged,
    // and benchmark docs themselves trivially self-flag
    val flagged = batchFlags.filter(_._2).map(_._1).toSet
    val queue = Dedup.decontaminate(spark, sf)
      .as[(Long, Long)].collect()
    assert(queue.forall { case (id, n) => n > 0 && flagged.contains(id) })
    val benchDocs = batchFlags.filter(_._1 % 97 == 0)
    assert(benchDocs.forall(_._2)) // benchmark docs contain their own shingles
  }

  test("shares of total sum to one") {
    val shares = ops.Windows.shareOfTotal(spark, sf)
      .select($"share").as[Double].collect()
    assert(shares.forall(s => s > 0.0 && s < 1.0))
    assert(math.abs(shares.sum - 1.0) < 1e-9)
  }

  test("salted join is row-equivalent to the plain join under a hot key") {
    val probe = ((1 to 500).map(_ => (7L, "hot")) ++
      (1 to 50).map(i => (i.toLong % 5, "cold"))).toDF("k", "side")
    // duplicate build keys: multiplicity must be preserved exactly
    val build = Seq((7L, "a"), (7L, "b"), (2L, "c"), (9L, "d")).toDF("k", "tag")
    val plain = probe.join(build, "k")
      .select($"k", $"side", $"tag").as[(Long, String, String)].collect().sorted
    val salted = ops.Skew.saltedJoin(probe, build, "k", buckets = 4)
      .select($"k", $"side", $"tag").as[(Long, String, String)].collect().sorted
    assert(salted.sameElements(plain))
  }

  test("robust json ingest quarantines corrupt rows without losing any") {
    val payloads = Seq(
      (1L, """{"k": 5, "tag": "a"}"""),
      (2L, """{"k": 7, "tag": "b"}"""),
      (3L, """{"k": BROKEN"""),
      (4L, """not json at all"""),
      (5L, null.asInstanceOf[String])).toDF("id", "payload")
    val (good, bad) = ops.Ingest.robustJsonIngest(payloads, "payload", "k INT, tag STRING")
    // NULL payloads quarantine — they must not pass as all-null "good"
    assert(good.count() == 2 && bad.count() == 3)
    assert(good.select(sum($"k")).head.getLong(0) == 12L)
    // quarantine keeps the raw payload for replay
    assert(bad.columns.contains("payload"))
    assert(good.count() + bad.count() == payloads.count())
  }

  test("observation metrics meter the scan that does the work") {
    val (df, obs) = ops.Monitoring.observedDaily(spark, sf)
    val out = df.collect() // the action that materializes the metrics
    val m = obs.get
    val ev = Tables.events(spark, sf)
    assert(m("rows_scanned") == ev.count())
    assert(m("null_users") == 0L)
    val direct = ev.agg(ops.Fns.dsum($"value")).head.getDouble(0)
    assert(m("value_total") == direct) // exact decimal routing, bit-equal
    assert(out.nonEmpty)
  }

  test("table footprint reports every registered table with true byte totals") {
    val rows = ops.Monitoring.tableFootprint(spark, sf)
      .as[(String, Long, Long, Double, String)].collect()
    // every registered table exists in the fixture dir and reports files
    assert(rows.map(_._1).sorted.toSeq == Tables.names.sorted)
    assert(rows.forall { case (_, nFiles, bytes, avgB, _) =>
      nFiles >= 1 && bytes > 0 && avgB > 0 })
    // byte totals are the filesystem truth, not an estimate
    val lineitemBytes = rows.find(_._1 == "lineitem").get._3
    assert(lineitemBytes ==
      new java.io.File(s"$sf/lineitem.parquet").length())
    // rendering is the same codegen'd expression the SQL surface exposes
    val r = rows.find(_._1 == "lineitem").get._5
    assert(r == graft.expr.FormatReadableSize.format(lineitemBytes.toDouble))
    // ordered by size desc — the monitoring report contract
    assert(rows.map(_._3).toSeq == rows.map(_._3).sortBy(-_).toSeq)
  }

  test("reconciliation covers every order key exactly once") {
    val recon = StarJoins.reconcileOrders(spark, sf)
    val covered = recon.agg(sum($"n_orders")).head.getLong(0)
    val keys = Tables.orders(spark, sf).select($"o_orderkey".as("k"))
      .union(Tables.lineitem(spark, sf).select($"l_orderkey".as("k")))
      .distinct().count()
    assert(covered == keys)
  }
}
