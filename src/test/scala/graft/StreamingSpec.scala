package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Live
import graft.ops.Lifecycle
import graft.plans.RollupRouting

/** Streaming semantics (T1–T6) + lifecycle jobs (S11/P1/P2). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf

  /** A fresh `graft_<prefix>*` dir under this JVM's scratch root,
    * which the JVM removes at exit. */
  private def tempDir(prefix: String): String = ops.StarJoins.scratchTemp(prefix).toString

  /** The events under `path` (a file or a dir of part files) as a
    * file stream, one file per micro-batch. */
  private def eventStream(path: String): DataFrame = {
    val f = new java.io.File(path)
    val reader = spark.readStream.schema(spark.read.parquet(path).schema)
      .option("maxFilesPerTrigger", "1")
    Tables.normalizeTs(
      if (f.isDirectory) reader.parquet(path)
      else reader.option("pathGlobFilter", f.getName).parquet(f.getParent))
  }

  /** The number of micro-batches with input that `f`'s drains ran. */
  private def batchesWithInput(f: => Unit): Int = {
    val n = new AtomicInteger(0)
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) n.incrementAndGet()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    try f finally spark.streams.removeListener(l)
    n.get
  }

  test("T5: availableNow streaming rollup equals the batch rollup") {
    val streamed = Live.streamingDaily(spark, sf).collect().toSeq
    val batch = graft.ops.Rollups.daily(spark, sf).collect().toSeq
    assert(streamed == batch)
  }

  test("T5/A6: foreachBatch partial-state appends re-aggregate to batch truth") {
    val dir = tempDir("graft_rollup")
    Live.maintainRollup(eventStream(s"$sf/events.parquet"),
      RollupRouting.Spec("events.parquet", s"$dir/rollup"))
    val merged = Live.readDailyRollup(spark, s"$dir/rollup").collect().toSeq
    val batch = graft.ops.Rollups.daily(spark, sf).collect().toSeq
    assert(merged == batch)
  }

  test("T5: per-file micro-batches accumulate partials that merge to batch truth") {
    // multi-file ingest dir → one micro-batch per file (sf0.001 spans a
    // single month, so split by file count rather than partition key)
    val lake = tempDir("graft_lake3")
    Tables.events(spark, sf).repartition(3)
      .write.mode("overwrite").parquet(lake)
    val dir = tempDir("graft_inc")
    val nBatches = batchesWithInput(Live.maintainRollup(eventStream(lake),
      RollupRouting.Spec("events.parquet", s"$dir/rollup")))
    assert(nBatches > 1, s"expected multiple micro-batches, got $nBatches")
    val merged = Live.readDailyRollup(spark, s"$dir/rollup")
      .withColumn("day", $"day".cast("date"))
      .collect().map(r => (r.get(0).toString, r.get(1), r.getDouble(2), r.getLong(3))).toSet
    val batch = graft.ops.Rollups.daily(spark, sf)
      .select($"day", $"user_id", $"total_value", $"tx_count")
      .collect().map(r => (r.get(0).toString, r.get(1), r.getDouble(2), r.getLong(3))).toSet
    assert(merged == batch)
  }

  test("T5: streaming insert-maintenance of the join MV equals the live 3-table join") {
    val streamed = Live.streamingRevenueSegment(spark, sf).collect().toSeq
    val batch = graft.ops.StarJoins.revenueBySegment(spark, sf).collect().toSeq
    assert(streamed == batch)
  }

  /** T5+hybrid: a streaming-maintained rollup whose last day is RAGGED
    * (drain stopped mid-day) must still read exactly — the coverage
    * watermark excludes the ragged day from the rollup side and the
    * hybrid router serves it from the raw tail. Equality with the full
    * recompute proves it: the rollup alone cannot produce the final
    * day. */
  test("T5+hybrid: ragged-edge streaming rollup reads exactly via the tail") {
    val streamed = Live.streamingHybridDaily(spark, sf).collect().toSeq
    val batch = graft.ops.Rollups.daily(spark, sf).collect().toSeq
    assert(streamed == batch)
  }

  test("T4+T5: streaming retraction-aware summing MV equals the batch signed MV") {
    val streamed = Live.streamingCdcSummingMv(spark, sf).collect().toSeq
    val batch = graft.ops.Collapse.cdcSummingMv(spark, sf).collect().toSeq
    assert(streamed == batch)
  }

  test("A3/T5: mergeable HLL uniq states reaggregate to the whole-table sketch") {
    val dir = tempDir("graft_uniq")
    Live.maintainRollup(eventStream(s"$sf/events.parquet"),
      graft.ops.Rollups.uniqSketchSpec(s"$dir/rollup"))
    val merged = spark.read.parquet(s"$dir/rollup")
      .groupBy($"day")
      .agg(expr("hll_sketch_estimate(hll_union_agg(uniq_state))").as("uniq_users"))
      .orderBy("day")
    // estimate from merged per-batch sketches == estimate from one
    // whole-table sketch (merge associativity), and ≈ exact
    val perDay = merged.select($"day", $"uniq_users").collect().map(r => r.getLong(1))
    val direct = Tables.events(spark, sf)
      .groupBy(to_date($"ts").as("day"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("u"))
      .orderBy("day").select($"u").collect().map(_.getLong(0))
    assert(perDay.toSeq == direct.toSeq)
    val exact = Tables.events(spark, sf)
      .groupBy(to_date($"ts").as("day"))
      .agg(countDistinct($"user_id")).orderBy("day")
      .select(col("count(DISTINCT user_id)")).collect().map(_.getLong(0))
    // HLL at this cardinality (≤15 users/day) should be exact
    assert(perDay.toSeq == exact.toSeq)
  }

  test("S9/T3: watermark dedup drops in-window duplicate event_ids") {
    // duplicate the whole events file within the same window → exactly
    // the original count must survive
    val dir = tempDir("graft_dup")
    val ev = Tables.events(spark, sf)
    ev.unionByName(ev).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    val n = Live.streamingDedup(spark, dir).agg(sum($"n")).head.getLong(0)
    assert(n == ev.count())
  }

  test("S11: archive split is partition-exact and the complete view is lossless") {
    val lake = tempDir("graft_lake")
    val arch = tempDir("graft_arch")
    val live = tempDir("graft_live")
    // multi-month lake so BOTH sides of the split are non-empty (the
    // sf0.001 fixture spans one month, which left the live side — and
    // the two-root completeView — untested)
    spark.range(800)
      .select($"id", (lit(202401) + ($"id" % 4)).cast("int").as("month"))
      .write.mode("overwrite").partitionBy("month").parquet(lake)
    val total = spark.read.parquet(lake).count()
    Lifecycle.archiveBefore(spark, lake, 202403, arch, live)
    val archived = spark.read.parquet(arch)
    assert(archived.select(max($"month")).head.getInt(0) < 202403)
    assert(spark.read.parquet(live).select(min($"month")).head.getInt(0) == 202403)
    // complete view = archive ∪ live, no loss, partition column intact
    val complete = Lifecycle.completeView(spark, Seq(arch, live))
    assert(complete.count() == total)
    // degenerate-but-real shape: every partition archived, live empty
    val arch2 = tempDir("graft_arch2")
    val live2 = tempDir("graft_live2")
    Lifecycle.archiveBefore(spark, lake, 202499, arch2, live2)
    assert(Lifecycle.completeView(spark, Seq(arch2, live2)).count() == total)
  }

  test("S11: keep-last-N archive moves exactly the cold partitions") {
    val live = tempDir("graft_liveN")
    val arch = tempDir("graft_archN")
    // the sf0.001 fixture spans one month — synthesize a 4-month lake
    spark.range(1000)
      .select($"id", ($"id" * 3).as("v"),
              (lit(202401) + ($"id" % 4)).cast("int").as("month"))
      .write.mode("overwrite").partitionBy("month").parquet(live)
    val months = spark.read.parquet(live).select($"month")
      .distinct().as[Int].collect().sorted
    assert(months.length == 4)
    val total = spark.read.parquet(live).count()
    val keep = 2
    // dry run: full report, nothing moves
    val dry = Lifecycle.archiveKeepLastN(spark, live, arch, keep, dryRun = true)
      .as[(Int, Long, String)].collect()
    assert(dry.map(_._1).toSeq == months.toSeq)
    assert(dry.filter(_._3 == "keep").map(_._1).toSeq == months.takeRight(keep).toSeq)
    assert(!new java.io.File(arch).listFiles().exists(_.getName.startsWith("month=")))
    assert(spark.read.parquet(live).count() == total)
    // live run: cold partitions move, hot files are untouched in place
    val hotFiles = months.takeRight(keep).flatMap { m =>
      new java.io.File(s"$live/month=$m").listFiles().map(f => f.getName -> f.lastModified())
    }.toSet
    val report = Lifecycle.archiveKeepLastN(spark, live, arch, keep, dryRun = false)
      .as[(Int, Long, String)].collect()
    assert(report.toSeq == dry.toSeq) // report captures the pre-move state
    val liveMonths = spark.read.parquet(live).select($"month").distinct()
      .as[Int].collect().sorted
    assert(liveMonths.toSeq == months.takeRight(keep).toSeq)
    val archMonths = spark.read.parquet(arch).select($"month").distinct()
      .as[Int].collect().sorted
    assert(archMonths.toSeq == months.dropRight(keep).toSeq)
    // complete view is lossless across the split
    assert(Lifecycle.completeView(spark, Seq(arch, live)).count() == total)
    // hot partitions: same files, same mtimes — never rewritten
    val hotAfter = months.takeRight(keep).flatMap { m =>
      new java.io.File(s"$live/month=$m").listFiles().map(f => f.getName -> f.lastModified())
    }.toSet
    assert(hotAfter == hotFiles)
    // idempotent re-run: window already satisfied, nothing else moves
    val again = Lifecycle.archiveKeepLastN(spark, live, arch, keep, dryRun = false)
      .as[(Int, Long, String)].collect()
    assert(again.forall(_._3 == "keep"))
    assert(Lifecycle.completeView(spark, Seq(arch, live)).count() == total)
    // crash-window healing: re-create a half-moved state (month copied
    // to the archive, live partition drop never ran) — the plain union
    // double-counts it, the prefer-first view does not
    val dupMonth = months.takeRight(keep).head
    spark.read.parquet(live).filter($"month" === dupMonth)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("month").parquet(arch)
    val dupRows = spark.read.parquet(live)
      .filter($"month" === dupMonth).count()
    assert(Lifecycle.completeView(spark, Seq(arch, live)).count() == total + dupRows)
    assert(Lifecycle.completeView(spark, Seq(arch, live),
      preferFirstOn = Some("month")).count() == total)
  }

  test("S11: keep-last-N rejects a non-integer month partition value") {
    val live = tempDir("graft_liveBad")
    spark.range(10)
      .select($"id", concat(lit("m"), ($"id" % 2).cast("string")).as("month"))
      .write.mode("overwrite").partitionBy("month").parquet(live)
    val e = intercept[IllegalArgumentException] {
      Lifecycle.archiveKeepLastN(spark, live, live + ".arch", 1)
    }
    assert(e.getMessage.contains("not an integer month"))
  }

  test("flatMapGroupsWithState sessionization equals the batch sessionize") {
    // shuffled 4-file split → events arrive out of order across
    // micro-batches; the interval-merge state must still converge
    val lake = tempDir("graft_lake4")
    Tables.events(spark, sf).repartition(4)
      .write.mode("overwrite").parquet(lake)
    // exact equality incl. totals: the state quantizes to DECIMAL(38,6)
    // like the batch dsum, so the doubles must be bit-identical
    val streamed = Live.streamingSessionize(spark, lake).collect().toSeq
    val batch = graft.ops.Windows.sessionize(spark, sf).collect().toSeq
    assert(streamed == batch)
  }

  test("streaming as-of state converges to the batch as-of join under shuffled file order") {
    // shuffled 4-file split → purchases and signups arrive out of order
    // across micro-batches: a signup can land AFTER the purchase it
    // should match, so the state must retro-correct earlier emissions
    // and the max-version read must equal the batch join exactly
    val lake = tempDir("graft_lakeAsof")
    Tables.events(spark, sf).repartition(4)
      .write.mode("overwrite").parquet(s"$lake/events.parquet")
    val streamed = Live.streamingAsOf(spark, lake, maxFilesPerTrigger = Some(1))
      .collect().toSeq
    val batch = graft.ops.AsOf.signupAttribution(spark, sf).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("finalized streaming as-of emits each purchase exactly once below the final watermark") {
    // time-ordered 4-file split (the watermark contract this form
    // assumes): file i holds the i-th timestamp quartile, mod-times
    // forced increasing so the file source replays them in order
    val lake = tempDir("graft_lakeAsofF")
    val evDir = s"$lake/events.parquet"
    val ev = Tables.events(spark, sf)
    val tsCuts = ev.select(unix_micros($"ts").cast("double").as("us"))
      .stat.approxQuantile("us", Array(0.25, 0.5, 0.75), 0.0)
    val byTs = Seq(
      unix_micros($"ts") <= tsCuts(0),
      unix_micros($"ts") > tsCuts(0) && unix_micros($"ts") <= tsCuts(1),
      unix_micros($"ts") > tsCuts(1) && unix_micros($"ts") <= tsCuts(2),
      unix_micros($"ts") > tsCuts(2))
    byTs.foreach(p => ev.filter(p).coalesce(1).write.mode("append").parquet(evDir))
    // force strictly increasing mod times in write order so the file
    // source replays the quartiles oldest-first
    val partFiles = new java.io.File(evDir).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.lastModified())
    partFiles.zipWithIndex.foreach { case (f, i) => f.setLastModified((i + 1) * 100000000L) }
    val streamed = Live.streamingAsOfFinal(spark, lake, maxFilesPerTrigger = Some(1))
      .collect().toSeq
    // exactly-once: event_id unique
    assert(streamed.map(_.getLong(0)).distinct.size == streamed.size)
    // completeness + correctness: exactly the batch join restricted to
    // purchases strictly below the final watermark (= max event time
    // over the purchase∪signup stream)
    val cutoff = ev.filter($"event_type".isin("purchase", "signup"))
      .agg(max($"ts")).head.getTimestamp(0)
    val batch = graft.ops.AsOf.signupAttribution(spark, sf)
      .filter($"purchase_ts" < lit(cutoff)).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stream-stream interval join matches the batch join on one drain") {
    val streamed = Live.streamingAttribution(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ev = Tables.events(spark, sf)
    val batch = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("p_ts"), $"event_id".as("p_id"))
      .join(ev.filter($"event_type" === "view")
              .select($"user_id".as("v_user"), $"ts".as("v_ts"), $"event_id".as("v_id")),
            expr("user_id = v_user AND v_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"))
      .select($"user_id", $"p_id", $"v_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.nonEmpty)
    // exactly-once: no duplicate emissions; completeness on a single drain
    assert(streamed.distinct.length == streamed.length)
    assert(streamed.toSet == batch.toSet)
  }

  test("checkpoint restart resumes exactly-once: no double-counted files") {
    val root = tempDir("graft_eo")
    val (lake, rollup, ckpt) = (s"$root/lake", s"$root/rollup", s"$root/ckpt")
    val ev = Tables.events(spark, sf)
    // first run: one file
    ev.filter($"user_id" < 8).coalesce(1).write.parquet(lake)
    val spec = RollupRouting.Spec("events.parquet", rollup)
    Live.maintainRollup(eventStream(lake), spec, checkpointDir = Some(ckpt))
    // restart on the same checkpoint after a second file lands: only the
    // new file may be processed
    ev.filter($"user_id" >= 8).coalesce(1)
      .write.mode("append").parquet(lake)
    // a session count that differs from the checkpoint's on restart
    TestSpark.withConf("spark.sql.shuffle.partitions" -> "2") {
      Live.maintainRollup(eventStream(lake), spec, checkpointDir = Some(ckpt))
    }
    val merged = Live.readDailyRollup(spark, rollup)
      .agg(sum($"tx_count")).head.getLong(0)
    assert(merged == ev.count(), "restart must not reprocess the first file")
    // a persistent checkpoint keeps the session's partition count (the
    // input would size to 1): Spark froze it into the first batch's
    // offset log, and the restart ran its batch with the frozen count
    val offsets = new java.io.File(ckpt, "offsets").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(offsets.length == 2)
    offsets.foreach { f =>
      val conf = scala.io.Source.fromFile(f).getLines().drop(1).next()
      assert(conf.contains("\"spark.sql.shuffle.partitions\":\"4\""), s"${f.getName}: $conf")
    }
  }

  test("transformWithState totals accumulate across micro-batches") {
    val lake = tempDir("graft_lake5")
    Tables.events(spark, sf).repartition(3)
      .write.mode("overwrite").parquet(s"$lake/events.parquet")
    val updates = Live.statefulUserTotals(spark, lake, maxFilesPerTrigger = Some(1))
    // several update rows per user (one per touching batch); the final
    // one (max count) must equal the batch rollup exactly
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"tx_count".desc)
    val finals = updates.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Tables.events(spark, sf).groupBy($"user_id")
      .agg(count(lit(1)).as("c"), graft.ops.Fns.dsum($"value").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(finals == batch)
  }

  test("compaction merges small files losslessly and atomically swaps") {
    val dir = tempDir("graft_cmp") + "/t"
    Tables.events(spark, sf).repartition(8).write.parquet(dir)
    val before = Tables.events(spark, sf)
      .agg(count(lit(1)), sum($"event_id")).head()
    val (nBefore, nAfter) = Lifecycle.compact(spark, dir, targetBytes = 1L << 30,
      sortCols = Seq("user_id", "ts"))
    assert(nBefore == 8 && nAfter == 1)
    val after = spark.read.parquet(dir).agg(count(lit(1)), sum($"event_id")).head()
    assert(before == after)
  }

  test("P1: month-partition pruning reaches the file scan") {
    val lake = tempDir("graft_lake2")
    Lifecycle.writePartitionedLake(spark, sf, lake)
    val q = spark.read.parquet(lake).filter($"month" === 202401)
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("month"))
  }

  test("streaming ingest dedup admits exactly the batch incremental-dedup set") {
    val stream = graft.streaming.Live.streamingIngestDedup(spark, sf)
      .select($"lang", $"n_admitted").as[(String, Long)].collect().toMap
    val batch = graft.llm.Dedup.incrementalDedup(spark, sf)
      .select($"lang", $"n_admitted").as[(String, Long)].collect().toMap
    // the batch report lists every language (0-admitted rows included);
    // the stream emits only admitted rows — compare on the nonzero set
    assert(stream == batch.filter(_._2 > 0))
    assert(stream.values.sum == batch.values.sum)
  }

  test("streaming near-dup admission over the persisted index equals the batch probe") {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val docs = Tables.documents(spark, sf)
    val isNew = col("doc_id") % 10 === 0
    val tmp = tempDir("graft_snd")
    // snapshot job: persist the corpus signature index (text read once)
    graft.llm.Dedup.writeNearDupIndex(docs.filter(!isNew), s"$tmp/idx")
    // the delivery arrives as TWO files → two micro-batches
    docs.filter(isNew).repartition(2).write.parquet(s"$tmp/delivery")
    graft.streaming.Live.streamingNearDupAdmission(
      spark, s"$tmp/delivery", s"$tmp/idx", s"$tmp/reports")
    val reports = spark.read.parquet(s"$tmp/reports")
    // two deliveries really ran
    assert(reports.select($"delivery").distinct().count() == 2)
    // merged-at-read report ≡ the whole-batch probe of the same index
    val got = reports.groupBy($"lang")
      .agg(fsum($"n_batch").as("b"), fsum($"n_near_dup").as("r"),
           fsum($"n_admitted").as("a"))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val want = graft.llm.Dedup.incrementalNearDupAgainstIndex(
        docs.filter(isNew), graft.llm.Dedup.loadNearDupIndex(spark, s"$tmp/idx"))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == want)
  }

  test("profile partials merge typed slots with native rendering") {
    val dir = tempDir("graft_pslot")
    // long ids straddle a lexicographic trap ("9" > "10"); floats must
    // render natively ("0.1", not the widened "0.10000000149011612")
    val b1 = Seq((1L, 0.1f, "a"), (2L, 9.5f, "b")).toDF("id", "f", "s")
    val b2 = Seq((10L, 0.25f, "c")).toDF("id", "f", "s")
    Live.appendProfilePartials(b1, Seq("id", "f", "s"), dir)
    Live.appendProfilePartials(b2, Seq("id", "f", "s"), dir)
    val got = Live.readProfile(spark, dir)
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    val want = graft.ops.Monitoring.profileOf(b1.union(b2), Seq("id", "f", "s"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got == want) // tiny set: even the HLL distinct is exact
  }

  test("streamed profile partials merge to the batch profile") {
    val docs = Tables.documents(spark, sf)
    val tmp = tempDir("graft_sprof")
    // the corpus arrives as THREE files → three partial-profile appends
    docs.repartition(3).write.parquet(s"$tmp/delivery")
    val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
    val got = Live.streamingProfile(spark, tmp, "delivery", cols,
        maxFilesPerTrigger = Some(1))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    val want = graft.ops.Monitoring.profileOf(docs, cols)
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == want.keySet)
    cols.foreach { c =>
      val (g, w) = (got(c), want(c))
      assert(g._2 == w._2 && g._3 == w._3) // counts/nulls merge exactly
      // HLL distinct within 5% of exact
      assert(math.abs(g._4 - w._4) <= math.max(1L, (0.05 * w._4).toLong))
      // min/max compose in their typed slots and render EXACTLY as the
      // batch profiler does (integral slots carry DECIMAL(38,0), so
      // "1" stays "1" — no double round-trip)
      assert(g._5 == w._5 && g._6 == w._6, s"col=$c ${g._5}/${w._5}")
    }
  }
}
