package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.ops.StarJoins
import graft.ops.Fns._
import graft.plans.RollupRouting.{Catalog, route}

/** Structured-Streaming variants of the ingest/rollup pipeline
  * (SURVEY §2.8 T1–T6).
  *
  * The reference's write path is micro-batched ingest (gateway chunks →
  * one insert per batch, `usdc-transfers/src/main.ts:22-23,71-100`) into
  * incrementally-maintained rollups (ClickHouse MV insert-triggers,
  * `sql/analytics.sql`). Spark-first mapping: `readStream` file source →
  * the same declarative aggregation → either a complete-mode sink (small
  * keyspace) or SummingMergeTree-style *partial-state appends* via
  * `foreachBatch` ([[appendDailyPartials]]), re-aggregated at read
  * ([[readDailyRollup]]) — the A6 partial→final invariant.
  */
object Live {

  /** Run `f` with the state/shuffle partition count pinned low for a
    * bounded drain. Stateful operators create one state store per
    * shuffle partition and the count is frozen into the checkpoint — in
    * production you size it to peak key cardinality up front; for the
    * fixture-scale drains 8 stores beat 32 empty ones. */
  private def withStatePartitions[A](spark: SparkSession, n: Int)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** Run `f` with a fresh RUN-SCOPED checkpoint directory, deleted when
    * the drain ends, failed or not (each of these queries is created,
    * drained with availableNow, and never resumed, so nothing could
    * resume from a kept one). A production deployment passes a
    * PERSISTENT location instead and never deletes it — that is what
    * makes restarts exactly-once (see [[maintainDailyRollupPerFile]]'s
    * `checkpointDir`). */
  private def withRunCheckpoint[A](f: String => A): A = {
    val dir = StarJoins.scratchTemp("graft_ckpt")
    try f(dir.toString) finally graft.LocalFs.deleteTree(dir)
  }

  /** Drain a streaming frame into a parquet RESULT LAKE via
    * `foreachBatch` and read it back — the off-driver replacement for
    * the earlier fixture `format("memory")` sinks, whose append-mode
    * results were row-cardinality-shaped (a driver-resident copy of
    * the output at production scale). Per mode: append appends each
    * batch's emitted rows, update appends update rows (readers
    * reconcile, e.g. keep-max-version), complete overwrites with the
    * latest full result. Every batch lands as parquet straight from
    * the executors; the driver never holds a result row. Each batch is
    * stamped with `__batch` so update-mode readers can keep the last
    * emission per key. The read-back pins the schema (a drain whose
    * every batch was empty leaves no footer to infer from). */
  private def drainToParquet(df: DataFrame, mode: String,
                             statePartitions: Int = -1): DataFrame = {
    val spark = df.sparkSession
    // r20 (guide §2.2 applied to state stores): state-partition count
    // is a runtime conf; -1 = use the conf, an explicit argument wins.
    // Default 4: each state partition pays a fixed per-batch commit +
    // snapshot + file-create cost, and the interleaved sweep (2/4/8/16/
    // 32 on q52/q56/q106/q146/q148/q96) showed that below ~GB state the
    // per-partition overhead dominates the parallelism it buys — q52
    // 2.37 s at 4 vs 3.17 at 8 vs 8.33 at 32. A cluster deployment
    // sizes the conf to state bytes / executor memory, not a constant;
    // operators whose per-key work is CPU-bound (sessionize) pass a
    // higher explicit value.
    val stateParts =
      if (statePartitions > 0) statePartitions
      else spark.conf.get("spark.graft.stream.statePartitions", "4").toInt
    val outDir = StarJoins.scratchTemp("graft_sink")
      .resolve("out").toString
    withStatePartitions(spark, stateParts) {
      withRunCheckpoint { ckpt =>
        val q = df.writeStream.outputMode(mode)
          .foreachBatch { (b: DataFrame, id: Long) =>
            val m = if (mode == "complete") "overwrite" else "append"
            b.withColumn("__batch", lit(id)).write.mode(m).parquet(outDir)
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        // opt-in scale-rehearsal probe (SPARK_GRAFT_STATE_LOG=<file>):
        // append one JSON line per micro-batch with the state-store row
        // and byte totals — the number a 100 TB deployment sizes
        // executors against (see docs/SCALING.md streaming decade).
        // Env-gated so declared runs stay untouched.
        sys.env.get("SPARK_GRAFT_STATE_LOG").foreach { path =>
          val lines = q.recentProgress.toSeq.map { p =>
            val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
            s"""{"batch":${p.batchId},"inputRows":${p.numInputRows},"stateRows":[${ops.map(_.numRowsTotal).mkString(",")}],"stateBytes":[${ops.map(_.memoryUsedBytes).mkString(",")}]}"""
          }
          java.nio.file.Files.write(java.nio.file.Paths.get(path),
            (lines.mkString("", "\n", "\n")).getBytes,
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
        }
      }
    }
    val schema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+
        org.apache.spark.sql.types.StructField("__batch", LongType))
    if (new java.io.File(outDir).exists())
      spark.read.schema(schema).parquet(outDir)
    else // zero batches: the sink dir was never created
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                            schema)
  }

  /** Raw file stream for a fixture table: schema from a batch probe
    * (file streams need an explicit schema). File-stream sources
    * require a directory: if `fileName` is itself a directory of part
    * files, stream it directly; if it is a single file (the driver
    * fixtures), stream its parent with a glob filter. */
  private def fileStream(spark: SparkSession, sfDir: String, fileName: String,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val path = s"$sfDir/$fileName"
    // memoized relation (Tables.loadPath): the schema probe otherwise
    // re-runs a footer-inference job on every stream construction
    val rawSchema = Tables.loadPath(spark, path).schema
    val reader0 = spark.readStream.schema(rawSchema)
    val reader = maxFilesPerTrigger
      .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n.toString))
    if (new java.io.File(path).isDirectory) reader.parquet(path)
    else reader.option("pathGlobFilter", fileName).parquet(sfDir)
  }

  /** Raw → canonical EVENT stream: `ts` encoding normalization as in
    * [[graft.Tables.normalizeTs]] (nanos-long, micros-NTZ, micros-UTC). */
  private def eventStream(spark: SparkSession, sfDir: String,
                          maxFilesPerTrigger: Option[Int] = None): DataFrame =
    Tables.normalizeTs(fileStream(spark, sfDir, "events.parquet", maxFilesPerTrigger))

  /** T1+T2+T5: the daily rollup maintained END-TO-END through the MV
    * pipeline — micro-batched ingest appends one partial-state block
    * per batch ([[appendDailyPartials]], the SummingMergeTree insert-
    * trigger economy) and the query merges partials at read
    * ([[readDailyRollup]], the A6 invariant). No result row ever
    * touches the driver: partials stream from executors to the rollup
    * lake, and the read side is an ordinary distributed aggregation.
    * Must equal the batch rollup bit-for-bit (partial decimal sums
    * re-aggregate losslessly), so it shares q01's oracle. */
  def streamingDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val rollupDir = StarJoins.scratchTemp("graft_daily_mv")
      .resolve("rollup").toString
    maintainDailyRollup(spark, sfDir, rollupDir)
    readDailyRollup(spark, rollupDir)
  }

  /** T3/S9: streaming dedup within a watermark — the
    * ReplacingMergeTree/finality-horizon analog. Late duplicates beyond
    * the watermark age out of state (bounded memory at scale). The
    * day-level rollup keyspace is bounded, so complete mode holds; the
    * sink is a per-batch parquet overwrite, not a driver table. */
  def streamingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val deduped = eventStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("event_id"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    drainToParquet(deduped, "complete")
      .select(col("day"), col("n")).orderBy("day")
  }

  /** T5 write side: per micro-batch, append *partial* aggregate states
    * to the rollup store — exactly SummingMergeTree's insert-trigger
    * economy (`sql/analytics.sql:10`): the sink receives one small
    * pre-aggregated block per batch, never raw rows. */
  def appendDailyPartials(batch: DataFrame, rollupDir: String): Unit = {
    // refuse to append the v2 (mn/mx) partial schema into a pre-upgrade
    // rollup: mixed footers would make a routed MIN/MAX silently cover
    // only post-upgrade batches (old rows read the columns as NULL).
    // Schema upgrades require a rollup rebuild — fail loud, not wrong.
    val dir = new java.io.File(rollupDir)
    if (dir.exists()) {
      val existing = batch.sparkSession.read.parquet(rollupDir).schema.fieldNames
      require(existing.contains("mn_partial"),
        s"$rollupDir holds pre-mn/mx partials; rebuild the rollup before appending")
    }
    graft.ops.Rollups.dailyPartialsOf(batch)
      .write.mode("append").parquet(rollupDir)
  }

  /** T5 read side / A6: merge partial states at query time — the
    * explicit final GROUP BY the reference's users write
    * (`README.md:66-71`). Lossless for sum/count by construction. */
  def readDailyRollup(spark: SparkSession, rollupDir: String): DataFrame =
    spark.read.parquet(rollupDir)
      .groupBy(col("day"), col("user_id"))
      .agg(sum(col("v_partial")).cast("double").as("total_value"),
           sum(col("c_partial")).as("tx_count"))
      .orderBy("day", "user_id")

  /** A3+T5 with true mergeable state — the AggregatingMergeTree analog:
    * the reference's `uniq(from_address)` inside an incrementally-
    * maintained MV (`sql/analytics.sql:34-35`) requires the rollup to
    * store a *mergeable* distinct-count state, not a number. Spark's
    * Datasketches HLL functions provide exactly that: partials store
    * `hll_sketch_agg` binaries; readers `hll_union_agg` then estimate.
    * Appends stay small (one sketch per day per batch) and the merge is
    * associative — the same partial→final invariant as sum/count. */
  def appendUniqPartials(batch: DataFrame, rollupDir: String): Unit =
    batch
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("uniq_state"),
           count(lit(1)).as("c_partial"))
      .write.mode("append").parquet(rollupDir)

  /** Merge the per-batch sketches to per-day distinct estimates. */
  def readUniqRollup(spark: SparkSession, rollupDir: String): DataFrame =
    spark.read.parquet(rollupDir)
      .groupBy(col("day"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(uniq_state))").as("uniq_users"),
           sum(col("c_partial")).as("tx_count"))
      .orderBy("day")

  /** Drive the uniq-state rollup with availableNow micro-batches. */
  def maintainUniqRollup(spark: SparkSession, sfDir: String, rollupDir: String): Unit =
    withRunCheckpoint { ckpt =>
      val q = eventStream(spark, sfDir).writeStream
        .foreachBatch((batch: DataFrame, _: Long) => appendUniqPartials(batch, rollupDir))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

  /** The frequent-items twin of [[appendUniqPartials]] — ClickHouse's
    * `topK()` inside an incrementally-maintained MV. Each micro-batch
    * appends one `approx_top_k_accumulate` sketch per day; readers
    * `approx_top_k_combine` then estimate. Same partial→final algebra
    * as the HLL states: constant-size appends at any fact volume. */
  def appendTopKPartials(batch: DataFrame, rollupDir: String): Unit =
    batch
      .groupBy(to_date(col("ts")).as("day"))
      // NB the argument is maxItemsTracked (sketch CAPACITY), not k —
      // size it well above the per-group key cardinality or the
      // space-saving sketch overestimates and drops items
      .agg(expr("approx_top_k_accumulate(user_id, 1024)").as("topk_state"),
           count(lit(1)).as("c_partial"))
      .write.mode("append").parquet(rollupDir)

  /** Merge per-batch sketches to per-day top-k (rank, user, est count). */
  def readTopKRollup(spark: SparkSession, rollupDir: String): DataFrame =
    spark.read.parquet(rollupDir)
      .groupBy(col("day"))
      .agg(expr("approx_top_k_estimate(approx_top_k_combine(topk_state), 10)").as("tk"),
           sum(col("c_partial")).as("tx_count"))
      .select(col("day"), posexplode(col("tk")).as(Seq("rank0", "e")),
              col("tx_count"))
      .select(col("day"), (col("rank0") + 1).cast("int").as("rank"),
              col("e.item").as("user_id"), col("e.count").as("est_count"),
              col("tx_count"))
      .orderBy("day", "rank")

  /** Drive the topK-state rollup with availableNow micro-batches. */
  def maintainTopKRollup(spark: SparkSession, sfDir: String, rollupDir: String): Unit =
    withRunCheckpoint { ckpt =>
      val q = eventStream(spark, sfDir).writeStream
        .foreachBatch((batch: DataFrame, _: Long) => appendTopKPartials(batch, rollupDir))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

  /** Run the incremental-maintenance pipeline end-to-end with
    * availableNow micro-batches (driven by maxFilesPerTrigger when the
    * source has multiple files). */
  def maintainDailyRollup(spark: SparkSession, sfDir: String, rollupDir: String): Unit =
    withRunCheckpoint { ckpt =>
      val q = eventStream(spark, sfDir).writeStream
        .foreachBatch((batch: DataFrame, _: Long) => appendDailyPartials(batch, rollupDir))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

  /** SPEC-DRIVEN CONTINUOUS MAINTENANCE (round 12): the streaming leg
    * of the one-registration MV lifecycle. Per micro-batch, append the
    * spec's OWN partial block
    * ([[graft.plans.RollupRouting.buildPartials]] — the same `aggs`
    * that drive query rewriting) and ADVANCE the coverage sidecar to
    * the last complete grain boundary of the event time seen so far
    * (minus `latenessUs` slack for out-of-order sources). The advance
    * is MONOTONE and stamped atomically, so at every instant of the
    * drain the hybrid router serves complete grains from the rollup
    * and the ragged edge from the raw tail; a crash leaves the sidecar
    * behind the appended partials, which is the SAFE side (the
    * commit-point filter hides uncommitted partials). Rows later than
    * `latenessUs` still land in the rollup below the watermark —
    * partials merge additively, so they are served once appended; the
    * append lag is ordinary MV freshness, not an error.
    *
    * Pass a PERSISTENT `checkpointDir` for a production deployment:
    * restarts then resume exactly-once — a file consumed before the
    * crash is never re-appended (the source offsets live in the
    * checkpoint), and the watermark re-seeds from the committed
    * sidecar so it never regresses (restart test pins both). The
    * default run-scoped checkpoint suits one-shot availableNow
    * drains.
    *
    * COMPACTION CADENCE (round 15): every micro-batch appends a
    * partial block, so a long-lived rollup's file count grows with
    * UPTIME — each append then pays a directory listing against the
    * accumulated parts (the r13 steady-state audit measured 1–2.5 s
    * per trigger against built ×100 states), and every routed read
    * re-merges months of per-batch blocks. When the part-file count
    * exceeds `compactAboveFiles`, the maintainer triggers
    * [[graft.ops.Rollups.compactRollup]] INLINE in the batch — the
    * maintainer IS the single writer, so compacting inside its own
    * foreachBatch is the one place the single-writer contract is free
    * (readers need no quiescing: the swap is the same
    * scratch-build + sidecar + atomic-move protocol every committed
    * write uses, and the coverage watermark travels with the data).
    * The threshold counts files ACCUMULATED since the last compaction
    * (or the drain start), not the directory's absolute size — a
    * large merged state whose compacted form legitimately spans many
    * files must not re-compact on every trigger.
    * `compactAboveFiles < 0` (the default) reads the session conf
    * `spark.graft.maintain.compactAboveFiles` (default 64); `0`
    * disables. */
  /** The maintainers' compaction trigger (round 15): an explicit
    * argument wins; otherwise the session conf; `0` disables (the
    * returned Int.MaxValue makes the count test vacuously false). */
  private def compactThreshold(spark: SparkSession, explicit: Int): Int = {
    val t = if (explicit >= 0) explicit
            else spark.conf.get(MaintainCompactConf, "64").toInt
    if (t == 0) Int.MaxValue else t
  }
  val MaintainCompactConf = "spark.graft.maintain.compactAboveFiles"

  private def partFileCount(dir: String): Int =
    Option(new java.io.File(dir).listFiles())
      .map(_.count(f => f.isFile && f.getName.startsWith("part-"))).getOrElse(0)

  def maintainRollup(stream: DataFrame, spec: graft.plans.RollupRouting.Spec,
                     latenessUs: Long = 0L,
                     checkpointDir: Option[String] = None,
                     compactAboveFiles: Int = -1): Unit = {
    import graft.plans.RollupRouting
    // a GRAINLESS rollup stores no time key, so the router has no
    // commit-point filter to hide partials appended before the sidecar
    // advances — append-then-stamp would double-count the gap against
    // the hybrid tail. Grainless specs are REBUILD-ONLY (build the
    // files for rows < wm and stamp wm before registration, or swap in
    // a freshly built directory); refusing here is the honest contract
    // (see [[graft.plans.RollupRouting.Spec]]).
    require(spec.grain != "all",
      s"grainless spec ${spec.rollupPath} cannot be append-maintained: " +
        "no time key means no commit-point filter; rebuild and re-stamp instead")
    val grainUs = if (spec.grain == "hour") 3600000000L else 86400000000L
    // seed monotonicity from a prior run's committed watermark
    val sidecar = new java.io.File(spec.rollupPath, RollupRouting.CoverageSidecar)
    val stamped = new java.util.concurrent.atomic.AtomicLong(
      if (sidecar.exists())
        scala.util.Try(new String(
          java.nio.file.Files.readAllBytes(sidecar.toPath)).trim.toLong)
          .getOrElse(Long.MinValue)
      else Long.MinValue)
    val seenMaxUs = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val partsBaseline =
      new java.util.concurrent.atomic.AtomicInteger(partFileCount(spec.rollupPath))
    def run(ckpt: String): Unit = {
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // r20 (guide §1.2 — don't scan the delivery twice): with no
          // lateness slack the watermark is the max GRAIN KEY of the
          // batch (floorDiv(max ts, grain) = grain key of the max row,
          // truncation is monotone), which the PARTIAL BLOCK already
          // carries — so build+persist the block once and read both
          // the coverage bound and the rows from it. A nonzero
          // latenessUs needs the raw (untruncated) max and keeps the
          // original raw-batch aggregate.
          val grainKey = if (spec.grain == "hour") "hour" else "day"
          val partials = RollupRouting.buildPartials(batch, spec).persist()
          try {
            val mx =
              if (latenessUs == 0L)
                partials.agg(
                  max(unix_micros(col(grainKey).cast("timestamp")))).head()
              else batch.agg(
                max(unix_micros(col(spec.timeCol).cast("timestamp")))).head()
            if (!mx.isNullAt(0)) {
              partials.write.mode("append").parquet(spec.rollupPath)
              val m = seenMaxUs.accumulateAndGet(mx.getLong(0), Math.max(_, _))
              val wm = Math.floorDiv(m - latenessUs, grainUs) * grainUs
              if (wm > stamped.get()) {
                RollupRouting.stampCoverage(spec.rollupPath, wm)
                stamped.set(wm)
              }
              if (partFileCount(spec.rollupPath) - partsBaseline.get >
                    compactThreshold(batch.sparkSession, compactAboveFiles)) {
                graft.ops.Rollups.compactRollup(batch.sparkSession, spec)
                partsBaseline.set(partFileCount(spec.rollupPath))
              }
            }
          } finally partials.unpersist()
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    checkpointDir.fold(withRunCheckpoint(run))(run)
  }

  /** [[maintainRollup]] for a JOIN MV (round 12): per micro-batch,
    * run the spec's own build over (batch-as-fact ⋈ dims)
    * ([[graft.plans.RollupRouting.buildJoinPartials]] — fact
    * pre-aggregated per join key before any join, dims pruned), append
    * the partial block, and advance the coverage sidecar monotonically
    * to the last complete grain boundary of the spec's COVERAGE column
    * seen so far (minus `latenessUs` slack). The same contracts as the
    * single-table maintainer: deliveries roughly coverage-ordered
    * within the slack, a crash leaves the sidecar behind the appended
    * partials (the commit-point filter hides them — the safe side),
    * and dims are treated as slowly-changing (each batch joins the
    * current dims, the MV-trigger semantic the reference's engine
    * gives its MVs). Requires `spec.coverage` — without it the rollup
    * has no commit point and a stale rollup can never answer. */
  def maintainJoinRollup(factStream: DataFrame, factTable: String,
                         dims: Map[String, DataFrame],
                         spec: graft.plans.RollupRouting.JoinSpec,
                         latenessUs: Long = 0L,
                         grainUs: Long = 86400000000L,
                         checkpointDir: Option[String] = None,
                         compactAboveFiles: Int = -1): Unit = {
    import graft.plans.RollupRouting
    val covSrc = spec.coverage.getOrElse(throw new IllegalArgumentException(
      "maintainJoinRollup needs a coverage column on the spec"))
    // a preserved key, or a registered time truncation's rollup column
    // (buildJoinPartials materializes it per partial row either way)
    val covRollup = spec.filterCols.get(covSrc)
      .orElse(spec.timeGroupings.collectFirst { case (_, rc) if rc == covSrc => rc })
      .getOrElse(throw new IllegalArgumentException(
        s"coverage column $covSrc must be a preserved grainCols/groupings key " +
          "or a registered timeGroupings rollup column"))
    val sidecar = new java.io.File(spec.rollupPath, RollupRouting.CoverageSidecar)
    val stamped = new java.util.concurrent.atomic.AtomicLong(
      if (sidecar.exists())
        scala.util.Try(new String(
          java.nio.file.Files.readAllBytes(sidecar.toPath)).trim.toLong)
          .getOrElse(Long.MinValue)
      else Long.MinValue)
    val seenMaxUs = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val partsBaseline =
      new java.util.concurrent.atomic.AtomicInteger(partFileCount(spec.rollupPath))
    def run(ckpt: String): Unit = {
      val q = factStream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // runtime key-range prune each dim the fact joins DIRECTLY:
          // incremental deliveries are key-localized, so each batch
          // joins a sliver of the dim, not all of it (the r10 ×100
          // rehearsal measured per-batch full-dim cost as the
          // dominant term; same fix as revenueSegmentPartialsOfPruned).
          // r20 (guide §2.4/§1.2 — don't scan twice): the ranges are
          // read from the PERSISTED fact pre-aggregation instead of a
          // separate raw-batch min/max pass — the pre-agg keeps every
          // fact join key as a group key, so the ranges are identical
          // and the raw delivery is scanned exactly once per batch.
          val factCols = batch.columns.toSet
          var factPre: DataFrame = null
          val partials = RollupRouting.buildJoinPartialsPruned(
            dims + (factTable -> batch), spec,
            onFactPre = { pre => factPre = pre.persist(); factPre },
            pruneDim = { (t, df, pre) =>
              val pair = spec.joinKeys.collectFirst {
                case (a, b) if factCols.contains(a) && df.columns.contains(b) => (a, b)
                case (a, b) if factCols.contains(b) && df.columns.contains(a) => (b, a)
              }
              pair.fold(df) { case (fc, dc) =>
                // guide §1.5: the FIRST dim prune also materializes the
                // persisted fact pre-agg — label it so profiles read
                setDesc(batch, s"mjr:$factTable fact pre-agg + $t prune")
                val r = pre.agg(min(col(fc)), max(col(fc))).head()
                if (r.isNullAt(0)) df
                else df.filter(col(dc) >= lit(r.get(0)) && col(dc) <= lit(r.get(1)))
              }
            })
            .persist()
          try {
            setDesc(batch, s"mjr:$factTable partials build + coverage max")
            val mx = partials.agg(
              max(unix_micros(col(covRollup).cast("timestamp")))).head()
            if (!mx.isNullAt(0)) {
              setDesc(batch, s"mjr:$factTable append partial block")
              partials.write.mode("append").parquet(spec.rollupPath)
              val m = seenMaxUs.accumulateAndGet(mx.getLong(0), Math.max(_, _))
              val wm = Math.floorDiv(m - latenessUs, grainUs) * grainUs
              if (wm > stamped.get()) {
                RollupRouting.stampCoverage(spec.rollupPath, wm)
                stamped.set(wm)
              }
              if (partFileCount(spec.rollupPath) - partsBaseline.get >
                    compactThreshold(batch.sparkSession, compactAboveFiles)) {
                graft.ops.Rollups.compactJoinRollup(batch.sparkSession, spec)
                partsBaseline.set(partFileCount(spec.rollupPath))
              }
            }
          } finally {
            partials.unpersist()
            if (factPre != null) factPre.unpersist()
            setDesc(batch, null)
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    checkpointDir.fold(withRunCheckpoint(run))(run)
  }

  /** Job-description label for maintenance phases (guide §1.5) —
    * thread-local, so it tags exactly the foreachBatch thread's jobs. */
  private def setDesc(batch: DataFrame, d: String): Unit =
    batch.sparkSession.sparkContext.setJobDescription(d)

  /** q171 (shares q16's oracle): the JOIN-MV one-registration
    * lifecycle end-to-end — STREAMING maintenance of the dated
    * revenue-segment spec from lineitem deliveries (orders visible
    * only below a date cut, simulating facts still in flight),
    * COMPACTION restoring the one-row-per-grain claim (file-split
    * deliveries scatter an order's lines across micro-batches), and
    * the UNCHANGED raw 3-table query answered as compacted rollup ∪
    * live-tail re-join across the coverage watermark. The hash match
    * proves the tail rebuilt the join for exactly the uncovered
    * orders — the rollup alone cannot see them. */
  def streamingRevenueSegmentHybrid(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.plans.RollupRouting
    val rollupDir = StarJoins.scratchTemp("graft_revseg_hy")
      .resolve("revseg_rollup").toString
    val spec = RollupRouting.JoinSpec.revenueSegmentDated(rollupDir)
    val cut = lit("1997-01-01 00:00:00").cast("timestamp")
    val o = graft.Tables.orders(spark, sfDir)
      .filter(col("o_orderdate").cast("timestamp") < cut)
    val c = graft.Tables.customer(spark, sfDir)
    maintainJoinRollup(
      fileStream(spark, sfDir, "lineitem.parquet", Some(1)), "lineitem",
      Map("orders" -> o, "customer" -> c), spec)
    graft.ops.Rollups.compactJoinRollup(spark, spec)
    route(spark, Catalog(joinSpecs = Seq(spec))) {
      graft.ops.StarJoins.revenueBySegment(spark, sfDir)
    }
  }

  /** q183 (shares q181's oracle): the one-registration lifecycle for a
    * TRUNCATING-time-grain join MV — STREAMING maintenance of the
    * hourly events⋈customer spec from event deliveries (the coverage
    * watermark advances along the `date_trunc('hour', ts)` ROLLUP
    * column itself, stamped at the last complete hour), COMPACTION
    * re-merging file-split deliveries per (hour, segment), and the
    * UNCHANGED by-DAY dashboard answered as compacted rollup ∪
    * live-tail re-join across the hour watermark. The drain stops
    * mid-hour, so the hash match proves the ragged hour came from the
    * tail — the rollup's commit-point filter hides its own
    * appended-but-uncovered partials. */
  def streamingEventsSegmentHourlyHybrid(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.plans.RollupRouting
    val rollupDir = StarJoins.scratchTemp("graft_evseg_hy")
      .resolve("ev_hourly_rollup").toString
    val spec = RollupRouting.JoinSpec.eventsSegmentHourly(rollupDir)
    val c = graft.Tables.customer(spark, sfDir)
    maintainJoinRollup(
      fileStream(spark, sfDir, "events.parquet", Some(1)), "events",
      Map("customer" -> c), spec, grainUs = 3600000000L)
    graft.ops.Rollups.compactJoinRollup(spark, spec)
    route(spark, Catalog(joinSpecs = Seq(spec))) {
      graft.ops.StarJoins.eventsSegmentDaily(spark, sfDir)
    }
  }

  /** q197 (rows-only, spec-pinned like the sketch family): the
    * sketch × join × streaming corner of the matrix — the
    * (day, segment) HLL-state join MV maintained from event
    * deliveries ([[maintainJoinRollup]]: per batch the spec's own
    * two-level sketch build over batch⋈pruned-dim, appended as a
    * binary block; the coverage watermark advances along the `ts_day`
    * rollup column), COMPACTED per (day, segment) via sketch union,
    * and the UNCHANGED sketch-over-join dashboard answered as states
    * ∪ live-tail re-join across the day watermark — bit-equal to the
    * single-pass answer (sketch union is exactly mergeable across
    * both the batch boundary and the coverage boundary). */
  def streamingUniqSegmentHybrid(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.plans.RollupRouting
    val rollupDir = StarJoins.scratchTemp("graft_uniqseg_hy")
      .resolve("uniqseg_rollup").toString
    val spec = RollupRouting.JoinSpec.uniqSegmentDaily(rollupDir)
    val c = graft.Tables.customer(spark, sfDir)
    maintainJoinRollup(
      fileStream(spark, sfDir, "events.parquet", Some(1)), "events",
      Map("customer" -> c), spec)
    graft.ops.Rollups.compactJoinRollup(spark, spec)
    route(spark, Catalog(joinSpecs = Seq(spec))) {
      graft.ops.StarJoins.uniqSegmentDailyRaw(spark, sfDir)
    }
  }

  /** T5 applied to the JOIN-derived MV (q145, shares q16's oracle):
    * incremental insert-maintenance of the revenue-segment rollup —
    * stream lineitem deliveries, and per micro-batch run the MV
    * insert-trigger: pre-aggregate the batch per orderkey, attach the
    * orders/customer dims (broadcast), and APPEND one small block of
    * (orderkey, segment) decimal partials
    * ([[graft.ops.StarJoins.revenueSegmentPartialsOf]]) — the sink
    * never sees raw lines, and no rollup row is ever rewritten. The
    * dashboard read re-aggregates the accumulated rollup join-free.
    * Deliveries must be order-atomic (all lines of an order in one
    * delivery — the natural shipment unit); the partials doc and
    * RollupRoutingSpec cover the grain caveat. */
  def streamingRevenueSegment(spark: SparkSession, sfDir: String): DataFrame = {
    val rollupDir = StarJoins.scratchTemp("graft_revseg_mv")
      .resolve("rollup").toString
    // per batch, the dim side is RUNTIME KEY-RANGE PRUNED from the
    // batch's own min/max orderkey before the join — incremental
    // batches are key-localized, so each joins against a sliver of
    // orders, not all of it (the r10 ×100 rehearsal's 17× was that
    // per-batch full-dim cost)
    val o = graft.Tables.orders(spark, sfDir)
    val c = graft.Tables.customer(spark, sfDir)
    withRunCheckpoint { ckpt =>
      val q = fileStream(spark, sfDir, "lineitem.parquet", Some(1)).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.ops.StarJoins.withRevenueSegmentPartialsPruned(batch, o, c) {
            _.write.mode("append").parquet(rollupDir)
          }
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    graft.ops.StarJoins.readRevenueSegmentRollup(spark, rollupDir)
  }

  /** T5 + hybrid composed (q164, shares q01's oracle): CONTINUOUS MV
    * maintenance with a RAGGED-EDGE-safe read. A streaming-maintained
    * rollup always ends in a partial last day — the drain stopped
    * mid-day — and serving it straight would undercount that day. The
    * maintenance instead stamps the coverage-watermark sidecar at the
    * last COMPLETE day boundary, so the hybrid router serves complete
    * days from the rollup and the ragged final day (plus anything
    * later) from the raw tail: the UNCHANGED raw daily query is exact
    * at every drain point. Here the mid-day stop is simulated by
    * bounding what the drain has "seen" (ts < Jan 27 13:00); the hash
    * match against the full recompute proves the ragged day was
    * answered by the tail — the rollup alone cannot produce it. */
  def streamingHybridDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val rollupDir = StarJoins.scratchTemp("graft_hybrid_mv")
      .resolve("rollup").toString
    val seenUpTo = lit("2024-01-27 13:00:00").cast("timestamp")
    withRunCheckpoint { ckpt =>
      val q = eventStream(spark, sfDir).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          appendDailyPartials(batch.filter(col("ts") < seenUpTo), rollupDir)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // commit coverage at the last COMPLETE day boundary (floor-to-day
    // of the max event time the drain saw)
    val wmUs = java.time.Instant.parse("2024-01-27T00:00:00Z").toEpochMilli * 1000L
    graft.plans.RollupRouting.stampCoverage(rollupDir, wmUs)
    route(spark, Catalog(
        Seq(graft.plans.RollupRouting.Spec("events.parquet", rollupDir)))) {
      graft.Tables.events(spark, sfDir)
        .groupBy(to_date(col("ts")).as("day"), col("user_id"))
        .agg(graft.ops.Fns.dsum(col("value")).as("total_value"),
             count(lit(1)).as("tx_count"))
        .orderBy("day", "user_id")
    }
  }

  /** The FULL one-registration lifecycle on the SECOND table (q168,
    * shares q165's oracle): the orders rollup is maintained by a
    * STREAM of order deliveries through the spec's own partial block
    * ([[maintainRollup]] — build, per-batch coverage advance, commit
    * all derive from [[graft.ops.Rollups.ordersSpec]]), the drain
    * stops ragged mid-1997 (simulated by bounding what has arrived),
    * and the UNCHANGED raw orders dashboard query is answered as
    * rollup ∪ raw-tail across the auto-advanced watermark. The hash
    * match against the raw recompute proves the whole
    * declare-once/build/maintain/route loop on a table the engine has
    * no hardcoded knowledge of. */
  def streamingOrdersHybrid(spark: SparkSession, sfDir: String): DataFrame = {
    val rollupDir = StarJoins.scratchTemp("graft_orders_mv")
      .resolve("orders_rollup").toString
    val spec = graft.ops.Rollups.ordersSpec(rollupDir)
    val seenUpTo = lit("1997-07-15 06:00:00").cast("timestamp")
    maintainRollup(
      fileStream(spark, sfDir, "orders.parquet", Some(1))
        .filter(col("o_orderdate").cast("timestamp") < seenUpTo),
      spec)
    route(spark, Catalog(Seq(spec))) {
      graft.ops.Rollups.ordersDailySalesRaw(spark, sfDir)
    }
  }

  /** q170 (shares q165's oracle): the MAINTAIN → COMPACT → SERVE
    * lifecycle. The q168 drain leaves one partial block per
    * micro-batch — a rollup whose row/file counts grow with uptime —
    * then [[graft.ops.Rollups.compactRollup]] re-merges it to one row
    * per (day, customer) under the unchanged coverage watermark, and
    * the UNCHANGED dashboard query routes over the compacted rollup ∪
    * live tail. The hash match proves compaction is invisible to the
    * router (partial states merge losslessly); the one-row-per-grain
    * and file-count claims are spec-pinned in RollupRoutingSpec. */
  def streamingOrdersCompacted(spark: SparkSession, sfDir: String): DataFrame = {
    val rollupDir = StarJoins.scratchTemp("graft_orders_cmp")
      .resolve("orders_rollup").toString
    val spec = graft.ops.Rollups.ordersSpec(rollupDir)
    val seenUpTo = lit("1997-07-15 06:00:00").cast("timestamp")
    maintainRollup(
      fileStream(spark, sfDir, "orders.parquet", Some(1))
        .filter(col("o_orderdate").cast("timestamp") < seenUpTo),
      spec)
    graft.ops.Rollups.compactRollup(spark, spec)
    route(spark, Catalog(Seq(spec))) {
      graft.ops.Rollups.ordersDailySalesRaw(spark, sfDir)
    }
  }

  /** q190 (rows-only, spec-pinned like the q184 sketch family): the
    * declare-once lifecycle on a SKETCH MV — per-day HLL states
    * maintained from a stream of event deliveries through the spec's
    * own partial block ([[maintainRollup]] appends one binary sketch
    * block per micro-batch; the coverage watermark auto-advances to
    * the last complete day), compacted to ONE state per day
    * (`hll_union_agg` is the member's merge), and the UNCHANGED raw
    * sketch dashboard answered as states ∪ live-tail sketch across
    * the watermark. Sketch union is exactly mergeable, so the
    * streaming build reproduces the single-pass estimates bit-for-bit
    * (RollupRoutingSpec pins it). */
  def streamingUniqSketchHybrid(spark: SparkSession, sfDir: String): DataFrame = {
    val rollupDir = StarJoins.scratchTemp("graft_hll_mv")
      .resolve("uniq_rollup").toString
    val spec = graft.ops.Rollups.uniqSketchSpec(rollupDir)
    maintainRollup(eventStream(spark, sfDir), spec)
    graft.ops.Rollups.compactRollup(spark, spec)
    route(spark, Catalog(Seq(spec))) {
      graft.ops.Rollups.dailyUniqSketchRaw(spark, sfDir)
    }
  }

  /** T4+T5 composed (q154, shares q153's oracle): RETRACTION-AWARE
    * incremental MV maintenance — the CollapsingMergeTree-feeds-a-
    * summing-MV pattern. Per micro-batch, the ingest derives the
    * cancel-pair changelog from its own rows (stateless — each event's
    * insert/cancel/re-insert triple derives from that event alone) and
    * appends one small SIGNED partial block
    * ([[graft.ops.Collapse.signedDailyPartialsOf]]); a mutation nets to
    * its corrected row and a delete nets to zero ACROSS blocks, because
    * signed partials are additive row-wise — no rollup row is ever
    * rewritten and no cross-batch coordination exists. The read merges
    * blocks and drops net-zero groups. State is the rollup itself;
    * there is no stream state store to grow. */
  def streamingCdcSummingMv(spark: SparkSession, sfDir: String): DataFrame = {
    val rollupDir = StarJoins.scratchTemp("graft_cdc_mv")
      .resolve("rollup").toString
    withRunCheckpoint { ckpt =>
      val q = eventStream(spark, sfDir).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.ops.Collapse.signedDailyPartialsOf(
              graft.ops.Collapse.cancelPairChangelogOf(batch))
            .write.mode("append").parquet(rollupDir)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    graft.ops.Collapse.readSignedDailyRollup(spark.read.parquet(rollupDir))
  }

  /** Stream-stream interval self-join (T-class beyond the reference):
    * purchases attributed to the views that preceded them by ≤30min,
    * per user. Both sides carry watermarks, so at scale the join state
    * retains only the interval's worth of views per user — Spark drops
    * rows older than watermark − 30min; an unwatermarked stream join
    * would grow state forever. Inner join in append mode emits each
    * match exactly once. Drained with availableNow, the emitted pairs
    * equal the batch interval join bit-for-bit (the DuckDB oracle). */
  def streamingAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = eventStream(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
              col("event_id").as("v_id"))
      .withWatermark("v_ts", "1 hour")
    val joined = purchases.join(views,
      expr("""user_id = v_user AND
              v_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"""))
      .select(col("user_id"), col("p_id"), col("v_id"))
    // append mode emits each match exactly once; the parquet drain
    // appends each batch's matches from the executors — the result is
    // row-cardinality-shaped, which is exactly why it must not land in
    // a driver-memory table
    drainToParquet(joined, "append")
      .select(col("user_id"), col("p_id"), col("v_id"))
      .orderBy("p_id", "v_id")
  }

  // ——— custom streaming state: incremental sessionization ———

  /** One maintained session: [start,end] micros, event count, exact
    * decimal value sum (order-independent across merges). */
  case class Sess(start_us: Long, end_us: Long, n: Long, v: BigDecimal)
  case class SessState(version: Long, sessions: List[Sess])
  case class SessUpdate(user_id: Long, version: Long, start_us: Long,
                        end_us: Long, n_events: Long, total_value: BigDecimal)

  /** T5 for non-decomposable state — incremental sessionization with
    * `flatMapGroupsWithState` (the `KeyValueGroupedDataset` custom-state
    * path): per user, the state is the session list; every micro-batch's
    * events arrive as singleton [ts,ts] intervals and are gap-merged into
    * it. Merging intervals (not points) makes the operator insensitive to
    * how events split across micro-batches — a batch that bridges two
    * previously-separate sessions collapses them, so out-of-order arrival
    * ACROSS batches needs no watermark coordination. Each invocation
    * re-emits the user's full session list stamped with a state version;
    * readers keep the max version per user (the memory/update sink
    * appends rather than upserts). State size is sessions-per-user —
    * rollup-, not event-, sized at 100 TB; a production deployment would
    * add an event-time timeout that expires users idle past the horizon. */
  def sessionizeBatchFn(gapUs: Long)(
      uid: Long, evs: Iterator[(Long, Long, Double)],
      state: org.apache.spark.sql.streaming.GroupState[SessState]): Iterator[SessUpdate] = {
    val incoming = evs.map { case (_, ts, v) =>
      // quantize to DECIMAL(38,6) semantics (HALF_UP, like Spark's
      // double→decimal cast): the streaming state then sums the exact
      // same decimals as the batch dsum and the totals are bit-equal
      Sess(ts, ts, 1L, BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP))
    }.toList
    val prior = state.getOption.map(_.sessions).getOrElse(Nil)
    val merged = (prior ++ incoming).sortBy(s => (s.start_us, s.end_us))
      .foldLeft(List.empty[Sess]) {
        case (acc @ (cur :: rest), s) if s.start_us - cur.end_us <= gapUs =>
          Sess(cur.start_us, math.max(cur.end_us, s.end_us), cur.n + s.n, cur.v + s.v) :: rest
        case (acc, s) => s :: acc
      }.reverse
    val version = state.getOption.map(_.version + 1).getOrElse(1L)
    state.update(SessState(version, merged))
    merged.iterator.map(s => SessUpdate(uid, version, s.start_us, s.end_us, s.n, s.v))
  }

  /** Drive incremental sessionization over a directory, one file per
    * micro-batch, and return the final per-user session lists in the
    * batch [[graft.ops.Windows.sessionize]] output shape. */
  def streamingSessionize(spark: SparkSession, eventsDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val rawSchema = spark.read.parquet(eventsDir).schema
    // file-stream sources need a directory (single-file fixture → parent
    // dir + glob, as in eventStream)
    val f = new java.io.File(eventsDir)
    val raw =
      if (f.isDirectory)
        spark.readStream.schema(rawSchema)
          .option("maxFilesPerTrigger", "1").parquet(eventsDir)
      else
        spark.readStream.schema(rawSchema).option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", f.getName).parquet(f.getParent)
    val ev = Tables.normalizeTs(raw)
    val updates = ev
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        sessionizeBatchFn(1800L * 1000000L))
    // update-mode emissions append to the parquet drain; the read side
    // keeps each user's max-version rows — the same reconcile-at-read
    // the reference's replacing merges do. Sessionize takes its OWN
    // partition conf (default 8 — the per-user gap-merge is CPU-bound,
    // and 8 beat the commit-bound conf's 4 in the fixture sweep AND
    // beat 32 at the ×10 replica: 12.1/17.0 s vs 22.7/19.1 s ABAB, the
    // per-partition commit overhead still dominates there). r20:
    // conf-parameterized rather than hard-coded so a cluster sizes it
    // to cores × state bytes instead of inheriting a fixture constant.
    val sessionParts =
      spark.conf.get("spark.graft.stream.sessionizePartitions", "8").toInt
    val all = drainToParquet(updates.toDF(), "update",
                             statePartitions = sessionParts)
    val wv = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("start_us"))
    all.withColumn("maxv", max(col("version")).over(wv))
      .filter(col("version") === col("maxv"))
      .withColumn("session_id", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_id"),
              timestamp_micros(col("start_us")).as("start_ts"),
              timestamp_micros(col("end_us")).as("end_ts"),
              col("n_events"),
              col("total_value").cast("double").as("total_value"))
      .orderBy("user_id", "session_id")
  }

  // ——— transformWithState (state API v2) ———

  /** Per-user running (count, exact-decimal sum) with the Spark 4
    * `transformWithState` API: explicit named ValueState, RocksDB-backed
    * — the successor to flatMapGroupsWithState with typed state handles,
    * TTL, and timers. Values are rounded to DECIMAL(38,6) per row before
    * the exact decimal accumulation, so the emitted totals are
    * bit-identical to the batch `dsum` rollup (and its DuckDB oracle)
    * regardless of arrival order. */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double), (Long, Long, Double)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var totals: ValueState[(Long, BigDecimal)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, BigDecimal)]("totals",
        org.apache.spark.sql.Encoders.product[(Long, BigDecimal)], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Double)],
                                 tv: TimerValues): Iterator[(Long, Long, Double)] = {
      var (c, s) = if (totals.exists()) totals.get() else (0L, BigDecimal(0))
      rows.foreach { case (_, v) =>
        c += 1
        s += BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      totals.update((c, s))
      Iterator.single((user, c, s.toDouble))
    }
  }

  /** Drive [[RunningTotalsProcessor]] over the events fixture and return
    * per-user totals in the batch-rollup shape (q56's oracle is the
    * plain GROUP BY user_id). */
  def statefulUserTotals(spark: SparkSession, sfDir: String,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val updates = eventStream(spark, sfDir, maxFilesPerTrigger)
        .select(col("user_id"), col("value")).as[(Long, Double)]
        .groupByKey(_._1)
        .transformWithState(new RunningTotalsProcessor,
          TimeMode.None(), OutputMode.Update())
      // each batch emits one RUNNING total per touched user; the read
      // side keeps the latest emission per user (max __batch — the
      // totals are cumulative), so a multi-batch drain reconciles to
      // the same final row the single-batch fixture emits directly
      val all = drainToParquet(updates.toDF("user_id", "tx_count", "total_value"),
                               "update")
      val wl = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      all.withColumn("__maxb", max(col("__batch")).over(wl))
        .filter(col("__batch") === col("__maxb"))
        .select(col("user_id"), col("tx_count"), col("total_value"))
        .orderBy("user_id")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  // ——— streaming as-of join ———

  /** One corrected as-of emission: the left row's current best match
    * under `right.ts <= left.ts`, stamped with the key's state version
    * (readers keep the max version per key). */
  case class AsOfEmit(user_id: Long, version: Long, event_id: Long,
                      left_us: Long, match_us: Option[Long])

  /** Streaming AS-OF join state: per key, the right-side timestamp set
    * and the left-side row set seen so far. Each micro-batch appends its
    * rows and re-emits the key's lefts matched against the UPDATED right
    * set — so a late right row arriving after a left was first emitted
    * RETRO-CORRECTS that left's match in the next version, and the final
    * version per key equals the batch [[graft.ops.AsOf.asofJoin]] no
    * matter how arrival order splits across micro-batches (the same
    * convergence contract as [[sessionizeBatchFn]]'s interval merge).
    * State is both sides' rows per key — bounded in production by the
    * watermark: once event time passes a left row's timestamp no
    * earlier right row can still arrive, so its match is final and the
    * row can be emitted once and dropped, and rights older than the
    * oldest unfinalized left compact to their latest element; the
    * fixture drive keeps the full sets so the spec can assert exact
    * batch equality under adversarial (shuffled) file order. */
  class StreamingAsOfProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Int, Long, Long), AsOfEmit] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var rights: ListState[Long] = _
    @transient private var lefts: ListState[(Long, Long)] = _
    @transient private var ver: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      rights = getHandle.getListState[Long]("rights", Encoders.scalaLong, TTLConfig.NONE)
      lefts = getHandle.getListState[(Long, Long)]("lefts",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
      ver = getHandle.getValueState[Long]("ver", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(user: Long, rows: Iterator[(Long, Int, Long, Long)],
                                 tv: TimerValues): Iterator[AsOfEmit] = {
      rows.foreach { case (ts, src, id, _) =>
        if (src == 0) rights.appendValue(ts) else lefts.appendValue((id, ts))
      }
      val sortedR = rights.get().toArray.sorted
      val allL = lefts.get().toArray
      val v = (if (ver.exists()) ver.get() else 0L) + 1L
      ver.update(v)
      allL.iterator.map { case (id, lts) =>
        // greatest right ts <= lts: binary search for the upper bound
        var lo = 0; var hi = sortedR.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (sortedR(mid) <= lts) lo = mid + 1 else hi = mid
        }
        AsOfEmit(user, v, id, lts, if (lo > 0) Some(sortedR(lo - 1)) else None)
      }
    }
  }

  /** The STREAMING leg of the as-of trilogy (composed batch q40, native
    * broadcast q82): signup attribution maintained incrementally —
    * purchases are the left stream, signups the right, keyed by user,
    * matched by most-recent-prior under [[StreamingAsOfProcessor]]'s
    * retro-correcting state. Update emissions append to the parquet
    * drain; the read keeps each user's max-version rows and shapes them
    * to the batch attribution output, so the query shares q82's DuckDB
    * ASOF-join oracle — the stream converges to the exact batch join. */
  def streamingAsOf(spark: SparkSession, sfDir: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val updates = eventStream(spark, sfDir, maxFilesPerTrigger)
        .filter(col("event_type").isin("purchase", "signup"))
        .select(unix_micros(col("ts")).as("ts_us"),
                when(col("event_type") === "signup", lit(0)).otherwise(lit(1)).as("src"),
                col("event_id"), col("user_id"))
        .as[(Long, Int, Long, Long)]
        .groupByKey(_._4)
        .transformWithState(new StreamingAsOfProcessor,
          TimeMode.None(), OutputMode.Update())
      val all = drainToParquet(updates.toDF(), "update")
      val wu = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      all.withColumn("__maxv", max(col("version")).over(wu))
        .filter(col("version") === col("__maxv"))
        .select(col("event_id"), col("user_id"),
                timestamp_micros(col("left_us")).as("purchase_ts"),
                timestamp_micros(col("match_us")).as("signup_ts"),
                (col("left_us") - col("match_us")).as("account_age_us"))
        .orderBy("event_id")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** One FINALIZED as-of emission — no version: each left row is
    * emitted exactly once, when the watermark proves its match can no
    * longer change. */
  case class AsOfFinal(user_id: Long, event_id: Long,
                       left_us: Long, match_us: Option[Long])

  /** The WATERMARK-FINALIZED streaming as-of — the bounded-state,
    * emit-once complement to [[StreamingAsOfProcessor]]'s
    * retro-correcting update form, and the shape a production deployment
    * runs: once the event-time watermark passes a left row's timestamp,
    * no admissible right row can still precede it (later arrivals below
    * the watermark are dropped as late), so its match is FINAL — emit it
    * once in append mode and drop it from state. Rights prune the same
    * way: among rights below the watermark only the latest can ever be
    * the most-recent-prior for a future left, so the buffer compacts to
    * (rights ≥ watermark) + one. State is the watermark window, not the
    * stream; event-time timers (fired by the engine's no-data batches)
    * flush keys that stop receiving input. The trade-off vs the update
    * form: rows later than the watermark are dropped rather than
    * retro-matched — which is why the update form exists for
    * adversarial arrival and this form for bounded state. */
  class StreamingAsOfFinalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (java.sql.Timestamp, Long, Int, Long, Long), AsOfFinal] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var rights: ListState[Long] = _
    @transient private var pending: ListState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      rights = getHandle.getListState[Long]("rights", Encoders.scalaLong, TTLConfig.NONE)
      pending = getHandle.getListState[(Long, Long)]("pending",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
    }
    // idempotent re-arm: the min-pending timer survives across batches
    // until the watermark passes it, so guard against re-registration
    private def armTimer(atMs: Long): Unit =
      if (!getHandle.listTimers().contains(atMs)) getHandle.registerTimer(atMs)
    private def finalizeUpTo(user: Long, wmUs: Long): Iterator[AsOfFinal] = {
      val rs = rights.get().toArray.sorted
      val (ready, rest) = pending.get().toArray.partition(_._2 < wmUs)
      if (ready.isEmpty && rs.forall(_ >= wmUs)) {
        if (rest.nonEmpty) armTimer(rest.map(_._2).min / 1000 + 1)
        return Iterator.empty
      }
      // compact rights: everything at/above the watermark survives, plus
      // the single latest below it (the only below-watermark element any
      // future left can still select)
      val keep = rs.filter(_ >= wmUs) ++ rs.filter(_ < wmUs).lastOption
      rights.clear(); keep.foreach(rights.appendValue)
      pending.clear(); rest.foreach(pending.appendValue)
      if (rest.nonEmpty) armTimer(rest.map(_._2).min / 1000 + 1)
      ready.sortBy(_._2).iterator.map { case (id, lts) =>
        var lo = 0; var hi = rs.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (rs(mid) <= lts) lo = mid + 1 else hi = mid
        }
        AsOfFinal(user, id, lts, if (lo > 0) Some(rs(lo - 1)) else None)
      }
    }
    override def handleInputRows(user: Long,
                                 rows: Iterator[(java.sql.Timestamp, Long, Int, Long, Long)],
                                 tv: TimerValues): Iterator[AsOfFinal] = {
      rows.foreach { case (_, ts, src, id, _) =>
        if (src == 0) rights.appendValue(ts) else pending.appendValue((id, ts))
      }
      finalizeUpTo(user, tv.getCurrentWatermarkInMs() * 1000L)
    }
    override def handleExpiredTimer(user: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[AsOfFinal] =
      finalizeUpTo(user, tv.getCurrentWatermarkInMs() * 1000L)
  }

  /** Drive [[StreamingAsOfFinalProcessor]] over the events fixture:
    * signup attribution again, but emit-once/bounded-state. Emitted =
    * exactly the purchases STRICTLY below the final watermark (the
    * boundary row stays pending: an equal-timestamp signup would not
    * yet be late), each matched as the batch join matches it — so the
    * oracle is q82's ASOF twin with the watermark cutoff as its WHERE
    * clause. Arrival must respect the watermark contract (in-order
    * files; the fixture's single file trivially does): late rows are
    * dropped, not retro-matched — [[streamingAsOf]] is the form that
    * tolerates adversarial order. */
  def streamingAsOfFinal(spark: SparkSession, sfDir: String,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val updates = eventStream(spark, sfDir, maxFilesPerTrigger)
        .filter(col("event_type").isin("purchase", "signup"))
        .withWatermark("ts", "0 seconds")
        .select(col("ts"), unix_micros(col("ts")).as("ts_us"),
                when(col("event_type") === "signup", lit(0)).otherwise(lit(1)).as("src"),
                col("event_id"), col("user_id"))
        .as[(java.sql.Timestamp, Long, Int, Long, Long)]
        .groupByKey(_._5)
        .transformWithState(new StreamingAsOfFinalProcessor,
          TimeMode.EventTime(), OutputMode.Append())
      val all = drainToParquet(updates.toDF(), "append")
      all.select(col("event_id"), col("user_id"),
                 timestamp_micros(col("left_us")).as("purchase_ts"),
                 timestamp_micros(col("match_us")).as("signup_ts"),
                 (col("left_us") - col("match_us")).as("account_age_us"))
        .orderBy("event_id")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** Multi-batch variant over an arbitrary events directory (e.g. the
    * month-partitioned lake): one file per trigger, so each partition
    * arrives as its own micro-batch and the rollup accumulates partial
    * states across several appends — the closest Spark shape to the
    * reference's per-insert-block MV triggers (`sql/analytics.sql`,
    * one partial-state block per replicated insert). */
  def maintainDailyRollupPerFile(spark: SparkSession, eventsDir: String,
                                 rollupDir: String,
                                 checkpointDir: Option[String] = None): Int = {
    val rawSchema = spark.read.parquet(eventsDir).schema
    val raw = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1").parquet(eventsDir)
    val ev = Tables.normalizeTs(raw)
    var batches = 0
    // a persistent checkpoint makes re-runs resume (exactly-once source
    // accounting survives restarts); the default stays run-scoped and
    // is cleaned up with the run
    def drain(ckpt: String): Unit = {
      val q = ev.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batches += 1
          appendDailyPartials(batch, rollupDir)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    checkpointDir match {
      case Some(c) => drain(c)
      case None    => withRunCheckpoint(drain)
    }
    batches
  }

  /** STREAMING near-dup admission — the persisted-index probe
    * ([[graft.llm.Dedup.incrementalNearDupAgainstIndex]]) deployed
    * under micro-batches, composing the two production artifacts this
    * engine maintains: deliveries arrive one file per trigger, each is
    * shingled/signed at batch size and MinHash-banded against the
    * LOADED corpus signature index, and each delivery's admission
    * report appends to a report lake (re-aggregated at read, the same
    * merge-at-read economy as the MV sinks). Per-doc verdicts depend
    * only on (doc, corpus), so the report sum over any delivery
    * partitioning equals the whole-batch probe — the spec pins that.
    * Corpus text is never read here; only the delivery files are. */
  def streamingNearDupAdmission(spark: SparkSession, deliveryDir: String,
                                indexDir: String, reportDir: String): Unit = {
    val corpusSig = graft.llm.Dedup.loadNearDupIndex(spark, indexDir)
    val schema = spark.read.parquet(deliveryDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(deliveryDir)
    withRunCheckpoint { ckpt =>
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.llm.Dedup.incrementalNearDupAgainstIndex(batch, corpusSig)
            .withColumn("delivery", lit(id))
            .write.mode("append").parquet(reportDir)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
  }

  /** Per-micro-batch PARTIAL column profile —
    * [[graft.ops.Monitoring.profileOf]]'s ingest-time shape. Every
    * partial field is MERGEABLE: counts add, min/min and max/max
    * compose, distinct carries a Datasketches HLL binary (union-able) —
    * the same partial→final invariant as the MV sinks, so the merged
    * profile equals a batch profile of everything ingested (exact for
    * every field except the approximate distinct, which the spec bounds
    * against the exact count). Numeric and string columns keep their
    * min/max in TYPED partial fields (a string-rendered numeric min
    * would merge lexicographically — "10" < "9"); the read side renders
    * after merging. */
  def appendProfilePartials(batch: DataFrame, cols: Seq[String],
                            dir: String): Unit = {
    import org.apache.spark.sql.types._
    // three TYPED min/max partial slots: integral (DECIMAL(38,0) —
    // exact for any long, where a double slot would corrupt ids above
    // 2^53 and render "1" as "1.0"), fractional (double min/max of
    // doubles is exact), string
    // partial schema v2: each min/max carries a TYPED sort slot (an
    // order-correct comparison key — integrals widen to DECIMAL(38,0),
    // exact above 2^53; floats/decimals widen to double, order-
    // preserving; everything else compares as its string form) PLUS the
    // NATIVE-rendERED string, so the merge orders on the slot and then
    // reports the winning partial's own rendering — "1" never becomes
    // "1.0" and a float min renders exactly as the batch profiler's.
    sealed trait Slot
    case object I extends Slot; case object F extends Slot; case object S extends Slot
    val slot: Map[String, Slot] = cols.map { c =>
      c -> (batch.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => I
        case d: DecimalType if d.scale == 0 => I
        case _: NumericType => F
        case _ => S
      })
    }.toMap
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__cnt_$c"),
          expr(s"hll_sketch_agg(CAST($c AS STRING))").as(s"__hll_$c"),
          min(col(c)).as(s"__mn_$c"),
          max(col(c)).as(s"__mx_$c"))
    }
    val one = batch.agg(count(lit(1)).as("__n"), aggs: _*)
    val nul = (t: String) => lit(null).cast(t)
    val rows = cols.map { c =>
      val (mnI, mxI, mnF, mxF, mnS, mxS) = slot(c) match {
        case I => (col(s"__mn_$c").cast("decimal(38,0)"),
                   col(s"__mx_$c").cast("decimal(38,0)"),
                   nul("double"), nul("double"), nul("string"), nul("string"))
        case F => (nul("decimal(38,0)"), nul("decimal(38,0)"),
                   col(s"__mn_$c").cast("double"), col(s"__mx_$c").cast("double"),
                   nul("string"), nul("string"))
        case S => (nul("decimal(38,0)"), nul("decimal(38,0)"),
                   nul("double"), nul("double"),
                   col(s"__mn_$c").cast("string"), col(s"__mx_$c").cast("string"))
      }
      struct(lit(c).as("col_name"), col("__n").as("n_rows"),
             (col("__n") - col(s"__cnt_$c")).as("n_nulls"),
             col(s"__hll_$c").as("hll"),
             mnI.as("min_int"), mxI.as("max_int"),
             mnF.as("min_dbl"), mxF.as("max_dbl"),
             mnS.as("min_str"), mxS.as("max_str"),
             col(s"__mn_$c").cast("string").as("min_render"),
             col(s"__mx_$c").cast("string").as("max_render"))
    }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
      .write.mode("append").parquet(dir)
  }

  /** Merge profile partials at read: counts sum, min/max order on
    * their typed slot with `min_by`/`max_by` carrying the winning
    * partial's NATIVE rendering (the global extreme always comes from
    * some batch's partial, whose render is exact), HLL sketches union
    * then estimate. Reads the v2 partial schema written by
    * [[appendProfilePartials]] — partials from an older writer need a
    * rebuild, not a schema merge. */
  def readProfile(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy(col("col_name"))
      .agg(sum(col("n_rows")).as("n_rows"),
           sum(col("n_nulls")).as("n_nulls"),
           expr("hll_sketch_estimate(hll_union_agg(hll))").as("n_distinct_approx"),
           min_by(col("min_render"), col("min_int")).as("__mn_i"),
           max_by(col("max_render"), col("max_int")).as("__mx_i"),
           min_by(col("min_render"), col("min_dbl")).as("__mn_d"),
           max_by(col("max_render"), col("max_dbl")).as("__mx_d"),
           min_by(col("min_render"), col("min_str")).as("__mn_s"),
           max_by(col("max_render"), col("max_str")).as("__mx_s"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
              col("n_distinct_approx"),
              coalesce(col("__mn_s"), col("__mn_i"), col("__mn_d")).as("min_val"),
              coalesce(col("__mx_s"), col("__mx_i"), col("__mx_d")).as("max_val"))
      .orderBy("col_name")

  /** Ingest-time data-quality monitoring over any streamed parquet
    * table: drain micro-batches, append one partial-profile row set per
    * batch, merge at read. The partials directory is the (small,
    * per-batch × per-column) monitoring artifact a deployment keeps
    * next to the data. */
  def streamingProfile(spark: SparkSession, dataDir: String, fileName: String,
                       cols: Seq[String],
                       maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val dir = StarJoins.scratchTemp("graft_profile").toString
    withRunCheckpoint { ckpt =>
      val q = fileStream(spark, dataDir, fileName, maxFilesPerTrigger)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          appendProfilePartials(b, cols, s"$dir/partials")
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    readProfile(spark, s"$dir/partials")
  }

  /** Driver entry: streamed profile of the documents fixture. */
  def streamingProfileDocuments(spark: SparkSession, sfDir: String): DataFrame =
    streamingProfile(spark, sfDir, "documents.parquet",
                     Seq("doc_id", "lang", "n_chars", "source", "text"))

  /** STREAMING ingest dedup — [[graft.llm.Dedup.incrementalDedup]]'s
    * production shape: newly-delivered documents arrive as a stream,
    * are probed against the standing corpus's fingerprint index with a
    * stream-static LEFT ANTI join (the static side is the persisted
    * skinny (fp) index; the stream side never blocks on it), and
    * in-flight duplicates collapse in streaming state keyed on fp,
    * keeping the min-doc_id copy — the same deterministic keeper as the
    * batch window. Per-language admitted counts are rolled up at read
    * (chained stateful aggregations are not streamable; the second
    * level is exactly the merge-at-read the MV sinks already do).
    *
    * State is bounded by the batch's DISTINCT fingerprints; a
    * continuous deployment ages it with a watermark horizon the same
    * way [[streamingDedup]] does. The complete-mode drain re-emits the
    * admitted keyspace each batch into a per-batch parquet overwrite
    * (off the executors, never a driver table) — fine for a
    * delivery-sized drain; an endless stream swaps complete for update
    * mode so each batch appends only its own admissions. Oracled: q106
    * shares the batch admission semantics (fresh fp, min doc_id
    * wins). */
  def streamingIngestDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val corpusFps = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 0)
      .select(md5(col("text")).as("fp")).distinct()
    val admitted = fileStream(spark, sfDir, "documents.parquet")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("fp"))
      .join(corpusFps, Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("lang"))).as("keep"))
    drainToParquet(admitted, "complete")
      .groupBy(col("keep.lang").as("lang"))
      .agg(count(lit(1)).as("n_admitted"))
      .orderBy("lang")
  }
}
