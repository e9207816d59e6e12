package graft
import org.apache.spark.sql.SparkSession

/** One session recipe for all local mains (Verify/Bench/DumpPlans) — the
  * nanosAsLong conf is load-bearing (events.ts is TIMESTAMP(NANOS)) and
  * must never drift between the tool that debugs and the tool that
  * measures. */
object Sessions {
  /** Settings that change what a run costs, not what it returns. The
    * test session applies them too, so the tests run on the same
    * FileSystem and code cache as the mains. */
  val engineConf: Map[String, String] = Map(
    // Spark caches generated classes under (context class loader, source
    // text). With artifact isolation every cloned session (each
    // `writeStream` runs in one, and StarJoins' `newSession` conf scope)
    // gets a fresh artifact UUID and with it a fresh executor class
    // loader, so each stream run misses the cache and recompiles code
    // identical to the previous run's: per warm run 7 Janino compiles
    // for q32, 14 for q56, 19 for q171, and 14-44 newly loaded classes
    // for the JIT to warm again (0 compiles without isolation). The
    // engine adds no session jars or files, so isolation protects
    // nothing here. A deployment that adds per-session artifacts
    // (Spark Connect) needs isolation back on.
    "spark.sql.artifact.isolation.enabled" -> "false",
    // Without libhadoop, Hadoop's local FileSystem forks `chmod` per file
    // create / mkdirs-with-mode and `readlink` per FileContext rename
    // (every streaming log write): 482 process starts per `maintain`
    // pass (q56 185, q160 173, q171 71, q32 53), each ~1.3 ms of JVM
    // CPU and ~2.7 ms of wall on a 4-core Xeon VM. LocalFs does both
    // through java.nio (~0.02 ms). Only `file:` paths; HDFS and object
    // stores are untouched. Together with the isolation entry: `maintain`
    // query_cpu_p50_s 2.875 -> 2.115 s, pass_cpu_s 15.80 -> 12.39 s
    // (medians of 10 interleaved bench pairs, same VM).
    "spark.hadoop.fs.file.impl" -> classOf[LocalChecksumFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalChecksumFs].getName,
    // Every shuffle the planner adds costs a job (a global ORDER BY two:
    // the RangePartitioner sampling job and the shuffle), and over a
    // dashboard's few-KB input that is all fixed cost. plans.OnePartition
    // turns a planner-added exchange into a one-task coalesce when its
    // input is provably one small partition: a materialized stage AQE
    // would coalesce to one partition anyway, or a one-split file scan,
    // which it sees before any stage runs, so a query over one-split
    // scans runs as one job (docs/PLANS.md "One-partition exchanges").
    // Jobs per pass: dashboard 47 -> 29 (global sorts) -> 19 (one-split
    // scans), maintain 49 -> 39 -> 36.
    "spark.sql.extensions" -> classOf[plans.EngineExtensions].getName)

  def local(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(engineConf)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled",
              sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      // r19 (guide §6/§1): above this many paths, partition discovery
      // launches a distributed LISTING JOB. On a local FS the job pays
      // ~0.6-0.7 s of scheduler latency to list directories the driver
      // walks in ~0.1 s (measured: 365-dir day lake, 0.77 s vs 0.11 s),
      // and every read of a day-partitioned rollup/lake crosses the
      // default threshold of 32. Parameterized: a cluster reading an
      // object store with thousands of partitions SHOULD distribute the
      // listing — set the env to Spark's default 32 there; the local
      // default only raises the cutover.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
              sys.env.getOrElse("SPARK_GRAFT_LIST_PARALLEL_THRESHOLD", "4096"))
      // r20 (guide §6): openCostInBytes models the per-file open cost
      // when packing scan splits; Spark's 4 MB default is an
      // object-store number. On a local FS with page-cached fixtures it
      // forces small files into 1–3 splits (11 MB lineitem → 3 tasks on
      // 32 cores), so scan→broadcast-join→partial-agg pipelines ride a
      // 3-task stage. 256 KB matches the measured local open cost and
      // restores scan parallelism (totalBytes/minPartitionNum stays the
      // binding term at cluster file sizes, so this only moves
      // small-file layouts). Env-parameterized: object-store
      // deployments should set it back to 4194304.
      .config("spark.sql.files.openCostInBytes",
              sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", "262144"))
      // r20 (guide §1.2 per-query fixed costs): the Janino
      // generated-class cache is keyed by source text with a 100-entry
      // default — a ~300-query workload compiles ~1500 codegen units,
      // so every pass re-evicts every other query's classes and each
      // timed run re-pays compilation (~50–150 ms per unit) that a
      // long-lived warehouse session pays once. 10k entries keeps the
      // whole workload's generated classes resident (compiled CODE, not
      // data or results — the JIT-cache analog). STATIC conf: takes
      // effect only on the first session of the JVM.
      .config("spark.sql.codegen.cache.maxEntries",
              sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "10000"))
      // r20 note: RocksDB changelog checkpointing +
      // trackTotalNumberOfRows=false were trialed for the
      // transformWithState queries (q56/q146/q148) and REJECTED —
      // interleaved ABAB on the streaming subset measured NEUTRAL
      // (11.17/11.37/10.19/9.49 s old/new/old/new): at 1-batch drains
      // with KB-scale state the cost is instance init + machinery, not
      // the per-batch snapshot upload or the rows-metric bookkeeping.
      // Defaults stay.
      // r19 note (guide §6): committer algorithm v2 was trialed and
      // REJECTED — its apparent plain-partitioned-write win did not
      // survive an interleaved same-JVM A/B (ambient I/O drift; this
      // box's write regime swings ~4× over minutes), and it regressed
      // dynamic-partition-overwrite jobs. The committer stays v1.
      // long multi-query runs accumulate localCheckpoint blocks that are
      // only reclaimed after a GC proves them unreachable; with a large
      // heap a full GC may never happen inside a 15-minute batch, so ask
      // the ContextCleaner to force one periodically
      .config("spark.cleaner.periodicGC.interval", "5min")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Functions.registerAll(s)
    s
  }
}
