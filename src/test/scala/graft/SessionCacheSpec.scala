package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Dedup
import graft.ops.Rollups

/** The one per-session cache ([[SessionCache]]): entries follow their
  * source files, builds are single-flight per key, failures are not
  * memoized, and a released session loses only its own entries. */
class SessionCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }

  /** Replaces the single-file table `name` under `dir` with `df`'s rows. */
  private def rewrite(dir: Path, name: String, df: DataFrame): Unit = {
    val out = Files.createTempDirectory("graft_rewrite")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(out.resolve("t").toString)
      val file = Files.list(out.resolve("t"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      Files.copy(file, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    } finally deleteTree(out)
  }

  /** Byte sizes of the file relations a plan reads, as their file
    * indexes listed them. */
  private def sizes(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[Long] =
    plan.collect { case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.sizeInBytes }

  /** [[sizes]] of the cache entry serving `df`, if any. */
  private def cachedSizes(df: DataFrame): Seq[Long] =
    spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .toSeq.flatMap(cd => sizes(cd.plan))

  /** Rewrites orders and documents in a scratch copy of the fixtures
    * (a temp dir named `prefix`) and checks every memo follows them. */
  private def rewrittenMidSession(prefix: String): Unit = {
    val dir = Files.createTempDirectory(prefix).resolve("sf")
    Files.createDirectories(dir)
    Files.list(java.nio.file.Paths.get(TestSpark.sf)).forEach(f =>
      Files.copy(f, dir.resolve(f.getFileName)))
    val sf = dir.toString
    try {
      def routedRows() = Rollups.ordersDailySalesRouted(spark, sf).collect().toSeq
      val orders0 = Tables.load(spark, sf, "orders").count()
      val docs0 = Tables.documents(spark, sf).count()
      val idx0 = Dedup.shingleIndex(spark, sf)
      assert(idx0.count() == docs0)
      val routed0 = routedRows()
      assert(routed0.nonEmpty)

      rewrite(dir, "orders", Tables.load(spark, sf, "orders").filter($"o_orderkey" % 2 === 0))
      rewrite(dir, "documents", Tables.documents(spark, sf).filter($"doc_id" % 2 === 0))

      val orders1 = Tables.load(spark, sf, "orders")
      assert(sizes(orders1.queryExecution.analyzed) ==
        Seq(Files.size(dir.resolve("orders.parquet"))), "a fresh file index")
      assert(orders1.count() == orders1.filter($"o_orderkey" % 2 === 0).count())
      assert(orders1.count() < orders0)
      val docs1 = Tables.documents(spark, sf).count()
      assert(docs1 < docs0)
      val idx1 = Dedup.shingleIndex(spark, sf)
      assert(idx1.count() == docs1)
      assert(idx1.filter($"doc_id" % 2 =!= 0).count() == 0)
      // the routed read answers from a rollup rebuilt over the new orders:
      // it equals the live (unrouted) query over the same file
      val routed1 = routedRows()
      assert(routed1 != routed0)
      assert(routed1 == Rollups.ordersDailySalesRaw(spark, sf).collect().toSeq)

      // the superseded persisted index is gone: the cache entry serving
      // either plan was built over the rewritten documents file
      val docBytes = Files.size(dir.resolve("documents.parquet"))
      assert(cachedSizes(idx1) == Seq(docBytes))
      assert(cachedSizes(idx0).forall(_ == docBytes))
      idx1.unpersist()
    } finally {
      deleteTree(dir.getParent)
      deleteTree(java.nio.file.Paths.get(Rollups.ordersRollupDir(sf)))
    }
  }

  test("a table rewritten mid-session is re-read by the relation memo, " +
       "the shingle index and an ensureRollup-built routed read") {
    // the second dir name has a space: `inputFiles` percent-encodes it,
    // and the routed read's rollup must still see its source change
    Seq("graft_sessioncache", "graft session cache").foreach(rewrittenMidSession)
  }

  test("the watermarked sketch rollups of q185, q189 and q192 are rebuilt " +
       "when events.parquet changes mid-session") {
    val dir = Files.createTempDirectory("graft_hybrid_fresh").resolve("sf")
    Files.createDirectories(dir)
    Files.list(java.nio.file.Paths.get(TestSpark.sf)).forEach(f =>
      Files.copy(f, dir.resolve(f.getFileName)))
    val sf = dir.toString
    // each hybrid read beside its live twin; KLL states are randomized,
    // so q189 is compared on its exact columns only
    type Live = (org.apache.spark.sql.SparkSession, String) => DataFrame
    val reads = Seq[(String, String, Live, Boolean)](
      ("q185_uniq_sketch_hybrid", "uniq_sketch_hybrid", Rollups.dailyUniqSketchRaw, true),
      ("q189_quantile_sketch_hybrid", "quantile_sketch_hybrid",
        Rollups.dailyQuantileSketchRaw, false),
      ("q192_topk_sketch_hybrid", "topk_sketch_hybrid", Rollups.dailyTopUsersScalar, true))
    def txs(df: DataFrame) = df.select("day", "daily_txs").collect().toSeq
    try {
      val before = reads.map { case (q, _, _, _) => txs(SparkEntry.queries(q)(spark, sf)) }
      rewrite(dir, "events", Tables.events(spark, sf).filter($"user_id" % 2 === 0))
      reads.zip(before).foreach { case ((q, _, raw, exact), txs0) =>
        val got = SparkEntry.queries(q)(spark, sf)
        val live = raw(spark, sf)
        assert(txs(got) == txs(live), s"$q must read the rewritten events")
        assert(txs(got) != txs0, s"$q: the rewrite must change its answer")
        if (exact) assert(got.collect().toSeq == live.collect().toSeq, q)
      }
    } finally {
      deleteTree(dir.getParent)
      reads.foreach { case (_, name, _, _) =>
        deleteTree(java.nio.file.Paths.get(ops.StarJoins.scratch(sf, name)))
      }
    }
  }

  test("two threads asking for the same key run one build") {
    val builds = new AtomicInteger()
    val key = s"k${System.nanoTime()}"
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        gate.await()
        SessionCache(spark, "spec.concurrent", key)(Nil) {
          builds.incrementAndGet(); Thread.sleep(200); "v"
        }
        ()
      })
    }
    threads.foreach(_.start())
    gate.countDown()
    threads.foreach(_.join())
    assert(builds.get == 1)
    assert(SessionCache.stats("spec.concurrent").hits == 1)
  }

  test("a throwing build is not memoized: the next call retries it") {
    val builds = new AtomicInteger()
    def get(): String = SessionCache(spark, "spec.retry", "k")(Nil) {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("boom")
      "v"
    }
    intercept[IllegalStateException](get())
    assert(get() == "v")
    assert(get() == "v")
    assert(builds.get == 2)
  }

  test("releasing a newSession drops only that session's entries") {
    val other = spark.newSession()
    val builds = new AtomicInteger()
    def get(s: org.apache.spark.sql.SparkSession): String =
      SessionCache(s, "spec.release", "k")(Nil) { builds.incrementAndGet(); "v" }
    get(spark); get(other)
    assert(builds.get == 2)
    SessionCache.release(other)
    get(spark)
    assert(builds.get == 2, "the live session keeps its entry")
    get(other)
    assert(builds.get == 3, "the released session rebuilds")
    SessionCache.release(other)
  }
}
