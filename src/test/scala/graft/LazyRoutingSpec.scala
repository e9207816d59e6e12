package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.RollupRouting
import graft.plans.RollupRouting.{Catalog, Spec}

/** Counts the Spark jobs a block starts. */
object SparkJobs {
  /** Spark jobs started while `f` runs. A marker job after `f` bounds
    * the count: the listener sees job starts in order. */
  def during(spark: SparkSession)(f: => Unit): Int = {
    val marker = "SparkJobs.marker"
    val starts = new LinkedBlockingQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      Iterator.continually(starts.poll(60, TimeUnit.SECONDS)).takeWhile { d =>
        assert(d != null, "the marker job never reached the listener")
        d != marker
      }.size
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

/** Routing is a property of the plan: a routed entry point returns a
  * lazy frame whose own plan scans the rollup, and each session routes
  * with its own registry. */
class LazyRoutingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  /** The root paths of every file relation `plan` reads. */
  private def roots(plan: LogicalPlan): Seq[String] = plan.collect {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.map(_.toString)
  }.flatten

  test("routed construct is lazy: no job on a warm construct, the plan scans " +
       "the rollup, and raw twins constructed after it stay live") {
    val routed = Seq("q144_revenue_segment_routed", "q155_daily_from_hourly_routed",
      "q169_uniq_users_routed", "q176_advised_orders", "q230_funnel_from_states")
    val twins = Seq("q01_daily_rollup", "q04_uniq_users", "q16_revenue_segment")
    val scratchRoot = new java.io.File(sys.props("java.io.tmpdir"), "graft_").getAbsolutePath
    routed.foreach { name =>
      val construct = SparkEntry.queries(name)
      construct(spark, sf) // builds (or reuses) the rollup through SessionCache
      var df: DataFrame = null
      val jobs = SparkJobs.during(spark) { df = construct(spark, sf) }
      assert(jobs == 0, s"$name: a warm routed construct must run no Spark job, ran $jobs")
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collect { case r: LogicalRDD => r }.isEmpty,
        s"$name: the routed frame must not be a checkpoint scan:\n$plan")
      val read = roots(plan)
      assert(read.nonEmpty && read.forall(_.contains(scratchRoot)) &&
          !read.exists(_.contains(sf)),
        s"$name: the routed frame must scan only its rollup, read $read")
      twins.foreach { twin =>
        val raw = roots(SparkEntry.queries(twin)(spark, sf).queryExecution.optimizedPlan)
        assert(raw.nonEmpty && raw.forall(_.contains(sf)),
          s"$twin after $name must plan a live scan of the fact table, read $raw")
      }
    }
  }

  test("two sessions route independently, also from two threads at once; " +
       "a session's rule leaves a routed frame alone") {
    val base = Files.createTempDirectory("graft_two_sessions")
    val other = spark.newSession()
    val prevActive = SparkSession.getActiveSession
    def in[A](s: SparkSession)(f: => A): A = {
      SparkSession.setActiveSession(s)
      try f finally prevActive.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
    val prevRules = spark.experimental.extraOptimizations
    try {
      val events = Tables.events(spark, sf)
      val dayDir = base.resolve("day_rollup").toString
      val hourDir = base.resolve("hour_rollup").toString
      ops.Rollups.dailyPartialsOf(events).write.parquet(dayDir)
      ops.Rollups.hourlyPartialsOf(events).write.parquet(hourDir)
      val daySpec = Spec("events.parquet", dayDir)
      val hourSpec = Spec("events.parquet", hourDir, "hour")
      val live = ops.Rollups.daily(spark, sf).collect().toSeq

      in(spark) { RollupRouting.register(daySpec); RollupRouting.install(spark) }
      in(other) { RollupRouting.register(hourSpec); RollupRouting.install(other) }

      // the same raw query in both sessions at once: each reads its own rollup
      val go = new CountDownLatch(1)
      val results = new LinkedBlockingQueue[(String, Seq[String], Seq[Row])]
      val failures = new LinkedBlockingQueue[Throwable]
      val threads = Seq("spark" -> spark, "other" -> other).map { case (label, s) =>
        new Thread(() => {
          try {
            SparkSession.setActiveSession(s)
            go.await()
            (1 to 3).foreach { _ =>
              val df = ops.Rollups.daily(s, sf)
              results.put((label, roots(df.queryExecution.optimizedPlan), df.collect().toSeq))
            }
          } catch { case t: Throwable => failures.put(t) }
        })
      }
      threads.foreach(_.start()); go.countDown(); threads.foreach(_.join())
      assert(failures.isEmpty, s"a routing thread failed: ${failures.peek()}")
      import scala.jdk.CollectionConverters._
      val got = results.asScala.toSeq
      assert(got.size == 6)
      got.foreach { case (label, read, rows) =>
        val want = if (label == "spark") dayDir else hourDir
        assert(read.nonEmpty && read.forall(_.endsWith(want)),
          s"session $label must read only its own rollup $want, read $read")
        assert(rows == live, s"session $label: routed rows must equal the live rows")
      }

      // clear() in one session leaves the other's registry as it was
      in(spark) { RollupRouting.clear() }
      assert(in(spark)(RollupRouting.registered).isEmpty)
      assert(in(other)(RollupRouting.registered) == List(hourSpec))

      // a frame routed over its own catalog keeps its rollup scan when
      // the session's installed rule holds a different spec
      val routed = RollupRouting.route(spark, Catalog(Seq(daySpec)))(ops.Rollups.daily(spark, sf))
      in(spark) { RollupRouting.register(hourSpec) }
      val raw = roots(ops.Rollups.daily(spark, sf).queryExecution.optimizedPlan)
      assert(raw.nonEmpty && raw.forall(_.endsWith(hourDir)),
        s"the session's rule must route a raw query onto its own registry, read $raw")
      val read = roots(routed.queryExecution.optimizedPlan)
      assert(read.nonEmpty && read.forall(_.endsWith(dayDir)),
        s"the routed frame must keep its own rollup scan, read $read")
      assert(routed.collect().toSeq == live)
    } finally {
      in(spark) { RollupRouting.clear() }
      in(other) { RollupRouting.clear() }
      spark.experimental.extraOptimizations = prevRules
      import scala.jdk.CollectionConverters._
      Files.walk(base).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }
}
