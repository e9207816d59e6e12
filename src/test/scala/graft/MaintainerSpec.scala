package graft

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Rollups, StarJoins}
import graft.plans.RollupRouting.{Catalog, JoinSpec, route}
import graft.streaming.Live
import graft.TestSpark.fileStream

/** The streaming maintainers' commit step: one job per micro-batch,
  * and a drain that saw no rows leaves no rollup behind. */
class MaintainerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  /** The label of every action each micro-batch of `f`'s streams ran,
    * by batch id, in order. An action is one SQL execution: adaptive
    * execution runs its shuffle stages as further jobs of the same
    * execution. */
  def batchActions(f: => Unit): Map[String, Seq[String]] = {
    val seen = new ConcurrentLinkedQueue[(String, String, String)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("sql.streaming.queryId") != null)
          .foreach(p => seen.add((p.getProperty("streaming.sql.batchId"),
                                  p.getProperty("spark.sql.execution.id"),
                                  String.valueOf(p.getProperty("spark.job.description")))))
    }
    spark.sparkContext.addSparkListener(l)
    try { f; Bridge.drainListeners(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    seen.asScala.toSeq.distinct.groupBy(_._1).view
      .mapValues(_.sortBy(a => Option(a._2).fold(-1L)(_.toLong)).map(_._3)).toMap
  }

  test("a maintainer commits a batch in one labelled action, with no coverage-max job") {
    // the benchmark's fixtures: one file per table, so one batch
    val sf01 = new File("bench/data").getAbsolutePath
    val dir = StarJoins.scratchTemp("graft_commit_jobs")
    val single = batchActions(Live.maintainRollup(fileStream(sf01, "orders.parquet"),
      Rollups.ordersSpec(s"$dir/orders_rollup")))
    assert(single.values.toSeq == Seq(Seq("mr:orders append partial block")), single)
    // q171: the first dim prune materializes the fact pre-aggregation,
    // then the commit appends
    val join = batchActions(SparkEntry.queries("q171_stream_revseg_hybrid")(spark, sf01).collect())
    assert(join.values.toSeq == Seq(Seq("mjr:lineitem fact pre-agg + orders prune",
                                        "mjr:lineitem append partial block")), join)
  }

  test("a drain whose batches are all empty leaves no rollup; the query reads live") {
    val dir = StarJoins.scratchTemp("graft_empty_mv")
    val orders = Rollups.ordersSpec(s"$dir/orders_rollup")
    Live.maintainRollup(
      fileStream(sf, "orders.parquet").filter(col("o_orderkey") < 0), orders)
    assert(!new File(orders.rollupPath).exists, "an empty drain must leave no rollup dir")
    assert(route(spark, Catalog(Seq(orders)))(Rollups.ordersDailySalesRaw(spark, sf))
      .collect().toSeq == Rollups.ordersDailySalesRaw(spark, sf).collect().toSeq)

    val revenue = JoinSpec.revenueSegmentDated(s"$dir/revseg_rollup")
    Live.maintainJoinRollup(
      fileStream(sf, "lineitem.parquet").filter(col("l_orderkey") < 0), "lineitem",
      Map("orders" -> Tables.orders(spark, sf), "customer" -> Tables.customer(spark, sf)),
      revenue)
    assert(!new File(revenue.rollupPath).exists, "an empty drain must leave no rollup dir")
    assert(route(spark, Catalog(joinSpecs = Seq(revenue)))(StarJoins.revenueBySegment(spark, sf))
      .collect().toSeq == StarJoins.revenueBySegment(spark, sf).collect().toSeq)
  }
}
