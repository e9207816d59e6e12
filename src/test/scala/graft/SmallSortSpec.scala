package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Final adaptive plans, read after the query ran. */
object SavedPlan {
  /** The final adaptive plan of the noop save of `df`, as a string. */
  def of(spark: SparkSession, df: DataFrame): String = {
    val plans = new LinkedBlockingQueue[QueryExecution]
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      df.write.format("noop").mode("overwrite").save()
      val qe = plans.poll(60, TimeUnit.SECONDS)
      assert(qe != null, "the save never reached the listener")
      finalPlan(qe)
    } finally spark.listenerManager.unregister(l)
  }

  /** The final plan inside every adaptive node of an executed query. */
  private def finalPlan(qe: QueryExecution): String = {
    val adaptive = qe.executedPlan.collect { case a: AdaptiveSparkPlanExec => a }
    assert(adaptive.nonEmpty, qe.executedPlan.toString)
    adaptive.map(_.executedPlan.toString).mkString("\n")
  }
}

/** A global sort over a materialized input that fits in one partition
  * runs as `Coalesce 1` instead of a sampled range shuffle (the stage
  * evidence of [[graft.plans.OnePartition]]); every other range
  * exchange stays. */
class SmallSortSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf

  private def q01: DataFrame = SparkEntry.queries("q01_daily_rollup")(spark, sf)

  import TestSpark.withConf

  private def savedPlan(df: DataFrame): String = SavedPlan.of(spark, df)

  private def rangeExchanges(plan: String): Int =
    "Exchange rangepartitioning".r.findAllIn(plan).length

  test("q01's ORDER BY runs as Coalesce 1 after its aggregate stage: 2 jobs, " +
       "and the plan before execution still shows the range exchange") {
    // over a four-split events scan the aggregate keeps its shuffle, so
    // the sort's input is a materialized stage (one split would run the
    // whole query as one stage before any stage exists)
    def q01: DataFrame = SparkEntry.queries("q01_daily_rollup")(spark, TestSpark.splitSf)
    q01.write.format("noop").mode("overwrite").save() // warm the relation memo
    assert(rangeExchanges(q01.queryExecution.executedPlan.toString) == 1)
    var plan = ""
    val jobs = SparkJobs.during(spark) { plan = savedPlan(q01) }
    assert(plan.contains("Coalesce 1"), plan)
    assert(rangeExchanges(plan) == 0, plan)
    assert(jobs == 2, s"the aggregate's shuffle and the final stage, ran $jobs jobs:\n$plan")
  }

  test("an input over the one-partition size keeps the range exchange") {
    val plan = withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b") {
      savedPlan(q01)
    }
    assert(rangeExchanges(plan) == 1, plan)
    assert(!plan.contains("Coalesce 1"), plan)
  }

  test("with partition coalescing off the range exchange stays") {
    val plan = withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      savedPlan(q01)
    }
    assert(rangeExchanges(plan) == 1, plan)
    assert(!plan.contains("Coalesce 1"), plan)
  }

  test("a Generate on the path keeps the range exchange; a window does not") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{collect_list, explode, rank}
    val agg = spark.range(0, 1000, 1, 4).groupBy(($"id" % 30).as("k"))
      .agg(collect_list($"id").as("ids"))
    val exploded = savedPlan(agg.select($"k", explode($"ids").as("id")).orderBy($"id"))
    assert(rangeExchanges(exploded) == 1, exploded)
    val ranked = savedPlan(agg.select($"k",
      rank().over(Window.partitionBy($"k" % 3).orderBy($"k")).as("r")).orderBy($"r", $"k"))
    assert(ranked.contains("Coalesce 1"), ranked)
    assert(rangeExchanges(ranked) == 0, ranked)
  }

  test("repartitionByRange(3, ...) over a small aggregate keeps 3 partitions") {
    val df = spark.range(0, 1000, 1, 4).groupBy(($"id" % 30).as("k")).count()
      .repartitionByRange(3, $"k")
    assert(df.rdd.getNumPartitions == 3)
    val plan = savedPlan(df)
    assert(rangeExchanges(plan) == 1, plan)
    assert(df.select(org.apache.spark.sql.functions.spark_partition_id())
      .distinct().count() == 3)
  }

  test("a desc, nulls-last sort with ties over a 4-partition stage equals a " +
       "local sort of the rows") {
    val rows: Seq[(Option[Int], String)] =
      Seq(Some(3), None, Some(1), Some(3), Some(2), None, Some(1), Some(3), Some(-1), Some(2))
        .zipWithIndex.flatMap { case (k, i) => Seq((k, s"v${i % 3}"), (k, s"v${i % 2}")) }
    val df = rows.toDF("k", "v").repartition(4)
      .orderBy($"k".desc_nulls_last, $"v")
    val plan = savedPlan(df)
    assert(plan.contains("Coalesce 1"), plan)
    val got = df.collect().map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)), r.getString(1)))
    val want = rows.sortBy { case (k, v) => (k.isEmpty, k.map(-_).getOrElse(0), v) }
    assert(got.toSeq == want)
  }
}
