package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STEADY-STATE maintenance measurement for the drain-dominated
  * lifecycle rows (q171 / q183 / q197 in docs/SCALING.md).
  *
  * Those queries' ×100 bench numbers are dominated by the ONE-TIME
  * delivery of 100× the history through the maintainer — an honest
  * backfill cost, but not what a production deployment pays per
  * trigger. The production claim is "maintenance is BATCH-sized":
  * appending one micro-batch costs ~the batch, independent of how
  * much state the rollup already holds (partial blocks append; nothing
  * rewrites). This main MEASURES that claim instead of arguing it:
  *
  *  - `steady_sec`: one production-sized delivery (the original
  *    sf-sized fact, ≈1% of the ×100 replica) drained by
  *    [[graft.streaming.Live.maintainJoinRollup]] against an
  *    ALREADY-BUILT ×100 rollup;
  *  - `empty_sec`: the SAME delivery drained against an empty rollup
  *    directory (the state-size-independence control — steady ≈ empty
  *    is the claim);
  *  - `build_sec`: the one-shot ×100 partial build, for scale (this is
  *    the cost the lifecycle bench rows are dominated by).
  *
  * Run: SPARK_GRAFT_SF_DIR=<×100 replica> SPARK_GRAFT_BATCH_DIR=<sf0.1>
  *        sbt "runMain graft.SteadyStateBench"
  * Prints one JSON line per target plus a totals line.
  */
object SteadyStateBench {
  import graft.plans.RollupRouting
  import graft.plans.RollupRouting.JoinSpec

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Drain every file in `deliveryDir` as ONE availableNow micro-batch
    * through the join maintainer. */
  private def drain(spark: SparkSession, deliveryDir: String, factTable: String,
                    dims: Map[String, DataFrame], spec: JoinSpec): Double = {
    val schema = spark.read.parquet(deliveryDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "100000").parquet(deliveryDir)
    timed {
      graft.streaming.Live.maintainJoinRollup(stream, factTable, dims, spec)
    }._2
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val big = sys.env("SPARK_GRAFT_SF_DIR")    // the ×100 replica
    val small = sys.env("SPARK_GRAFT_BATCH_DIR") // one-delivery source
    val work = java.nio.file.Files.createTempDirectory("graft_steady")

    // one normalized production-sized delivery per fact table
    val evDelivery = work.resolve("ev_delivery").toString
    Tables.events(spark, small).coalesce(2).write.parquet(evDelivery)
    val liDelivery = work.resolve("li_delivery").toString
    Tables.lineitem(spark, small).coalesce(2).write.parquet(liDelivery)

    case class Target(name: String, factTable: String, deliveryDir: String,
                      mkSpec: String => JoinSpec,
                      fact: DataFrame, dims: Map[String, DataFrame])
    val orders = Tables.orders(spark, big)
    val customer = Tables.customer(spark, big)
    val events = Tables.events(spark, big)
    val targets = Seq(
      Target("q171_revseg", "lineitem", liDelivery,
        JoinSpec.revenueSegmentDated _,
        Tables.lineitem(spark, big),
        Map("orders" -> orders, "customer" -> customer)),
      Target("q183_evseg_hourly", "events", evDelivery,
        JoinSpec.eventsSegmentHourly _,
        events, Map("customer" -> customer)),
      Target("q197_uniqseg", "events", evDelivery,
        JoinSpec.uniqSegmentDaily _,
        events, Map("customer" -> customer)))

    // the SINGLE-TABLE maintainer's steady state (the q168-class
    // drain-dominated row): one orders-sized delivery through
    // maintainRollup against the built ×100 (day, customer) rollup
    val ordDelivery = work.resolve("ord_delivery").toString
    Tables.orders(spark, small).coalesce(2).write.parquet(ordDelivery)
    val singleRow = {
      val builtDir = work.resolve("q168_orders_built").toString
      val spec = graft.ops.Rollups.ordersSpec(builtDir)
      val (_, buildSec) = timed {
        RollupRouting.buildPartials(orders, spec).write.parquet(builtDir)
      }
      def drain1(s: graft.plans.RollupRouting.Spec): Double = {
        val schema = spark.read.parquet(ordDelivery).schema
        timed {
          graft.streaming.Live.maintainRollup(
            spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "100000").parquet(ordDelivery), s)
        }._2
      }
      val steadySec = drain1(spec)
      val emptySec = drain1(
        graft.ops.Rollups.ordersSpec(work.resolve("q168_orders_empty").toString))
      println(s"""{"target":"q168_orders","build_sec":${f"$buildSec%.2f"},""" +
        s""""steady_sec":${f"$steadySec%.2f"},"empty_sec":${f"$emptySec%.2f"}}""")
      ("q168_orders", buildSec, steadySec, emptySec)
    }

    val rows = singleRow +: targets.map { t =>
      // one-shot ×100 build (the backfill the lifecycle rows pay)
      val builtDir = work.resolve(s"${t.name}_built").toString
      val spec = t.mkSpec(builtDir)
      val (_, buildSec) = timed {
        RollupRouting.buildJoinPartials(t.dims + (t.factTable -> t.fact), spec)
          .write.parquet(builtDir)
      }
      // steady state: ONE batch-sized delivery against the built state
      val steadySec = drain(spark, t.deliveryDir, t.factTable, t.dims, spec)
      // control: the SAME delivery against an empty state
      val emptySpec = t.mkSpec(work.resolve(s"${t.name}_empty").toString)
      val emptySec = drain(spark, t.deliveryDir, t.factTable, t.dims, emptySpec)
      println(s"""{"target":"${t.name}","build_sec":${f"$buildSec%.2f"},""" +
        s""""steady_sec":${f"$steadySec%.2f"},"empty_sec":${f"$emptySec%.2f"}}""")
      (t.name, buildSec, steadySec, emptySec)
    }
    println("{\"metric\":\"steady_state_maintenance\",\"targets\":{" +
      rows.map { case (n, b, s, e) =>
        s""""$n":{"build_sec":${f"$b%.2f"},"steady_sec":${f"$s%.2f"},"empty_sec":${f"$e%.2f"}}"""
      }.mkString(",") + "}}")
    spark.stop()
  }
}
