package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `graft.DumpPlans` prints the same text for the same query, whatever
  * the process planned before it. */
class DumpPlansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("expression and exchange ids are renumbered in order of first appearance") {
    val a = "Project [b#17, a#9]\n+- Exchange hashpartitioning(a#9, 4), [plan_id=301]"
    val b = "Project [b#3, a#40]\n+- Exchange hashpartitioning(a#40, 4), [plan_id=7]"
    assert(DumpPlans.stable(a) == DumpPlans.stable(b))
    assert(DumpPlans.stable(a) == "Project [b#1, a#2]\n+- Exchange hashpartitioning(a#2, 4), [plan_id=1]")
  }

  test("scratch paths, RDD ids and lambda identities are masked") {
    val root = ops.StarJoins.scratchRoot.getAbsolutePath
    assert(DumpPlans.stable(s"Location: [file:$root/graft_ttl8812734401/ttl_lake]") ==
      "Location: [file:<scratch>/graft_ttl<n>/ttl_lake]")
    assert(DumpPlans.stable("[file:/tmp/graft_route_7712093345/daily]") ==
      "[file:/tmp/graft_route_<n>/daily]")
    assert(DumpPlans.stable("MapPartitionsRDD[1361] at localCheckpoint at GlobalRank.scala:52") ==
      "MapPartitionsRDD[<n>] at localCheckpoint at GlobalRank.scala:52")
    assert(DumpPlans.stable("Arguments: graft.llm.Dedup$$$Lambda$6873/0x00007ffa4578a7c8@67e3839b, obj#12") ==
      "Arguments: graft.llm.Dedup$$$Lambda, obj#1")
  }

  test("four distinct aggregates print one Expand order over fresh reads") {
    // each read allocates new attribute ids, and Spark orders the Expand
    // groups by their hashes
    def q = spark.read.parquet(s"${TestSpark.sf}/events.parquet")
      .agg(countDistinct($"user_id"), countDistinct($"event_type"),
           countDistinct($"props"), countDistinct($"event_id"), sum($"value"))
    val texts = (1 to 6).map(_ => DumpPlans.planText(spark, q))
    assert(texts.head.contains("Expand"), texts.head)
    assert(texts.distinct.size == 1, texts.distinct.mkString("\n----\n"))
  }
}
