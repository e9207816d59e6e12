package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A planner-added exchange over a one-split scan becomes `Coalesce 1`
  * on the initial adaptive plan ([[graft.plans.OnePartition]]); input
  * that is not provably one partition keeps its exchanges. Every events
  * scan at `TestSpark.sf` is one split; `TestSpark.splitSf` holds the
  * same rows in four. */
class OnePartitionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf
  import TestSpark.withConf

  private def shuffles(plan: String): Int = "(?<!Broadcast)Exchange ".r.findAllIn(plan).length

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** Per-user event counts, read from the raw fixture file. */
  private lazy val perUser: Map[Long, Long] =
    Tables.events(spark, sf).select($"user_id").collect().toSeq
      .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.size.toLong }

  private def counts(dir: String): DataFrame =
    Tables.events(spark, dir).groupBy($"user_id").agg(count(lit(1)).as("n"))

  test("q01, q04 and q230 each run one job and their final plans hold no Exchange") {
    for (name <- Seq("q01_daily_rollup", "q04_uniq_users", "q230_funnel_from_states")) {
      def q: DataFrame = SparkEntry.queries(name)(spark, sf)
      q.write.format("noop").mode("overwrite").save() // build what it reads
      var plan = ""
      val jobs = SparkJobs.during(spark) { plan = SavedPlan.of(spark, q) }
      assert(!plan.contains("Exchange"), s"$name:\n$plan")
      assert(plan.contains("Coalesce 1"), s"$name:\n$plan")
      assert(jobs == 1, s"$name ran $jobs jobs:\n$plan")
    }
  }

  test("a four-split scan keeps its exchanges and returns the same rows") {
    def q01(dir: String): DataFrame = SparkEntry.queries("q01_daily_rollup")(spark, dir)
    assert(shuffles(q01(TestSpark.splitSf).queryExecution.executedPlan.toString) == 2)
    val plan = SavedPlan.of(spark, q01(TestSpark.splitSf))
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert(rows(q01(TestSpark.splitSf)) == rows(q01(sf)))
  }

  test("a sort-merge join of a one-split and a four-split side keeps both exchanges") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // each side's aggregate exchange also partitions it for the join:
      // coalescing only the one-split side would zip 1 partition with 4
      val joined = counts(sf).join(counts(TestSpark.splitSf).withColumnRenamed("n", "m"), "user_id")
      val plan = SavedPlan.of(spark, joined)
      assert(plan.contains("SortMergeJoin"), plan)
      assert("Exchange hashpartitioning".r.findAllIn(plan).length == 2, plan)
      assert(!plan.contains("Coalesce 1"), plan)
      assert(rows(joined) == perUser.toSeq.map { case (u, n) => Row(u, n, n) }.sortBy(_.toString))
    }
  }

  test("a sort-merge join of two one-split sides runs as one stage") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = counts(sf).join(counts(sf).withColumnRenamed("n", "m"), "user_id")
      var plan = ""
      val jobs = SparkJobs.during(spark) { plan = SavedPlan.of(spark, joined) }
      assert(plan.contains("SortMergeJoin") && shuffles(plan) == 0, plan)
      assert(jobs == 1, s"ran $jobs jobs:\n$plan")
      assert(rows(joined) == perUser.toSeq.map { case (u, n) => Row(u, n, n) }.sortBy(_.toString))
    }
  }

  test("a bucketed scan keeps the exchange; the same scan read unbucketed does not") {
    val table = "graft_one_bucket"
    Tables.events(spark, sf).coalesce(1).write.mode("overwrite")
      .bucketBy(1, "user_id").saveAsTable(table)
    try {
      def byType: DataFrame = spark.table(table).groupBy($"event_type").agg(max($"user_id"))
      val bucketed = withConf("spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
        SavedPlan.of(spark, byType)
      }
      assert(bucketed.contains("Exchange hashpartitioning"), bucketed)
      val plain = withConf("spark.sql.sources.bucketing.enabled" -> "false") {
        SavedPlan.of(spark, byType)
      }
      assert(shuffles(plain) == 0 && plain.contains("Coalesce 1"), plain)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a scan under dynamic partition pruning keeps the exchange") {
    val dir = ops.StarJoins.scratchTemp("graft_dpp").toString
    Tables.events(spark, sf).withColumn("p", lit(0)).coalesce(1)
      .write.partitionBy("p").parquet(s"$dir/fact")
    Seq((0, "x"), (1, "y")).toDF("p", "label").coalesce(1).write.parquet(s"$dir/dim")
    def q: DataFrame = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim").filter($"label" === "x"), "p")
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    val pruned = SavedPlan.of(spark, q)
    assert(pruned.contains("dynamicpruning"), pruned)
    assert(pruned.contains("Exchange hashpartitioning"), pruned)
    val got = rows(q)
    // the broadcast join between scan and exchange keeps it with or
    // without the pruning filter: a join can add rows
    withConf("spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false") {
      val plain = SavedPlan.of(spark, q)
      assert(!plain.contains("dynamicpruning") && plain.contains("Exchange hashpartitioning"), plain)
      assert(rows(q) == got)
    }
    assert(got == perUser.toSeq.map { case (u, n) => Row(u, n) }.sortBy(_.toString))
  }

  test("a Union on the path keeps the exchange") {
    val both = Tables.events(spark, sf).union(Tables.events(spark, sf))
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    val plan = SavedPlan.of(spark, both)
    assert(plan.contains("Union") && plan.contains("Exchange hashpartitioning"), plan)
    assert(rows(both) == perUser.toSeq.map { case (u, n) => Row(u, 2 * n) }.sortBy(_.toString))
  }

  test("an aggregate over a Union of a one-split and a four-split aggregate keeps their exchanges") {
    // the Union passes its children's shared hash partitioning up, so the
    // outer aggregate has no exchange of its own: coalescing only the
    // one-split child would split each user's rows across partitions
    val both = counts(sf).union(counts(TestSpark.splitSf))
      .groupBy($"user_id").agg(sum($"n").as("n"))
    assert(rows(both) == perUser.toSeq.map { case (u, n) => Row(u, 2 * n) }.sortBy(_.toString))
    val plan = SavedPlan.of(spark, both)
    assert(plan.contains("Union") && "Exchange hashpartitioning".r.findAllIn(plan).length == 2, plan)
    assert(!plan.contains("Coalesce 1"), plan)
  }

  test("an explode between the scan and the exchange keeps the exchange") {
    // the scan's size no longer bounds the rows the exchange receives
    val exploded = Tables.events(spark, sf)
      .select($"user_id", explode(array(lit(1), lit(2))).as("k"))
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    val plan = SavedPlan.of(spark, exploded)
    assert(plan.contains("Generate") && plan.contains("Exchange hashpartitioning"), plan)
    assert(rows(exploded) == perUser.toSeq.map { case (u, n) => Row(u, 2 * n) }.sortBy(_.toString))
  }

  test("a scan counts as one split exactly when Spark reads it as one partition") {
    val paths = new java.io.File(sf).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted :+
      s"${TestSpark.splitSf}/events.parquet"
    for (path <- paths) {
      val scan = spark.read.parquet(path)
      val splits = scan.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.inputRDD.getNumPartitions
      }.get
      val plan = SavedPlan.of(spark, scan.groupBy(scan.columns.head).count())
      assert(plan.contains("Coalesce 1") == (splits == 1), s"$path, $splits splits:\n$plan")
    }
  }

  test("with partition coalescing off every exchange stays") {
    val plan = withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      SavedPlan.of(spark, SparkEntry.queries("q01_daily_rollup")(spark, sf))
    }
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("Exchange rangepartitioning"), plan)
    assert(!plan.contains("Coalesce 1"), plan)
  }

  test("a user's repartition(3) keeps its 3 partitions") {
    val df = counts(sf).repartition(3)
    val plan = SavedPlan.of(spark, df)
    assert(plan.contains("RoundRobinPartitioning(3)"), plan)
    assert(df.select(spark_partition_id()).distinct().count() == 3)
    val under = Tables.events(spark, sf).repartition(3, $"user_id")
      .groupBy($"user_id", $"event_type").count()
    assert(under.rdd.getNumPartitions == 3)
    assert(SavedPlan.of(spark, under).contains("hashpartitioning(user_id#"))
  }
}
