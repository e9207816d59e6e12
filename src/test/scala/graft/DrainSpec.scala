package graft

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.{Bridge, TestBridge}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Live
import graft.TestSpark.fileStream

/** `Live.drain`: a stream's micro-batches get as many partitions as its
  * input needs, the caller's session keeps its own conf, and a finished
  * drain leaves no state store, listener bus or thread behind. Rows
  * never depend on the count, so only these counts show it. */
class DrainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  // the benchmark's fixtures: the sf0.01 tables
  val sf01: String = new File("bench/data").getAbsolutePath
  val Parts = "spark.sql.shuffle.partitions"
  val Advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  val Provider = "spark.sql.streaming.stateStore.providerClass"
  val Coalesce = "spark.sql.adaptive.coalescePartitions"

  /** q56's stream: per-user running totals under `transformWithState`. */
  def totals(dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    Tables.normalizeTs(fileStream(dir, "events.parquet"))
      .select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new Live.RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "tx_count", "total_value")
  }

  /** Progress of the streams `f` runs, as the caller's session hears it. */
  def progressOf(f: => Unit): Seq[StreamingQueryProgress] = {
    val seen = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = seen.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    try f finally spark.streams.removeListener(l)
    seen.asScala.toSeq
  }

  /** The most tasks any stage of a stream's jobs ran with during `f`. */
  def streamStageTasks(f: => Unit): Int = {
    val most = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null))
          e.stageInfos.foreach(s => most.accumulateAndGet(s.numTasks, math.max(_, _)))
    }
    spark.sparkContext.addSparkListener(l)
    try { f; Bridge.drainListeners(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    most.get
  }

  test("q32, q56 and q171 at sf0.01 run their micro-batches in one partition") {
    assert(spark.conf.get(Parts) == "4")
    for (name <- Seq("q32_stream_daily", "q56_stateful_totals", "q171_stream_revseg_hybrid")) {
      var progress = Seq.empty[StreamingQueryProgress]
      val tasks = streamStageTasks {
        progress = progressOf(SparkEntry.queries(name)(spark, sf01).collect())
      }
      assert(tasks == 1, s"$name: a stream stage ran $tasks tasks")
      assert(progress.nonEmpty, s"$name: the caller's listener heard no progress")
      progress.flatMap(_.stateOperators).foreach { op =>
        assert(op.numShufflePartitions == 1 && op.numStateStoreInstances == 1,
          s"$name: ${op.operatorName} ran ${op.numShufflePartitions} partitions " +
            s"and ${op.numStateStoreInstances} state stores")
      }
    }
  }

  test("inside foreachBatch and after the drain the caller's session keeps its own conf") {
    val before = (spark.conf.get(Parts), spark.conf.getOption(Provider))
    // the values the drain sets must differ from the session's own, or
    // an equal root proves nothing
    assert(before._1 != "1" && !before._2.exists(_.endsWith("RocksDBStateStoreProvider")),
      s"the session already holds the drain's settings: $before")
    val seen = new ConcurrentLinkedQueue[(String, String, (String, Option[String]))]()
    val q = Live.drain(totals(sf01), "update") { (b, _) =>
      seen.add((b.sparkSession.conf.get(Parts), b.sparkSession.conf.get(Provider),
                (spark.conf.get(Parts), spark.conf.getOption(Provider))))
      b.write.format("noop").mode("overwrite").save()
    }
    assert(q.exception.isEmpty)
    assert(!seen.isEmpty)
    seen.asScala.foreach { case (parts, provider, root) =>
      assert(parts == "1")
      assert(provider.endsWith("RocksDBStateStoreProvider"))
      assert(root == before, "the caller's session changed while the drain ran")
    }
    assert((spark.conf.get(Parts), spark.conf.getOption(Provider)) == before)
  }

  test("the count is ceil(source bytes / advisory size), capped at the session's count") {
    val events = fileStream(sf01, "events.parquet")
    val lineitem = fileStream(sf01, "lineitem.parquet")
    val (evBytes, liBytes) = (new File(s"$sf01/events.parquet").length,
                              new File(s"$sf01/lineitem.parquet").length)
    def ceil(bytes: Long, size: Long): Int = ((bytes + size - 1) / size).toInt
    // Spark's defaults: every sf0.01 source is within the 1 MB minimum
    assert(liBytes <= 1024 * 1024)
    assert(Live.partitionsFor(events) == 1 && Live.partitionsFor(lineitem) == 1)
    // the advisory size alone decides (no parallelism target, no floor)
    def sizedBy(advisory: String, more: (String, String)*)(f: => Unit): Unit =
      TestSpark.withConf(Seq(Advisory -> advisory, s"$Coalesce.parallelismFirst" -> "false",
                             s"$Coalesce.minPartitionSize" -> "1") ++ more: _*)(f)
    sizedBy("100k") {
      // only the glob-matched file counts: the whole dir would cap at 4
      assert(ceil(evBytes, 100 * 1024) == 3)
      assert(Live.partitionsFor(events) == 3)
      assert(Live.partitionsFor(lineitem) == math.min(4, ceil(liBytes, 100 * 1024)))
      val seen = new ConcurrentLinkedQueue[String]()
      Live.drain(events)((b, _) => { seen.add(b.sparkSession.conf.get(Parts)); () })
      assert(seen.asScala.toSet == Set("3"))
    }
    sizedBy("512k") {
      assert(Live.partitionsFor(lineitem) == ceil(liBytes, 512 * 1024))
    }
    sizedBy("10k", Parts -> "2") {
      assert(Live.partitionsFor(events) == 2)
    }
    // with parallelismFirst (the default) the target is at most an even
    // split over the default parallelism (4) and at least the minimum
    // partition size, as AQE coalesces a shuffle
    TestSpark.withConf(s"$Coalesce.minPartitionSize" -> "100k") {
      assert(Live.partitionsFor(events) == ceil(evBytes, 100 * 1024))
    }
    TestSpark.withConf(s"$Coalesce.minPartitionSize" -> "1", Advisory -> "200k") {
      assert(Live.partitionsFor(lineitem) == 4)
      assert(Live.partitionsFor(events) == 4)
    }
    // a source whose size is unknown keeps the session's count
    assert(Live.partitionsFor(spark.readStream.format("rate").load()) == 4)
  }

  test("a finished drain leaves no loaded state store, stream bus or checksum thread") {
    def checksumThreads(): Int = Thread.getAllStackTraces.keySet.asScala
      .count(t => t.isAlive && t.getName.contains("ChecksumCheckpointFileManager"))
    // close() stops a pool before it returns; its threads end just after
    def settled(): Int = { Thread.sleep(200); checksumThreads() }
    val buses = TestBridge.streamBusCount(spark)
    val threads = (1 to 3).map { _ =>
      SparkEntry.queries("q56_stateful_totals")(spark, TestSpark.sf).collect()
      settled()
    }
    assert(threads.distinct.size == 1, s"checksum threads after each q56 run: $threads")
    assert(TestBridge.streamBusCount(spark) == buses, "a drain left its stream bus attached")
    val q = Live.drain(totals(TestSpark.sf), "update") { (b, _) =>
      b.write.format("noop").mode("overwrite").save()
    }
    val ids = Bridge.stateStoreIds(q)
    assert(ids.size == 1, ids)
    assert(ids.forall(id => !TestBridge.isLoaded(id)), "the drain left a state store loaded")
  }
}
