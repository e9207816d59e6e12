package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters of the traced run, fed by three listeners: Spark
  * jobs, stages and tasks; Catalyst phases and rules of every executed
  * QueryExecution; streaming queries and their micro-batches. The
  * benchmark runs one query at a time and drains the listener bus after
  * each, so everything collected between [[begin]] and [[end]] belongs to
  * that query. Times are milliseconds since `epochMs`. */
final class Recorder(spark: SparkSession, epochMs: Long) {
  final class Job(val id: Int, val label: String, val startMs: Long) {
    var endMs: Long = -1
    var stages, tasks = 0
    var runMs, cpuNs, scanBytes, scanRows, shuffleWriteBytes,
        outputBytes, outputRows = 0L
    def toMap: Map[String, Any] = Map(
      "id" -> id, "label" -> label,
      "start_ms" -> (startMs - epochMs), "end_ms" -> (endMs - epochMs),
      "stages" -> stages, "tasks" -> tasks, "task_run_ms" -> runMs,
      "task_cpu_ms" -> cpuNs / 1e6, "scan_bytes" -> scanBytes,
      "scan_rows" -> scanRows, "shuffle_write_bytes" -> shuffleWriteBytes,
      "output_bytes" -> outputBytes, "output_rows" -> outputRows)
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val phases = mutable.Map.empty[String, mutable.ArrayBuffer[Seq[Long]]]
  private val rules = mutable.Map.empty[String, Array[Long]]
  private val streams = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val lastState = mutable.Map.empty[java.util.UUID, (Long, Long)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val label = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      val job = new Job(e.jobId, label, e.time)
      jobs(e.jobId) = job
      e.stageIds.foreach(stageJob(_) = job)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (job <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        job.tasks += 1
        job.runMs += m.executorRunTime
        job.cpuNs += m.executorCpuTime
        job.scanBytes += m.inputMetrics.bytesRead
        job.scanRows += m.inputMetrics.recordsRead
        job.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        job.outputBytes += m.outputMetrics.bytesWritten
        job.outputRows += m.outputMetrics.recordsWritten
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      addPlanning(qe.tracker)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      addPlanning(qe.tracker)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Recorder.this.synchronized { streams("queries") += 1 }
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        val p = e.progress
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        streams("batches") += 1
        streams("input_rows") += p.numInputRows
        streams("trigger_ms") += ms("triggerExecution")
        streams("add_batch_ms") += ms("addBatch")
        lastState(p.id) = (p.stateOperators.map(_.numRowsTotal).sum,
                           p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Catalyst phase intervals and rule times of one executed query. A
    * phase entered more than once reads as one interval from its first
    * start to its last end, so intervals are kept for the caller to clip
    * to the query's own span. */
  private def addPlanning(t: QueryPlanningTracker): Unit = synchronized {
    t.phases.foreach { case (k, p) =>
      phases.getOrElseUpdate(k, mutable.ArrayBuffer.empty) +=
        Seq(p.startTimeMs - epochMs, p.endTimeMs - epochMs)
    }
    t.rules.foreach { case (k, r) =>
      val a = rules.getOrElseUpdate(k, new Array[Long](3))
      a(0) += r.totalTimeNs; a(1) += r.numInvocations; a(2) += r.numEffectiveInvocations
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def begin(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); phases.clear(); rules.clear()
    streams.clear(); lastState.clear()
  }

  /** Waits for the query's events, then returns what it did. Rules are
    * kept when they come from graft itself, plus one total over all. */
  def end(): Map[String, Any] = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    synchronized {
      val ruleMap = rules.collect {
        case (k, a) if k.startsWith("graft.") => k -> Map(
          "time_ms" -> a(0) / 1e6, "calls" -> a(1), "effective" -> a(2))
      }.toMap + ("all" -> Map(
        "time_ms" -> rules.values.map(_(0)).sum / 1e6,
        "calls" -> rules.values.map(_(1)).sum,
        "effective" -> rules.values.map(_(2)).sum))
      Map(
        "jobs" -> jobs.values.map(_.toMap).toSeq,
        "catalyst_ms" -> phases.view.mapValues(_.toSeq).toMap,
        "rules" -> ruleMap,
        "streaming" -> (streams.toMap ++ Map(
          "state_rows" -> lastState.values.map(_._1).sum,
          "state_bytes" -> lastState.values.map(_._2).sum)))
    }
  }
}

/** Counts the streaming queries each query starts; this is how the
  * benchmark tells stream-running queries apart, by observation. */
final class StreamWatch(spark: SparkSession) {
  @volatile private var started = 0
  private val listener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = started += 1
    override def onQueryProgress(e: QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }
  def attach(): Unit = spark.streams.addListener(listener)
  def detach(): Unit = spark.streams.removeListener(listener)
  /** Streams started since the last call. */
  def take(): Int = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    val n = started
    started = 0
    n
  }
}
