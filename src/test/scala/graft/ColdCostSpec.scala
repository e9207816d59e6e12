package graft

import java.net.URI
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Process starts that `f` causes, as JFR `jdk.ProcessStart` events. */
object ProcessStarts {
  def during(f: => Unit): Seq[RecordedEvent] = {
    val out = Files.createTempFile("graft_spawns", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try f finally rec.stop()
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  /** The events among `events` started from a Hadoop frame. */
  def fromHadoop(events: Seq[RecordedEvent]): Seq[RecordedEvent] = events.filter { e =>
    Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
      _.getMethod.getType.getName.startsWith("org.apache.hadoop")))
  }

  def describe(events: Seq[RecordedEvent]): String =
    events.map(e => s"${e.getString("command")} from ${
      Option(e.getStackTrace).flatMap(_.getFrames.asScala.find(
        _.getMethod.getType.getName.startsWith("org.apache.hadoop")))
        .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}").getOrElse("?")}")
      .distinct.mkString("; ")
}

/** A stream drain that has run once does not pay its cold costs again:
  * a second run reuses the generated classes of the first and starts no
  * process for local file operations. Its rows would be the same either
  * way, so only these counts catch the regression. */
class ColdCostSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("the session's local FileSystem and FileContext are the fork-free ones") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new URI("file:///"), conf).isInstanceOf[LocalChecksumFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[LocalChecksumFs])
  }

  test("a warm run of q32 and q56 compiles no code and starts no process from Hadoop") {
    def run(name: String): Unit = SparkEntry.queries(name)(spark, sf).collect()
    // each warm run right before its measured one: the test session's
    // codegen cache is Spark's default 100 entries
    Seq("q32_stream_daily", "q56_stateful_totals").foreach { name =>
      run(name)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val spawns = ProcessStarts.fromHadoop(ProcessStarts.during(run(name)))
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
      assert(compiled == 0, s"$name: a warm run must reuse its generated classes, compiled $compiled")
      assert(spawns.isEmpty,
        s"$name: a warm run must start no process from Hadoop, started ${spawns.size}: " +
          ProcessStarts.describe(spawns))
    }
  }
}
