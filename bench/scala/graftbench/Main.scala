package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Sessions, SparkEntry}

/** The benchmark's JVM side. It reaches the engine only through
  * `Sessions.local`, `SparkEntry.queries`, `SparkEntry.oracleSql` and
  * the `noop` sink, and writes what it measured as one JSON file; the
  * Python runner (bench/run.py) turns that file into metrics.
  *
  *   mode=catalog out=<file>   every query name and its oracle SQL
  *   mode=run ...              one closed-loop run of one workload, see
  *                             [[run]] for its arguments
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument not of the form key=value: $a")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    opts("mode") match {
      case "catalog" =>
        write(Paths.get(opts("out")), Map(
          "queries" -> SparkEntry.queries.keys.toSeq.sorted,
          "oracle" -> SparkEntry.oracleSql))
      case "run" => run(opts)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(p: Path, v: Any): Unit = json.writeValue(p.toFile, v)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this process has used, all threads, in milliseconds. */
  private def cpuMs(): Double = os.getProcessCpuTime / 1e6

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(sizeOf).sum
    else f.length

  /** One run. Arguments:
    *  - `data`: fixture directory handed to every query;
    *  - `orders`: file of query orders, one pass per line, names
    *    comma-separated; line 1 is the warm pass;
    *  - `cpus`, `seconds`, `min_samples`: the session's thread count, the
    *    least measured time and the least number of timed query samples;
    *  - `trace`: 0 times every pass untraced; 1 alternates untraced and
    *    traced passes and records per-layer counters in the traced ones;
    *  - `check_dir`: where the warm pass writes each query's result;
    *  - `scratch`: comma-separated private temp/local dirs whose bytes
    *    are counted after the session stops;
    *  - `out`: result file. */
  def run(o: Map[String, String]): Unit = {
    val epochMs = System.currentTimeMillis()
    val epochNs = System.nanoTime()
    def nowMs: Double = (System.nanoTime() - epochNs) / 1e6
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime - epochMs

    val data = o("data")
    val orders = Files.readAllLines(Paths.get(o("orders"))).asScala
      .map(_.trim).filter(_.nonEmpty).map(_.split(',').toSeq).toSeq
    val traced = o("trace") == "1"
    val fns: Map[String, (SparkSession, String) => DataFrame] =
      orders.flatten.distinct.map { n =>
        n -> SparkEntry.queries.getOrElse(n,
          throw new IllegalArgumentException(s"no query named $n in SparkEntry"))
      }.toMap

    val sessionT0 = nowMs
    val spark = Sessions.local(o("cpus"))
    val sessionMs = nowMs - sessionT0
    spark.conf.set("spark.sql.streaming.checkpointLocation",
      new File(sys.props("java.io.tmpdir"), "checkpoints").getPath)

    /** Constructs and saves one query: to the noop sink, or as parquet
      * under `checkDir` when its result is to be checked. */
    def runOne(name: String, checkDir: Option[String] = None): Option[(Double, Double)] = {
      val t0 = System.nanoTime()
      try {
        val df = fns(name)(spark, data)
        val t1 = System.nanoTime()
        checkDir match {
          case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$name")
          case None => df.write.format("noop").mode("overwrite").save()
        }
        Some(((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6))
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: $e")
          None
      }
    }

    // warm pass: untimed. It keeps each query's result for the output
    // check and tells stream-running queries apart.
    val watch = new StreamWatch(spark)
    watch.attach()
    val warm = orders.head.map { name =>
      val t0 = nowMs
      val r = runOne(name, Some(o("check_dir")))
      val ms = nowMs - t0
      Map("name" -> name, "ok" -> r.isDefined, "ms" -> ms,
          "streams" -> watch.take())
    }
    watch.detach()
    val setupEndMs = nowMs
    val setupCpuMs = cpuMs()

    val recorder = new Recorder(spark, epochMs)
    val samples = Seq.newBuilder[Map[String, Any]]
    val passes = Seq.newBuilder[Map[String, Any]]
    val minSamples = o("min_samples").toInt
    val measureMs = o("seconds").toDouble * 1000
    var n = 0
    var timedSamples = 0
    val t0 = nowMs
    def done: Boolean =
      nowMs - t0 >= measureMs && timedSamples >= minSamples &&
        (!traced || n % 2 == 0)
    while (!done) {
      require(n + 1 < orders.size, s"ran out of pass orders after $n passes")
      val tracePass = traced && n % 2 == 1
      if (tracePass) recorder.attach()
      val passT0 = nowMs
      val passCpu0 = cpuMs()
      orders(n + 1).foreach { name =>
        if (tracePass) recorder.begin()
        val g0 = gcMs()
        val c0 = cpuMs()
        val qT0 = nowMs
        val r = runOne(name)
        val qT1 = nowMs
        val base = Map("pass" -> n, "traced" -> tracePass, "name" -> name,
          "ok" -> r.isDefined, "construct_ms" -> r.map(_._1).getOrElse(0.0),
          "execute_ms" -> r.map(_._2).getOrElse(0.0), "cpu_ms" -> (cpuMs() - c0),
          "start_ms" -> qT0, "end_ms" -> qT1,
          "construct_end_ms" -> (qT0 + r.map(_._1).getOrElse(qT1 - qT0)))
        samples += (if (!tracePass) base
                    else base ++ recorder.end() + ("gc_ms" -> (gcMs() - g0)))
        if (!tracePass) timedSamples += 1
      }
      passes += Map("pass" -> n, "traced" -> tracePass, "start_ms" -> passT0,
                    "end_ms" -> nowMs, "cpu_ms" -> (cpuMs() - passCpu0))
      if (tracePass) recorder.detach()
      n += 1
    }
    val measureEndMs = nowMs

    System.gc(); System.gc()
    val heapLive = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    spark.stop()
    val diskLeft = o("scratch").split(',').map(d => sizeOf(new File(d))).sum
    write(Paths.get(o("out")), Map(
      "jvm_start_ms" -> jvmStartMs, "session_ms" -> sessionMs,
      "setup_end_ms" -> setupEndMs, "setup_cpu_ms" -> setupCpuMs,
      "measure_start_ms" -> t0,
      "measure_end_ms" -> measureEndMs, "warm" -> warm,
      "passes" -> passes.result(), "samples" -> samples.result(),
      "heap_live_bytes" -> heapLive, "disk_left_bytes" -> diskLeft))
  }
}
