package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Build-once-per-session memo for everything a session derives from its
  * input files and reuses across queries: relations, llm indexes,
  * persisted rollups and the router's rollup scans (docs/PLANS.md
  * "Session caches").
  *  - Key: the session OBJECT (SparkSession keeps Object identity) plus
  *    a namespace and a string key.
  *  - Validity: the (path, length, mtime) of the sources the caller
  *    names, taken just before the build and re-checked on every hit. A
  *    change rebuilds the entry after unpersisting the superseded frame:
  *    the CacheManager matches canonicalized plans, and a rebuild over
  *    the same root path canonicalizes equal to the stale one.
  *  - Builds: one at a time per key; different keys never wait on each
  *    other. A failed build is not memoized.
  *  - Release: a session's entries go when its SparkContext stops. */
object SessionCache {
  /** Per-namespace counters since JVM start. */
  final case class Stats(hits: Long, misses: Long, builds: Long, buildSeconds: Double)

  private final class Counters { val hits, misses, builds, buildNanos = new LongAdder }

  /** One key: its lock, its last build and that build's fingerprint. */
  private final class Slot {
    var value: AnyRef = _
    var stamp: Seq[(String, Long, Long)] = Nil
  }

  private val sessions =
    new ConcurrentHashMap[SparkSession, ConcurrentHashMap[(String, String), Slot]]()
  private val watched = ConcurrentHashMap.newKeySet[SparkContext]()
  private val counters = new ConcurrentHashMap[String, Counters]()

  /** The entry for (`spark`, `ns`, `key`), built by `build` on a miss
    * or once the files named by `sources` (evaluated on a miss, before
    * `build`) have changed since the last build. */
  def apply[T <: AnyRef](spark: SparkSession, ns: String, key: String)
                        (sources: => Seq[String])(build: => T): T = {
    val slot = sessions
      .computeIfAbsent(spark, s => { watch(s.sparkContext); new ConcurrentHashMap() })
      .computeIfAbsent((ns, key), _ => new Slot)
    val c = counters.computeIfAbsent(ns, _ => new Counters)
    slot.synchronized {
      if (slot.value != null && slot.stamp == fingerprint(spark, slot.stamp.map(_._1))) {
        c.hits.increment()
      } else {
        c.misses.increment()
        slot.value match {
          case ds: Dataset[_] if ds.storageLevel != StorageLevel.NONE => ds.unpersist()
          case _ =>
        }
        slot.value = null
        slot.stamp = fingerprint(spark, sources)
        val t0 = System.nanoTime()
        slot.value = build
        c.buildNanos.add(System.nanoTime() - t0)
        c.builds.increment()
      }
      slot.value.asInstanceOf[T]
    }
  }

  /** [[apply]] for a frame persisted MEMORY_AND_DISK while it is valid. */
  def persisted(spark: SparkSession, ns: String, key: String)
               (sources: => Seq[String])(build: => DataFrame): DataFrame =
    apply(spark, ns, key)(sources)(build.persist(StorageLevel.MEMORY_AND_DISK))

  /** The namespaces used since JVM start, sorted. */
  def namespaces: Seq[String] = {
    import scala.jdk.CollectionConverters._
    counters.keySet.asScala.toSeq.sorted
  }

  def stats(ns: String): Stats = {
    val c = counters.computeIfAbsent(ns, _ => new Counters)
    Stats(c.hits.sum, c.misses.sum, c.builds.sum, c.buildNanos.sum / 1e9)
  }

  /** Drops every entry of `spark`; other sessions keep theirs. */
  private[graft] def release(spark: SparkSession): Unit = sessions.remove(spark)

  private def watch(sc: SparkContext): Unit =
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        sessions.keySet.forEach(s => if (s.sparkContext eq sc) release(s))
        watched.remove(sc)
      }
    })

  /** (path, length, mtime) per path via Hadoop, so object stores work
    * too; a missing path reads as length -1. A path with a scheme is a
    * URI (`inputFiles` percent-encodes it: `file:/a%20b/x`); a plain
    * path is taken literally. */
  private def fingerprint(spark: SparkSession, paths: Seq[String]): Seq[(String, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.map { p =>
      val path = scala.util.Try(new java.net.URI(p)).toOption.filter(_.getScheme != null)
        .map(new org.apache.hadoop.fs.Path(_)).getOrElse(new org.apache.hadoop.fs.Path(p))
      try {
        val st = path.getFileSystem(conf).getFileStatus(path)
        (p, st.getLen, st.getModificationTime)
      } catch { case _: java.io.FileNotFoundException => (p, -1L, 0L) }
    }
  }
}
