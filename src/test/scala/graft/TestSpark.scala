package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared session for all suites (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config(Sessions.engineConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** A fixture dir whose `events.parquet` is `sf`'s events in four
    * files, so its scan reads four splits where `sf`'s reads one. */
  lazy val splitSf: String = {
    val dir = ops.StarJoins.scratchTemp("graft_split").toString
    Tables.events(spark, sf).repartition(4).write.parquet(s"$dir/events.parquet")
    dir
  }

  /** `dir`/`file` as a file stream: a file source reads a directory,
    * so the file streams through its directory and a glob. */
  def fileStream(dir: String, file: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(s"$dir/$file").schema)
      .option("pathGlobFilter", file).parquet(dir)

  /** `f` with the session confs `kvs` set, each restored after. */
  def withConf[A](kvs: (String, String)*)(f: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
