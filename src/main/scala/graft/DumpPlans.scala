package graft

/** Dev tool (r19 optimization round): dump `.explain("formatted")` for a
  * comma-separated list of query names (full or qNN, [[Bench.selects]])
  * into a directory of one `<qNN>_<suffix>.txt` file each — the
  * before/after plan evidence the optimization deliverable commits under
  * `plans/r19/`.
  *
  *   sbt "runMain graft.DumpPlans q16,q99 plans/r19 before [sfDir]"
  *
  * Streaming queries RUN their stream on construction, so the DataFrame a
  * dump would plan is the post-drain read-back — still dumped (that is
  * the batch plan the bench times), but the drain cost happens here too.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val wanted = args(0).split(',').map(_.trim).filter(_.nonEmpty).toSet
    val outDir = args(1)
    val suffix = args(2)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.queries.toSeq
      .filter { case (name, _) => Bench.selects(wanted, name) }
      .foreach { case (name, fn) =>
        val short = Bench.shortOf(name)
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${short}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[dumpplans] wrote $outDir/${short}_$suffix.txt")
      }
    spark.stop()
  }
}
