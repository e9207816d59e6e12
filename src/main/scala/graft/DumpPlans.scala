package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId}

/** Dev tool (r19 optimization round): dump `.explain("formatted")` for a
  * comma-separated list of query names (full or qNN, [[Bench.selects]])
  * into a directory of one `<qNN>_<suffix>.txt` file each — the
  * before/after plan evidence the optimization deliverable commits under
  * `plans/r19/`.
  *
  *   sbt "runMain graft.DumpPlans q16,q99 plans/r19 before [sfDir]"
  *
  * The text is stable across processes ([[planText]]): two runs of the
  * same code diff empty, so a diff between two commits shows only what
  * changed.
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
        val plan = planText(spark, df)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${short}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[dumpplans] wrote $outDir/${short}_$suffix.txt")
      }
    spark.stop()
  }

  /** `df`'s formatted plan, the same text for the same query whatever
    * ran before it in the process. */
  def planText(spark: SparkSession, df: DataFrame): String =
    stable(withPlanIds(spark, df).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))

  /** `df` re-planned from its analyzed plan with every expression id
    * replaced by one that depends only on that plan. The optimizer orders
    * the groups of a several-distinct-aggregates Expand by hashes of
    * their input ids, so the same query planned after a different number
    * of earlier queries would print its Expand projections, its gid
    * values and every column list above them in another order. */
  private def withPlanIds(spark: SparkSession, df: DataFrame): DataFrame = {
    val ids = scala.collection.mutable.Map.empty[ExprId, ExprId]
    def id(e: ExprId): ExprId = ids.getOrElseUpdate(e, ExprId(PlanIdBase + ids.size))
    val plan = df.queryExecution.analyzed.transformWithSubqueries { case p =>
      p.transformExpressions {
        case a: AttributeReference => a.withExprId(id(a.exprId))
        case a: Alias =>
          Alias(a.child, a.name)(id(a.exprId), a.qualifier, a.explicitMetadata,
            a.nonInheritableMetadataKeys)
      }
    }
    org.apache.spark.sql.graftx.Bridge.ofRows(spark, plan)
  }

  /** Far above the ids a process allocates, so a re-planned query never
    * reuses one that an input plan still holds. */
  private val PlanIdBase = 1L << 40

  /** `plan` with expression ids and exchange plan ids renumbered in
    * order of first appearance, so a plan's text does not depend on how
    * many ids the queries before it allocated, and with what differs
    * between processes masked: the per-process scratch root, the random
    * suffixes of temp dirs, RDD ids (a checkpoint's) and lambda
    * identities (a typed operator's function). */
  private[graft] def stable(plan: String): String = {
    val paths = plan.replace(ops.StarJoins.scratchRoot.getAbsolutePath, "<scratch>")
      .replaceAll("(/graft_[A-Za-z_]*?)\\d{6,}", "$1<n>")
      .replaceAll("RDD\\[\\d+\\]", "RDD[<n>]")
      .replaceAll("(\\$\\$Lambda)\\$\\d+/0x\\p{XDigit}+@\\p{XDigit}+", "$1")
    Seq("#", "plan_id=").foldLeft(paths) { (text, prefix) =>
      val ids = scala.collection.mutable.Map.empty[String, Int]
      (java.util.regex.Pattern.quote(prefix) + "(\\d+)").r.replaceAllIn(text, m =>
        prefix + ids.getOrElseUpdate(m.group(1), ids.size + 1))
    }
  }
}
