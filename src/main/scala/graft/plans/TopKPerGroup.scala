package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native per-group top-k — a whole-operator Catalyst extension
  * (SURVEY §7.3 ladder rung (c): custom LogicalPlan + SparkStrategy +
  * SparkPlan, registered per-session).
  *
  * The idiomatic composition (`row_number().over(Window.partitionBy(g)
  * .orderBy(o)) <= k`, see [[graft.ops.Windows.topDaysPerUser]]) plans as
  * Exchange → **full Sort of every group** → Window → Filter: at 100 TB
  * the sort is O(n log n) over the whole partition and must spill rows
  * that can never survive the rank filter. This operator replaces the
  * sort+window+filter with one pass of bounded heaps: Exchange →
  * TopKPerGroupExec, O(n log k) comparisons and O(groups × k) memory,
  * nothing spilled, rows that lose against a full heap are dropped the
  * moment they are read. The grouped analog of what Spark's built-in
  * `TakeOrderedAndProjectExec` does for global ORDER BY…LIMIT (reference
  * top-k shapes: `usdc-transfers/README.md:67-84`).
  */
object TopKPerGroup {

  /** Logical node. `rankAttr` is a constructor field (not a derived val)
    * so tree copies keep the ExprId stable for parent re-binding. */
  case class Node(
      groupExprs: Seq[Expression],
      order: Seq[SortOrder],
      k: Int,
      rankAttr: Attribute,
      child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = child.output :+ rankAttr
    // rnk is born here, not read from the child
    override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
    override protected def withNewChildInternal(newChild: LogicalPlan): Node =
      copy(child = newChild)
  }

  /** Planner strategy: logical Node → physical Exec. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Node(g, o, k, rank, child) => Exec(g, o, k, rank, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  case class Exec(
      groupExprs: Seq[Expression],
      order: Seq[SortOrder],
      k: Int,
      rankAttr: Attribute,
      child: SparkPlan) extends UnaryExecNode {

    override def output: Seq[Attribute] = child.output :+ rankAttr
    override def producedAttributes: AttributeSet = AttributeSet(rankAttr)

    /** All rows of a group on one partition — EnsureRequirements inserts
      * the hash Exchange; no sort is requested (the whole point). */
    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(groupExprs) :: Nil
    override def outputPartitioning: Partitioning = child.outputPartitioning

    override def simpleString(maxFields: Int): String =
      s"GraftTopKPerGroup k=$k, groups=[${groupExprs.mkString(", ")}], " +
        s"order=[${order.mkString(", ")}]"

    /** Interpreted InternalRow comparator over the bound sort keys.
      * Deliberately small-surface: only the types the engine's tables use
      * (extend the match to adopt more). */
    private def comparator(childOutput: Seq[Attribute]): Ordering[InternalRow] = {
      val bound = order.map { so =>
        (BindReferences.bindReference(so.child, childOutput),
         so.direction == Ascending, so.nullOrdering == NullsFirst)
      }
      def cmpVal(dt: DataType, a: Any, b: Any): Int = dt match {
        case IntegerType | DateType => Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
        case LongType | TimestampType | TimestampNTZType =>
          java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
        case DoubleType => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
        case FloatType => java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
        case ShortType => java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short])
        case BooleanType => java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
        case _: StringType => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
        case _: DecimalType => a.asInstanceOf[Decimal].compare(b.asInstanceOf[Decimal])
        case other => throw new UnsupportedOperationException(s"topK order on $other")
      }
      new Ordering[InternalRow] {
        override def compare(x: InternalRow, y: InternalRow): Int = {
          var i = 0
          while (i < bound.length) {
            val (e, asc, nullsFirst) = bound(i)
            val (a, b) = (e.eval(x), e.eval(y))
            val c =
              if (a == null && b == null) 0
              else if (a == null) { if (nullsFirst) -1 else 1 }
              else if (b == null) { if (nullsFirst) 1 else -1 }
              else { val r = cmpVal(e.dataType, a, b); if (asc) r else -r }
            if (c != 0) return c
            i += 1
          }
          0
        }
      }
    }

    protected override def doExecute(): RDD[InternalRow] = {
      val childOutput = child.output
      val groupE = groupExprs
      val kk = k
      val ord = comparator(childOutput)
      val rank = rankAttr // local copy — closures must not capture `this`
      child.execute().mapPartitions({ iter =>
        val keyProj = UnsafeProjection.create(groupE, childOutput)
        // max-heap on the kept set: peek() = current worst survivor
        val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
        while (iter.hasNext) {
          val row = iter.next()
          val key = keyProj(row)
          var heap = heaps.get(key)
          if (heap == null) {
            heap = new java.util.PriorityQueue[InternalRow](kk + 1, ord.reverse)
            heaps.put(key.copy(), heap)
          }
          if (heap.size < kk) heap.offer(row.copy())
          else if (ord.compare(row, heap.peek()) < 0) { // beats the worst
            heap.poll(); heap.offer(row.copy())
          }
        }
        val outProj = UnsafeProjection.create(
          (childOutput :+ rank).zipWithIndex.map { case (a, i) =>
            BoundReference(i, a.dataType, a.nullable)
          })
        val joined = new JoinedRow
        val rankRow = new GenericInternalRow(1)
        import scala.jdk.CollectionConverters._
        heaps.values().iterator().asScala.flatMap { heap =>
          val rows = new Array[InternalRow](heap.size)
          var i = rows.length - 1
          while (i >= 0) { rows(i) = heap.poll(); i -= 1 } // heap drains worst-first
          rows.iterator.zipWithIndex.map { case (r, idx) =>
            rankRow.setInt(0, idx + 1)
            outProj(joined(r, rankRow))
          }
        }
      }, preservesPartitioning = true)
    }

    override protected def withNewChildInternal(newChild: SparkPlan): Exec =
      copy(child = newChild)
  }

  /** Idempotently add the strategy to an existing session (the driver
    * builds its own sessions, so registration must be callable at query
    * time — the same idempotent install as `RollupRouting.install`). */
  def ensureRegistered(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(Strategy)) spark.experimental.extraStrategies = cur :+ Strategy
  }

  /** User-facing builder: per-group top-k of `df` ranked by `order`
    * (column name → ascending?), with a 1-based `rankName` column
    * appended. Name-based resolution keeps the API independent of the
    * Spark-4 Column/Expression split. */
  def topK(df: DataFrame, groupCols: Seq[String], order: Seq[(String, Boolean)],
           k: Int, rankName: String = "rnk"): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    ensureRegistered(spark)
    val plan = df.queryExecution.analyzed
    def resolve(n: String): Attribute = plan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"column $n not in ${plan.output.map(_.name)}"))
    val sortOrder = order.map { case (n, asc) =>
      SortOrder(resolve(n), if (asc) Ascending else Descending)
    }
    val rankAttr = AttributeReference(rankName, IntegerType, nullable = false)()
    Bridge.ofRows(spark, Node(groupCols.map(resolve), sortOrder, k, rankAttr, plan))
  }
}
