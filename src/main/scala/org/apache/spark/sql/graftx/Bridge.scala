package org.apache.spark.sql.graftx

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` surface.
  *
  * Spark 4 split `Column` from catalyst `Expression` (Connect refactor);
  * the conversion helpers live in `org.apache.spark.sql.classic
  * .ExpressionUtils`, which is `private[sql]`. Extension libraries that
  * ship native Catalyst expressions conventionally host a small shim in
  * the `org.apache.spark.sql` namespace — this is that shim, kept to
  * three calls so the dependency surface on internals stays auditable.
  */
object Bridge {
  /** Wrap a catalyst Expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a Column to its catalyst Expression (classic sessions). */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGERLY convert a Column to its catalyst tree via the classic
    * ColumnNode converter. [[expression]] returns a lazy
    * `ColumnNodeExpression` wrapper (a leaf until the analyzer forces
    * it) — useless for structural matching; this runs the conversion
    * now, yielding the same `UnresolvedAttribute`/`UnresolvedFunction`
    * catalyst nodes the analyzer would see. */
  def expressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap a custom LogicalPlan as a DataFrame (classic sessions) — the
    * entry point for whole-operator extensions (custom node + strategy +
    * physical exec, SURVEY §7.3 ladder rung (c)). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Type equality ignoring nullability (DataType.sameType is
    * private[sql]) — parquet roundtrips relax struct-field
    * nullability, which must not block a values-identical rewrite. */
  def sameTypeIgnoreNullability(a: org.apache.spark.sql.types.DataType,
                                b: org.apache.spark.sql.types.DataType): Boolean =
    a.sameType(b)

  /** Blocks until every listener has handled every event posted so far
    * (the listener bus is `private[spark]`). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A child session of `spark`: a copy of its SQL conf, temp views
    * and functions as they are now, over the same SparkContext. A conf
    * set on the child never reaches the parent. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** The files a streaming plan reads, as (path, reader options) per
    * file source, or None when some source is not a file source (its
    * input size cannot be known before it runs). */
  def streamFileSources(plan: LogicalPlan): Option[Seq[(String, Map[String, String])]] = {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
    val leaves = plan.collectLeaves().filter(_.isStreaming)
    val files = leaves.collect {
      case r: StreamingRelation if r.dataSource.paths.nonEmpty ||
          r.dataSource.options.keys.exists(_.equalsIgnoreCase("path")) =>
        val opts = r.dataSource.options.map { case (k, v) => k.toLowerCase -> v }
        (r.dataSource.paths ++ opts.get("path")).distinct.map(_ -> opts)
    }
    if (files.size == leaves.size) Some(files.flatten) else None
  }

  /** Whether the plan holds a `transformWithState`, which needs the
    * RocksDB state store. */
  def needsRocksDb(plan: LogicalPlan): Boolean =
    plan.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.TransformWithState])

  /** The state-store providers a finished query loaded: one per
    * stateful operator, partition and store name, keyed by the query's
    * run id and its state checkpoint root. */
  def stateStoreIds(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Seq[org.apache.spark.sql.execution.streaming.state.StateStoreProviderId] = {
    import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.execution.streaming.state.StateStoreProviderId
    val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
    if (exec == null) Nil
    else exec.executedPlan.collect { case w: StateStoreWriter if w.stateInfo.isDefined =>
      val info = w.getStateInfo
      for (p <- 0 until info.numPartitions; name <- w.stateStoreNames)
        yield StateStoreProviderId(info, p, name)
    }.flatten
  }

  /** Unload and close this JVM's state-store providers for the
    * finished query `q`. Spark leaves them loaded until its maintenance
    * task (every 60 s by default) finds the query gone; each holds a
    * checkpoint file manager with its own thread pool until then. In
    * local mode the driver is the executor, so this reaches every
    * provider the query loaded. */
  def releaseStateStores(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    import org.apache.spark.sql.execution.streaming.state.StateStore
    stateStoreIds(q).foreach(StateStore.removeFromLoadedProvidersAndClose(_))
  }

  /** The session a query's micro-batches ran in: Spark's own child of
    * the session that started it. */
  def batchSession(q: org.apache.spark.sql.streaming.StreamingQuery): SparkSession =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.sparkSessionForStream

  /** Detach `spark`'s streaming listener bus from the SparkContext.
    * Spark attaches one for each session whose stream manager is used
    * (starting a stream, or running a stateful batch, uses it) and keeps
    * it for the context's lifetime, so each session made for one stream
    * would otherwise leave its bus behind. */
  def detachStreamBus(spark: SparkSession): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val probe = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(probe)
    val bus = spark.sparkContext.listenerBus
    bus.findListenersByClass[StreamingQueryListenerBus]()
      .filter(_.listeners.contains(probe)).foreach(bus.removeListener)
  }

  /** Register a native expression as a temp SQL function. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
}
