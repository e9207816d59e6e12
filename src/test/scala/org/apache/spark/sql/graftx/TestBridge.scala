package org.apache.spark.sql.graftx

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreProviderId}

/** Spark internals the specs read to check that a drain cleans up. */
object TestBridge {
  /** Whether this JVM holds a loaded state-store provider for `id`. */
  def isLoaded(id: StateStoreProviderId): Boolean = StateStore.isLoaded(id)

  /** Streaming listener buses attached to the SparkContext. */
  def streamBusCount(spark: SparkSession): Int =
    spark.sparkContext.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size
}
