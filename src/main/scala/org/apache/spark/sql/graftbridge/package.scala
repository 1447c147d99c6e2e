package org.apache.spark.sql

import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreProviderId}
import org.apache.spark.sql.internal.SessionState
import org.apache.spark.sql.streaming.StreamingQuery

/** Column ⇄ Expression bridge.
  *
  * Spark 4 unified `Column` around ColumnNode and made the
  * expression accessors `private[sql]`; a custom Catalyst
  * `Expression` (graft.functions.DotProductExpr) still needs to be
  * wrapped into a `Column` for the DataFrame API. This one-file
  * shim lives in the `org.apache.spark.sql` namespace solely to
  * re-export those two conversions — the classic-mode equivalent of
  * what `functions.udf`/`expr` do internally.
  */
package object graftbridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `AbstractDataType` (the supertype `ExpectsInputTypes.inputTypes`
    * needs) is `private[sql]` in Spark 4; re-export it so graft
    * expressions can declare coercible input types. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** Build a DataFrame from a hand-transformed logical plan
    * (`Dataset.ofRows` is `private[sql]`) — used by specs to execute
    * a plan after applying one optimizer rule in isolation. */
  def dataFrameOf(spark: SparkSession,
                  plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A session with `spark`'s context, catalog, temp views, functions,
    * execution listeners and conf values but a SQLConf of its own
    * (`cloneSession` is `private[sql]`): a conf set on it reaches no
    * other session. `newSession` would also own its conf, but starts
    * from the context's conf and drops the runtime settings. */
  def isolatedSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** The state store providers a streaming query's last micro-batch
    * opened: one per partition and store name of every stateful
    * operator in its executed plan. Empty before the first batch. */
  def stateStoreProviderIds(q: StreamingQuery): Seq[StateStoreProviderId] = {
    val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
    Option(exec.lastExecution).toSeq.flatMap { ie =>
      ie.executedPlan.collect { case w: StateStoreWriter => w }.flatMap { w =>
        val info = w.getStateInfo
        for (p <- 0 until info.numPartitions; name <- w.stateStoreNames)
          yield StateStoreProviderId(info, p, name)
      }
    }
  }

  /** Closes a finished query's state store providers and drops them
    * from this JVM's loaded set (`StateStore.loadedProviders`), where
    * they and their cached state rows would otherwise stay until the
    * next maintenance pass. In local mode the driver's JVM is the
    * executor's. Provider ids carry the query's run id, so a restart
    * from the same checkpoint loads its state from the files. */
  def unloadStateStores(q: StreamingQuery): Unit =
    stateStoreProviderIds(q).foreach(StateStore.removeFromLoadedProvidersAndClose(_))

  /** Removes the streaming listener buses of a finished query's two
    * sessions, the one that started it and the clone its batches ran
    * on, from the context's listener bus. A session registers its bus
    * there when its `StreamingQueryManager` is built, and nothing
    * removes it, so every short-lived session that runs a stream would
    * leave one behind for the context's life. A removed bus delivers
    * no more events: call this once the query's termination event has
    * reached its listeners. */
  def removeStreamListenerBuses(q: StreamingQuery): Unit = {
    val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
    val bus = exec.sparkSession.sparkContext.listenerBus
    Seq(exec.sparkSession, exec.sparkSessionForStream)
      .flatMap(streamListenerBus).foreach(bus.removeListener)
  }

  /** The session's streaming listener bus, or None when the session
    * never built its `StreamingQueryManager` (a lazy val, read through
    * its field so that asking does not build one and register a bus). */
  private def streamListenerBus(s: classic.SparkSession): Option[SparkListenerInterface] = {
    val manager = classOf[SessionState].getDeclaredField("streamingQueryManager")
    manager.setAccessible(true)
    Option(manager.get(s.sessionState)).map { m =>
      val bus = classOf[classic.StreamingQueryManager].getDeclaredField("listenerBus")
      bus.setAccessible(true)
      bus.get(m).asInstanceOf[SparkListenerInterface]
    }
  }

  /** The listeners on the context's listener bus, over all its queues. */
  def contextListeners(spark: SparkSession): Seq[SparkListenerInterface] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.listenerBus.listeners.asScala.toSeq
  }
}
