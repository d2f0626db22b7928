package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.ui.SQLAppStatusListener

/** Access bridge for `private[sql]` Column <-> Expression converters —
  * the conventional way for Spark extension libraries to wrap custom
  * Catalyst expressions in the public Column API. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Sets `key` on the context's own conf, which every later session's
    * static SQL conf copies (`SparkContext.getConf` returns a copy). */
  def setContextConf(sc: SparkContext, key: String, value: String): Unit = sc.conf.set(key, value)

  /** Whether a session's shared state exists on `sc`: it registers the SQL
    * status listener when it copies the context conf. */
  def sessionBuilt(sc: SparkContext): Boolean =
    sc.listenerBus.findListenersByClass[SQLAppStatusListener]().nonEmpty

  /** Waits until every event posted to `sc`'s listener bus so far has been
    * delivered; throws `TimeoutException` after 10 s. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
