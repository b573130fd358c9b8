package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access bridge: Column <-> catalyst Expression converters are
  * `private[sql]` in Spark 4 (org.apache.spark.sql.classic.ExpressionUtils),
  * so custom native expressions need this one-hop re-export. Standard
  * pattern for libraries extending Catalyst; no Spark internals are
  * modified. */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unload every loaded state-store provider and stop the maintenance
    * thread. A terminated streaming query's HDFS-backed providers keep
    * their version maps in executor memory until the maintenance thread's
    * next interval (60 s default) notices they are inactive — residue a
    * benchmark fleet cannot wait out between timed rows. Everything
    * restarts lazily on the next stateful-stream use, and every graft
    * drain uses a fresh checkpoint, so no state is ever reloaded. */
  def stopStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** True for a file or directory name Spark's file index skips when it
    * lists a directory (`_`/`.` prefixes, in-flight copies; summary files
    * are kept). The filter is `private[spark]`. */
  def hiddenFileName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
