package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for Spark 4.x, where the Column API no longer
  * wraps Catalyst expressions publicly. Lives under org.apache.spark.sql to
  * reach the `private[sql]` converters — the standard technique for
  * extension libraries that ship custom Catalyst expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** LogicalPlan → DataFrame bridge: `Dataset.ofRows` is `private[sql]`, and
  * it is the only way to hand a custom logical node (graft.plans.*) to a
  * session. Same technique as ColumnBridge above.
  */
object PlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** Session-artifact bridge: a session's `ArtifactManager` is `private[sql]`.
  * Same technique as ColumnBridge above.
  */
object ArtifactBridge {
  /** True when `spark` holds no session-scoped artifacts (jars, classes or
    * files added to the session). Only then may a clone of it run its tasks
    * in the executor's default classloader without losing a class.
    *
    * Also settles `spark`'s own isolation, which its ArtifactManager reads
    * lazily from the conf on first use, so that a caller who then changes
    * `spark.sql.artifact.isolation.enabled` for the clones it starts does
    * not change it for `spark` itself.
    */
  def holdsNoArtifacts(spark: org.apache.spark.sql.SparkSession): Boolean = {
    val am = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .artifactManager
    am.state
    // `sessionArtifactAdded` is Scala-`protected` (public in bytecode)
    val added = classOf[org.apache.spark.sql.artifact.ArtifactManager]
      .getMethod("sessionArtifactAdded").invoke(am)
      .asInstanceOf[java.util.concurrent.atomic.AtomicBoolean]
    !added.get && am.getAddedJars.isEmpty
  }
}
