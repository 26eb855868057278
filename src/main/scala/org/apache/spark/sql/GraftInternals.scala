package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one bridge into `private[sql]` Spark seams. It lives in
  * `org.apache.spark.sql` purely for access — the conventional
  * extension-library shim (graphframes does the same); the alternative,
  * runtime reflection, trades a compile-time check for a latent
  * NoSuchMethodError on a Spark upgrade. Keep it to forwarding methods so
  * the private-API surface stays auditable:
  *
  *  - `column` / `expression` — the Column↔Expression converters Spark 4
  *    hides behind `classic.ExpressionUtils`; custom Catalyst expressions
  *    (e.g. [[graft.functions.SortedIntersectSize]]) need both directions
  *    to expose themselves as `Column`s;
  *  - `ofRows` — `Dataset.ofRows(session, plan)`: a hand-built or
  *    re-rooted logical plan back into a `DataFrame` under a specific
  *    session (the Catalyst whole-operator tier, and the pinned checkpoint
  *    of `graft.Tuning.pinPartitioned`); plan construction from the
  *    outside has no public spelling;
  *  - `cloneSession` — a fork of the session (same SparkContext and shared
  *    state, COPIED SQLConf), so a conf flip scoped to one materialization
  *    can never race queries planned concurrently on the caller's session.
  */
object GraftInternals {

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()
}
