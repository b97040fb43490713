package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Catalyst expression bridge for the graft native kernels.
  * `classic.ExpressionUtils` is `private[sql]`, so this two-method shim
  * lives in Spark's package. Library operators build every kernel Column
  * through it, so a kernel resolves in ANY session: no function registry
  * lookup, no dependence on `graft.GraftExtensions` being installed.
  */
object GraftColumn {

  /** Wrap a Catalyst expression as a Column. */
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The (possibly unresolved) Catalyst expression behind a Column. */
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
