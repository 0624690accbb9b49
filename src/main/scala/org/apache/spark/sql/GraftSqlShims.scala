package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[spark]` doorway this library uses. `ofRows` lifts a
  * custom [[LogicalPlan]] node (graft.plans.AsOfJoin) into a DataFrame
  * so it flows through the ordinary analyze → optimize → plan pipeline,
  * where the injected `AsOfJoinStrategy` turns it physical (the standard
  * extension-library shim: Delta, Sedona, et al. ship the same);
  * `drainListenerBus` waits until every posted listener event has been
  * delivered, so [[graft.Diag.jobs]] reads its jobs only after its
  * listener saw them all. Everything else stays on public API; two
  * forwarding methods keep the private surface auditable at a glance.
  */
object GraftSqlShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
