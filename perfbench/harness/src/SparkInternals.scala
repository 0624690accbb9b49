// Two package-private Spark members the benchmark needs, reached from the
// packages that may see them.

package org.apache.spark {
  /** Waits until every posted listener event has been delivered, so the
    * benchmark reads its ledger only after the listeners have seen every
    * job, task and micro-batch of the measured passes. */
  object ListenerBusDrain {
    def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The query execution behind a SQL-execution end event: the one a
    * `QueryExecutionListener` would be handed, but here together with the
    * execution id that jobs carry. */
  object SqlExecutionEndQuery {
    def apply(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
  }
}
