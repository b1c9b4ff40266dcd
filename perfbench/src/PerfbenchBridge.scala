package org.apache.spark {

  /** Access to the listener bus, which Spark keeps package-private: the
    * traced run waits until every event is delivered before it reads the
    * attributed counters. */
  object PerfbenchBridge {
    def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {

  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The query an SQL execution ran, which its end event carries in a
    * field Spark keeps package-private; null when the event has none. */
  object PerfbenchSqlBridge {
    def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
  }
}
