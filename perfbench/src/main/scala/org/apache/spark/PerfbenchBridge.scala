package org.apache.spark {

  /** Access to the listener bus, which Spark keeps package-private: the
    * benchmark reads its listener's records only after every posted event
    * has been delivered.
    */
  object PerfbenchBridge {
    def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {

  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The finished query's `QueryExecution`, which the end-of-execution
    * event carries in a package-private field.
    */
  object PerfbenchSqlBridge {
    def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
  }
}
