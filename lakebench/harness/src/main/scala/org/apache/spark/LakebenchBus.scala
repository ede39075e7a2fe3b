package org.apache.spark {

  /** Access to the listener bus's drain, which Spark keeps package-private:
    * the tracer calls it before reading what its listeners recorded.
    */
  object LakebenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }

  package sql {
    /** The query execution an SQL-execution-end event belongs to (a
      * package-private field), so the tracer can key what its
      * `QueryExecutionListener` saw by SQL execution id, as jobs are.
      */
    object LakebenchSql {
      def queryExecutionId(e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd): Option[Long] =
        Option(e.qe).map(_.id)
    }
  }
}
