package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation

/** The two Spark internals the benchmark needs from outside the program:
  * waiting for the listener bus, and adding a source option to a stream
  * the program has already built. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `df` with `key -> value` added to the options of its file-stream
    * source (e.g. `maxFilesPerTrigger`, which the program's readers leave
    * unset). */
  def withSourceOption(df: DataFrame, key: String, value: String): DataFrame = {
    val plan = df.queryExecution.logical.transform {
      case r: StreamingRelation =>
        r.copy(dataSource = r.dataSource.copy(
          options = r.dataSource.options + (key -> value)))
    }
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession], plan)
  }
}
