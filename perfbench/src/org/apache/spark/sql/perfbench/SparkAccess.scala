package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The two package-private Spark entry points the benchmark needs, reached
  * from inside a Spark package (the `DatasetFactory` pattern):
  *  - the listener bus's `waitUntilEmpty`, so a traced run drains its
  *    listener deterministically instead of sleeping;
  *  - `Dataset.ofRows`, so a traced run can time the parser call on its
  *    own and then build the DataFrame from the parsed plan without
  *    parsing the statement a second time. */
object SparkAccess {

  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
