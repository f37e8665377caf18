package org.apache.spark.sql

import org.apache.arrow.vector.types.pojo.Schema
import org.apache.spark.SparkContext
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.ArrowUtils

/** The benchmark's access to two package-private Spark facilities: the
  * Arrow schema Spark encodes a DataFrame with, and draining the listener
  * bus so counters are complete before they are read. */
object LayerbenchBridge {
  def arrowSchema(spark: SparkSession, schema: StructType): Schema =
    ArrowUtils.toArrowSchema(schema, spark.sessionState.conf.sessionLocalTimeZone,
      errorOnDuplicatedFieldNames = true,
      largeVarTypes = spark.sessionState.conf.arrowUseLargeVarTypes)

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
