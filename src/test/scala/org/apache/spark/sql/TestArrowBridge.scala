package org.apache.spark.sql

import org.apache.arrow.vector.types.pojo.Schema
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.ArrowUtils

/** The Arrow schema Spark's `toArrowBatchRdd` writes a DataFrame schema
  * with, under the session's time zone, large-var-types and struct
  * settings — computed here independently of the library's bridge. */
object TestArrowBridge {
  def arrowSchema(spark: SparkSession, schema: StructType): Schema = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    ArrowUtils.toArrowSchema(schema, conf.sessionLocalTimeZone,
      errorOnDuplicatedFieldNames = conf.pandasStructHandlingMode == "legacy",
      largeVarTypes = conf.arrowUseLargeVarTypes)
  }
}
