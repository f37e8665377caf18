package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftArrowBridge}
import org.apache.spark.sql.GraftArrowBridge.JdbcScan

/** Arrow interchange sink — the Spark counterpart of the reference's
  * pyarrow/arro3/nanoarrow backends (conecta-python/src/lib.rs:96-101):
  * the result leaves the engine as serialized Arrow IPC RecordBatches.
  *
  * Batch contract, on every path below: each partition's rows are cut into
  * batches of at most `spark.sql.execution.arrow.maxRecordsPerBatch` rows
  * (default 10,000); a value ≤ 0 gives one batch per non-empty partition,
  * the reference's one RecordBatch per partition (lib.rs:33-34). An empty
  * partition gives no batch.
  *
  * Which code reads a DataFrame, and where:
  *   - a DataFrame whose plan is exactly one JDBC relation (a
  *     [[JdbcSource]] read with no type-conventions projection) is read by
  *     [[JdbcArrowReader]], which writes each JDBC partition's `ResultSet`
  *     straight into Arrow vectors, as the reference does.
  *     `arrowBatchRdd` runs that read in one Spark task per partition;
  *     `collectIpcBatches` runs it on driver threads, with no Spark job
  *     and no task-result round trip, so the batches go from the database
  *     to the driver in one hop;
  *   - any other DataFrame (Parquet, a multi-query union, a conventions
  *     projection, a column type without a typed writer, a compressed
  *     Arrow codec) goes through Spark's own `toArrowBatchRdd`, which
  *     `collectIpcBatches` collects.
  * All give the same rows, Arrow schema and batch count.
  *
  * At cluster scale the RDD stays distributed; `collectIpcBatches` is the
  * driver-side hand-off only for results that fit on the driver — the
  * same contract as the reference's in-memory Arrow table — and both of
  * its paths stop at `spark.driver.maxResultSize`.
  */
object ArrowSink {

  /** The serialized Arrow IPC RecordBatches of `df` (distributed). */
  def arrowBatchRdd(df: DataFrame): RDD[Array[Byte]] =
    directScan(df).fold(GraftArrowBridge.toArrowBatchRdd(df))(
      new JdbcArrowRDD(df.sparkSession.sparkContext, _))

  /** Driver-side collect of the IPC batches, in partition order. */
  def collectIpcBatches(df: DataFrame): Array[Array[Byte]] =
    directScan(df).fold(GraftArrowBridge.toArrowBatchRdd(df).collect())(
      JdbcArrowReader.collect(df.sparkSession, _,
        df.sparkSession.sparkContext.getConf
          .getSizeAsBytes("spark.driver.maxResultSize", "1g")))

  /** The scan of `df` when [[JdbcArrowReader]] covers it. */
  private def directScan(df: DataFrame): Option[JdbcScan] =
    GraftArrowBridge.jdbcScan(df)
      .filter(_.schema.fields.forall(JdbcArrowReader.covers))
}
