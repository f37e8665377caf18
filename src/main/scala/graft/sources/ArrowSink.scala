package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftArrowBridge}

/** Arrow interchange sink — the Spark counterpart of the reference's
  * pyarrow/arro3/nanoarrow backends (conecta-python/src/lib.rs:96-101):
  * the result leaves the engine as serialized Arrow IPC RecordBatches.
  *
  * Batch contract, on both paths below: each partition's rows are cut into
  * batches of at most `spark.sql.execution.arrow.maxRecordsPerBatch` rows
  * (default 10,000); a value ≤ 0 gives one batch per non-empty partition,
  * the reference's one RecordBatch per partition (lib.rs:33-34). An empty
  * partition gives no batch.
  *
  * Two paths produce the batches:
  *   - a DataFrame whose plan is exactly one JDBC relation (a
  *     [[JdbcSource]] read with no type-conventions projection) is read by
  *     [[JdbcArrowReader]], one task per JDBC partition writing the
  *     `ResultSet` straight into Arrow vectors, as the reference does;
  *   - any other DataFrame (Parquet, a multi-query union, a conventions
  *     projection, a column type without a typed writer) goes through
  *     Spark's own `toArrowBatchRdd`.
  * Both give the same rows, Arrow schema and batch count.
  *
  * At cluster scale the RDD stays distributed; `collectIpcBatches` is the
  * driver-side hand-off only for results that fit on the driver — the
  * same contract as the reference's in-memory Arrow table.
  */
object ArrowSink {

  /** The serialized Arrow IPC RecordBatches of `df` (distributed). */
  def arrowBatchRdd(df: DataFrame): RDD[Array[Byte]] =
    GraftArrowBridge.jdbcScan(df)
      .filter(_.schema.fields.forall(JdbcArrowReader.covers))
      .fold(GraftArrowBridge.toArrowBatchRdd(df))(
        new JdbcArrowRDD(df.sparkSession.sparkContext, _))

  /** Driver-side collect of the IPC batches, in partition order. */
  def collectIpcBatches(df: DataFrame): Array[Array[Byte]] =
    arrowBatchRdd(df).collect()
}
