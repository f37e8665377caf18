package org.apache.spark.sql

import org.apache.arrow.memory.BufferAllocator
import org.apache.arrow.vector.types.pojo.Schema
import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.CharVarcharCodegenUtils
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.jdbc.{JDBCOptions, JDBCRelation}
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.sql.util.ArrowUtils

/** Access bridge for Spark's `private[sql]` Arrow conversion and JDBC
  * relation — lives in the `org.apache.spark.sql` package solely to satisfy
  * the access qualifier. Public surface is [[graft.sources.ArrowSink]]. */
object GraftArrowBridge {

  /** Serialized Arrow IPC RecordBatches, Spark's own encoding: each
    * partition's rows are cut into batches of at most
    * `spark.sql.execution.arrow.maxRecordsPerBatch` rows (≤ 0: one batch per
    * non-empty partition). */
  def toArrowBatchRdd(df: Dataset[Row]): RDD[Array[Byte]] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .toArrowBatchRdd

  /** What a direct JDBC → Arrow read of one JDBC relation needs: the
    * relation's schema, partitions and options, the width each CHAR(n)
    * column is space-padded to on read (0: not padded), and the session
    * settings `toArrowBatchRdd` encodes with. */
  final case class JdbcScan(schema: StructType, charWidths: Seq[Int],
      partitions: Array[Partition], options: JDBCOptions,
      maxRecordsPerBatch: Int, timeZone: String,
      largeVarTypes: Boolean, errorOnDuplicatedFieldNames: Boolean) {

    /** The Arrow schema `toArrowBatchRdd` would write for `schema`. */
    def arrowSchema: Schema = ArrowUtils.toArrowSchema(schema, timeZone,
      errorOnDuplicatedFieldNames, largeVarTypes)
  }

  /** The scan of `df` if its analyzed plan is exactly one JDBC relation —
    * alone, or under the read-side padding Spark's analyzer puts on its
    * CHAR(n) columns — and the session writes uncompressed Arrow batches;
    * None otherwise. */
  def jdbcScan(df: Dataset[Row]): Option[JdbcScan] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val conf = ds.sparkSession.sessionState.conf
    def scan(r: JDBCRelation, widths: Seq[Int]) =
      JdbcScan(ds.schema, widths, r.parts, r.jdbcOptions,
        conf.arrowMaxRecordsPerBatch, conf.sessionLocalTimeZone,
        conf.arrowUseLargeVarTypes, conf.pandasStructHandlingMode == "legacy")
    if (conf.arrowCompressionCodec != "none") None
    else ds.queryExecution.analyzed match {
      case LogicalRelation(r: JDBCRelation, out, _, false, _) =>
        Some(scan(r, out.map(_ => 0)))
      case Project(list, LogicalRelation(r: JDBCRelation, out, _, false, _))
          if list.length == out.length =>
        val widths = list.zip(out).map {
          case (a: Attribute, o) if a.exprId == o.exprId => Some(0)
          case (Alias(ReadSidePadding(a, n), name), o)
              if a.exprId == o.exprId && name == o.name => Some(n)
          case _ => None
        }
        Option.when(widths.forall(_.isDefined))(scan(r, widths.flatten))
      case _ => None
    }
  }

  /** `readSidePadding(column, n)`, the analyzer's CHAR(n) read padding. */
  private object ReadSidePadding {
    def unapply(e: Expression): Option[(Attribute, Int)] = e match {
      case s: StaticInvoke if s.staticObject == classOf[CharVarcharCodegenUtils] &&
          s.functionName == "readSidePadding" => s.arguments match {
        case Seq(a: Attribute, Literal(n: Int, IntegerType)) => Some((a, n))
        case _ => None
      }
      case _ => None
    }
  }

  /** The allocator every Spark Arrow conversion draws its child from. */
  def rootAllocator: BufferAllocator = ArrowUtils.rootAllocator

  /** Counts `n` records read in the task's input metrics. */
  def incRecordsRead(context: TaskContext, n: Long): Unit =
    context.taskMetrics().inputMetrics.incRecordsRead(n)

  /** Throws Spark's task-killed exception if the task has been killed. */
  def killTaskIfInterrupted(context: TaskContext): Unit =
    context.killTaskIfInterrupted()

  /** Wrap a raw Catalyst Expression as a Column (classic backend). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst Expression (classic backend). */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
