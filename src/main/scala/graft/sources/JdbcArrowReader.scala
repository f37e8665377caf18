package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.channels.Channels
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.{Connection, PreparedStatement, ResultSet}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.arrow.memory.BufferAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.WriteChannel
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.arrow.vector.types.pojo.Schema
import org.apache.spark.{InterruptibleIterator, Partition, SparkContext,
  SparkException, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{GraftArrowBridge, SparkSession}
import org.apache.spark.sql.GraftArrowBridge.JdbcScan
import org.apache.spark.sql.catalyst.util.{CharVarcharCodegenUtils, DateTimeUtils}
import org.apache.spark.sql.execution.datasources.jdbc.JDBCPartition
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.Par

/** Direct JDBC → Arrow read of one JDBC relation — the reference's scan,
  * which transposes each partition's rows into pre-allocated Arrow builders
  * with no intermediate row format (conecta-core/src/source/postgres.rs:
  * 340-485, lib.rs:33-52).
  *
  * Each JDBC partition's read sends the SQL Spark's own JDBC scan sends for
  * that partition, over a connection opened the way Spark opens it, and
  * writes the `ResultSet` straight into Arrow vectors with one typed writer
  * per column. The writers reproduce Spark's JDBC getters followed by its
  * `ArrowWriter` value for value ([[ColumnWriter]]), so the batches decode to
  * the rows, schema and batch count of `toArrowBatchRdd` over the same
  * DataFrame; only the per-row `InternalRow`, `UnsafeRow` projection and
  * generic per-cell Arrow dispatch are gone. [[JdbcArrowRDD]] runs one read
  * per Spark task; [[collect]] runs them on driver threads.
  */
private[graft] object JdbcArrowReader {

  /** Metadata keys under which Spark's JDBC schema asks for a non-default
    * getter (binary-encoded longs, ROWIDs, TIME as timestamp). */
  private val specialGetters = Seq("binarylong", "rowid", "logical_time_type")

  /** Whether a typed writer covers the field: the scalar types a JDBC read
    * resolves to, read with Spark's default getter for the type. */
  def covers(f: StructField): Boolean =
    !specialGetters.exists(f.metadata.contains) && (f.dataType match {
      case BooleanType | ShortType | IntegerType | LongType | FloatType |
          DoubleType | _: DecimalType | StringType | BinaryType | DateType |
          TimestampType | TimestampNTZType => true
      case _ => false
    })

  /** The IPC batches of `scan`, in partition order, read on driver threads
    * with no Spark job: conecta's N threads with one connection each
    * (lib.rs:35-52). At most `min(#partitions, defaultParallelism)`
    * partitions are open at once; each [[Par]] task reads the next
    * unclaimed partition until none is left. Once the batches read so far
    * exceed `maxResultSize` bytes (0: no limit) the read fails with
    * Spark's collect error. The first failure stops every other read at
    * its next poll; the call returns once every read has closed its
    * connection and freed its buffers, and rethrows that failure
    * unwrapped. A failed partition is not retried. */
  def collect(spark: SparkSession, scan: JdbcScan,
      maxResultSize: Long): Array[Array[Byte]] = {
    val parts = scan.partitions
    val out = new Array[Array[Array[Byte]]](parts.length)
    val claimed = new AtomicInteger
    val bytes = new AtomicLong
    Par.scope(spark, "arrow-collect") { p =>
      val control = new ReadControl {
        def poll(): Unit = p.check()
        def recordsRead(n: Int): Unit = ()
      }
      val workers = math.min(parts.length, spark.sparkContext.defaultParallelism)
      (0 until workers).foreach(w => p.async(s"reader-$w") {
        var i = claimed.getAndIncrement()
        while (i < parts.length) {
          p.check()
          val reader = new PartitionReader(scan,
            parts(i).asInstanceOf[JDBCPartition], control)
          try out(i) = reader.open().map { b =>
            val total = bytes.addAndGet(b.length)
            if (maxResultSize > 0 && total > maxResultSize)
              throw new SparkException("Total size of the Arrow batches " +
                s"read so far ($total bytes) is bigger than " +
                s"spark.driver.maxResultSize ($maxResultSize bytes)")
            b
          }.toArray
          finally reader.close()
          i = claimed.getAndIncrement()
        }
      })
    }
    out.flatten
  }
}

/** How a partition read is told to stop, polled every 1,024 rows, and
  * where it counts the records it read. */
private[graft] trait ReadControl {
  def poll(): Unit
  def recordsRead(n: Int): Unit
}

/** The IPC batches of `scan`: one task per JDBC partition. */
private[graft] final class JdbcArrowRDD(sc: SparkContext, scan: JdbcScan)
    extends RDD[Array[Byte]](sc, Nil) {

  override protected def getPartitions: Array[Partition] = scan.partitions

  override def compute(split: Partition,
      context: TaskContext): Iterator[Array[Byte]] = {
    val reader = new PartitionReader(scan, split.asInstanceOf[JDBCPartition],
      new ReadControl {
        def poll(): Unit = GraftArrowBridge.killTaskIfInterrupted(context)
        def recordsRead(n: Int): Unit =
          GraftArrowBridge.incRecordsRead(context, n)
      })
    // runs on completion, failure and kill alike
    context.addTaskCompletionListener[Unit](_ => reader.close())
    new InterruptibleIterator(context, reader.open())
  }
}

/** The connection, statement, result set and Arrow buffers of one
  * partition's read, opened as Spark's `JDBCRDD.compute` opens them. */
private final class PartitionReader(scan: JdbcScan, part: JDBCPartition,
    control: ReadControl) {
  private val options = scan.options
  private val dialect = JdbcDialects.get(options.url)
  private var conn: Connection = _
  private var stmt: PreparedStatement = _
  private var rs: ResultSet = _
  private var allocator: BufferAllocator = _
  private var batches: ResultSetBatches = _
  private var closed = false

  def open(): Iterator[Array[Byte]] = {
    conn = dialect.createConnectionFactory(options)(part.idx)
    dialect.beforeFetch(conn, options.asProperties.asScala.toMap)
    options.sessionInitStatement.foreach { sql =>
      val init = conn.prepareStatement(sql)
      try {
        init.setQueryTimeout(options.queryTimeout)
        init.execute()
      } finally init.close()
    }
    // the SQL Spark's JDBC scan sends for this partition of a relation read
    // whole: the dialect's query builder over every column, no pushed filter
    val sql = dialect.getJdbcSQLQueryBuilder(options)
      .withPredicates(Array.empty, part)
      .withColumns(scan.schema.fieldNames.map(dialect.quoteIdentifier))
      .build()
    stmt = conn.prepareStatement(sql, ResultSet.TYPE_FORWARD_ONLY,
      ResultSet.CONCUR_READ_ONLY)
    stmt.setFetchSize(options.fetchSize)
    stmt.setQueryTimeout(options.queryTimeout)
    rs = stmt.executeQuery()
    allocator = GraftArrowBridge.rootAllocator.newChildAllocator(
      s"JdbcArrowReader partition ${part.idx}", 0, Long.MaxValue)
    // a padded column is read as CHAR(n), which its writer pads
    val columns = StructType(scan.schema.fields.zip(scan.charWidths).map {
      case (f, n) => if (n > 0) f.copy(dataType = CharType(n)) else f
    })
    batches = new ResultSetBatches(rs, columns, dialect, scan.arrowSchema,
      scan.maxRecordsPerBatch, allocator, Some(control))
    // the by-name tail runs once the batches are exhausted: release the
    // connection then, not at the end of the task
    batches ++ { close(); Iterator.empty }
  }

  def close(): Unit = if (!closed) {
    closed = true
    def quietly(f: => Unit): Unit = try f catch { case NonFatal(_) => }
    if (rs != null) quietly(rs.close())
    if (stmt != null) quietly(stmt.close())
    if (conn != null) {
      quietly(if (!conn.isClosed && !conn.getAutoCommit) conn.commit())
      quietly(conn.close())
    }
    if (batches != null) batches.close()
    if (allocator != null) allocator.close()
  }
}

/** The rows of `rs`, read as `schema` says ([[ColumnWriter]]), from its
  * current position, as serialized Arrow IPC record batches of at most
  * `maxRecordsPerBatch` rows each (≤ 0: all rows in one batch) —
  * `toArrowBatchRdd`'s cut. Fixed-width vectors are allocated once at the
  * batch capacity and filled with `set`, with no per-cell capacity check;
  * they grow (doubling) only past 65,536 rows, when the cap is larger or
  * absent. Variable-width values are written with `setSafe`. The vectors
  * are reset and reused between batches. `control`, when given, is polled
  * every 1,024 rows and gets the records read. Closing releases the
  * vectors, not `rs`. */
private[graft] final class ResultSetBatches(rs: ResultSet, schema: StructType,
    dialect: JdbcDialect, arrowSchema: Schema, maxRecordsPerBatch: Int,
    allocator: BufferAllocator, control: Option[ReadControl])
    extends Iterator[Array[Byte]] with AutoCloseable {

  // the first row is fetched before any buffer is allocated, so a query
  // that fails on it leaves nothing to release
  private var more = rs.next()
  private val root = VectorSchemaRoot.create(arrowSchema, allocator)
  private val vectors = root.getFieldVectors.asScala.toArray
  private val writers = schema.fields.indices.map(i =>
    ColumnWriter(schema(i).dataType, vectors(i), i + 1, dialect)).toArray
  private val fixed = vectors.collect { case v: BaseFixedWidthVector => v }
  private val unloader = new VectorUnloader(root)

  // the batch cap, bounded so that a huge cap (or none) grows by doubling
  // instead of reserving its whole size up front
  try vectors.foreach { v =>
    v.setInitialCapacity(math.min(
      if (maxRecordsPerBatch > 0) maxRecordsPerBatch else Int.MaxValue, 1 << 16))
    v.allocateNew()
  } catch { case NonFatal(e) => root.close(); throw e }
  private var capacity = fixedCapacity

  private def fixedCapacity: Int =
    if (fixed.isEmpty) Int.MaxValue else fixed.map(_.getValueCapacity).min

  def hasNext: Boolean = more

  def next(): Array[Byte] = {
    if (!more) throw new NoSuchElementException("no rows left")
    var n = 0
    while (more && (maxRecordsPerBatch <= 0 || n < maxRecordsPerBatch)) {
      if (n == capacity) {
        fixed.foreach(_.reAlloc())
        capacity = fixedCapacity
      }
      var c = 0
      while (c < writers.length) {
        writers(c).write(rs, n)
        c += 1
      }
      n += 1
      if ((n & 1023) == 0)
        control.foreach(_.poll())
      more = rs.next()
    }
    root.setRowCount(n)
    val out = new ByteArrayOutputStream()
    val batch = unloader.getRecordBatch()
    try MessageSerializer.serialize(new WriteChannel(Channels.newChannel(out)),
      batch)
    finally batch.close()
    vectors.foreach(_.reset())
    control.foreach(_.recordsRead(n))
    out.toByteArray
  }

  def close(): Unit = root.close()
}

/** Writes column `col` (1-based) of the current row into row `row` of its
  * vector. */
private trait ColumnWriter {
  def write(rs: ResultSet, row: Int): Unit
}

/** One writer per covered type ([[JdbcArrowReader.covers]]), each the
  * composition of Spark's JDBC getter for the type (`JdbcUtils.makeGetter`,
  * `wasNull` checked after the getter as Spark's row iterator does) and
  * Spark's `ArrowWriter` for the same type: the dialect's date and
  * timestamp conversions, `Decimal(value, p, s)` (which throws when the
  * rounded value exceeds the precision) followed by `changePrecision`
  * (null when it does not fit), strings as their UTF-8 bytes. */
private object ColumnWriter {
  def apply(dt: DataType, vector: FieldVector, col: Int,
      dialect: JdbcDialect): ColumnWriter = dt match {
    case BooleanType =>
      val v = vector.asInstanceOf[BitVector]
      (rs, row) => {
        val x = rs.getBoolean(col)
        if (rs.wasNull) v.setNull(row) else v.set(row, if (x) 1 else 0)
      }
    case ShortType =>
      val v = vector.asInstanceOf[SmallIntVector]
      (rs, row) => {
        val x = rs.getShort(col)
        if (rs.wasNull) v.setNull(row) else v.set(row, x)
      }
    case IntegerType =>
      val v = vector.asInstanceOf[IntVector]
      (rs, row) => {
        val x = rs.getInt(col)
        if (rs.wasNull) v.setNull(row) else v.set(row, x)
      }
    case LongType =>
      val v = vector.asInstanceOf[BigIntVector]
      (rs, row) => {
        val x = rs.getLong(col)
        if (rs.wasNull) v.setNull(row) else v.set(row, x)
      }
    case FloatType =>
      val v = vector.asInstanceOf[Float4Vector]
      (rs, row) => {
        val x = rs.getFloat(col)
        if (rs.wasNull) v.setNull(row) else v.set(row, x)
      }
    case DoubleType =>
      val v = vector.asInstanceOf[Float8Vector]
      (rs, row) => {
        val x = rs.getDouble(col)
        if (rs.wasNull) v.setNull(row) else v.set(row, x)
      }
    case t: DecimalType =>
      val (p, s) = (t.precision, t.scale)
      val v = vector.asInstanceOf[DecimalVector]
      (rs, row) => {
        val x = rs.getBigDecimal(col)
        val d = if (x == null) null else Decimal(x, p, s)
        if (d == null || rs.wasNull || !d.changePrecision(p, s)) v.setNull(row)
        else v.set(row, d.toJavaBigDecimal)
      }
    case StringType =>
      val v = vector.asInstanceOf[VariableWidthFieldVector]
      (rs, row) => {
        val x = rs.getString(col)
        if (x == null || rs.wasNull) v.setNull(row)
        else v.setSafe(row, x.getBytes(UTF_8))
      }
    case CharType(n) =>
      val v = vector.asInstanceOf[VariableWidthFieldVector]
      (rs, row) => {
        val x = rs.getString(col)
        if (x == null || rs.wasNull) v.setNull(row)
        else v.setSafe(row, CharVarcharCodegenUtils.readSidePadding(
          UTF8String.fromString(x), n).getBytes)
      }
    case BinaryType =>
      val v = vector.asInstanceOf[VariableWidthFieldVector]
      (rs, row) => {
        val x = rs.getBytes(col)
        if (x == null || rs.wasNull) v.setNull(row) else v.setSafe(row, x)
      }
    case DateType =>
      val v = vector.asInstanceOf[DateDayVector]
      (rs, row) => {
        val x = rs.getDate(col)
        if (x == null || rs.wasNull) v.setNull(row)
        else v.set(row, DateTimeUtils.fromJavaDate(dialect.convertJavaDateToDate(x)))
      }
    case TimestampType =>
      val v = vector.asInstanceOf[TimeStampVector]
      (rs, row) => {
        val x = rs.getTimestamp(col)
        if (x == null || rs.wasNull) v.setNull(row)
        else v.set(row, DateTimeUtils.fromJavaTimestamp(
          dialect.convertJavaTimestampToTimestamp(x)))
      }
    case TimestampNTZType =>
      val v = vector.asInstanceOf[TimeStampVector]
      (rs, row) => {
        val x = rs.getTimestamp(col)
        if (x == null || rs.wasNull) v.setNull(row)
        else v.set(row, DateTimeUtils.localDateTimeToMicros(
          dialect.convertJavaTimestampToTimestampNTZ(x)))
      }
    case other =>
      throw new IllegalArgumentException(s"no Arrow writer for $other")
  }
}
