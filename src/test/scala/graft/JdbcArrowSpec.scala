package graft

import java.nio.file.Files
import java.sql.{DriverManager, SQLException}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftArrowBridge, SparkSession, TestArrowBridge}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowSink, JdbcArrowRDD, JdbcArrowReader, ResultSetBatches}

/** The direct JDBC → Arrow path of [[ArrowSink]] against Spark's own
  * `toArrowBatchRdd` over the same DataFrame: the same rows, Arrow schema,
  * batch count and SQL, on embedded Derby for every covered type and on
  * the replayed pgjdbc row of [[PgFixture]]; the plans it must leave to
  * Spark; its clean-up when a partition fails, in a Spark task and in the
  * driver collect; and the driver collect's result-size limit, job count
  * and connection bound. */
class JdbcArrowSpec extends AnyFunSuite {

  private val db = "memory:arrowdb"
  private val url = RecordingDriver.url(db)
  private val maxRecords = "spark.sql.execution.arrow.maxRecordsPerBatch"
  private val largeVar = "spark.sql.execution.arrow.useLargeVarTypes"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-jdbc-arrow-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** `zoo`: one column per covered Derby type, ids 1..60, every fifth row
    * NULL in each nullable column. `clock`: a TIME column. `fail`: ids
    * 1..300. */
  private lazy val seeded: Unit = {
    val conn = DriverManager.getConnection(s"jdbc:derby:$db;create=true")
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE zoo (id BIGINT NOT NULL, s SMALLINT,
        |i INTEGER, b BIGINT, r REAL, d DOUBLE, dm DECIMAL(9,3), c CHAR(4),
        |v VARCHAR(20), vb VARCHAR(8) FOR BIT DATA, bo BOOLEAN, dt DATE,
        |ts TIMESTAMP)""".stripMargin)
      val ps = conn.prepareStatement(
        "INSERT INTO zoo VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?)")
      for (id <- 1 to 60) {
        ps.setLong(1, id.toLong)
        if (id % 5 == 0) (2 to 13).foreach(c => ps.setNull(c, zooTypes(c - 2)))
        else {
          ps.setShort(2, (id * 3 - 50).toShort)
          ps.setInt(3, id * 1000 - 7)
          ps.setLong(4, id * 10000000000L)
          ps.setFloat(5, id / 3f)
          ps.setDouble(6, id * 1.25)
          ps.setBigDecimal(7, new java.math.BigDecimal(s"${id - 30}.${id}7"))
          ps.setString(8, if (id % 2 == 0) "ab" else "wxyz")
          ps.setString(9, s"ü€-$id")
          ps.setBytes(10, Array[Byte](id.toByte, 0, -1, (id * 7).toByte))
          ps.setBoolean(11, id % 2 == 0)
          ps.setDate(12, java.sql.Date.valueOf(s"2024-0${1 + id % 9}-1${id % 10}"))
          ps.setTimestamp(13, java.sql.Timestamp.valueOf(
            s"2024-03-1${id % 10} 0${id % 10}:1${id % 6}:07.${100000 + id * 1234}"))
        }
        ps.addBatch()
      }
      ps.executeBatch()
      st.execute("CREATE TABLE clock (id BIGINT NOT NULL, t TIME)")
      st.execute("INSERT INTO clock VALUES (1, '14:30:00'), (2, NULL)")
      st.execute("CREATE TABLE fail (id BIGINT NOT NULL)")
      val pf = conn.prepareStatement("INSERT INTO fail VALUES (?)")
      (1 to 300).foreach { i => pf.setLong(1, i.toLong); pf.addBatch() }
      pf.executeBatch()
    } finally conn.close()
  }

  private val zooTypes = {
    import java.sql.Types._
    Seq(SMALLINT, INTEGER, BIGINT, REAL, DOUBLE, DECIMAL, CHAR, VARCHAR,
      VARBINARY, BOOLEAN, DATE, TIMESTAMP)
  }

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `zoo` in four partitions over ids [1, 121]: ids 1..30 and 31..60,
    * then two empty partitions. */
  private def zoo(): DataFrame =
    Graft.readSql(spark, url, Seq("select * from zoo"),
      partitionOn = Some("id"), partitionNum = Some(4),
      partitionRange = Some((1L, 121L)))

  private def sparkPath(df: DataFrame) =
    GraftArrowBridge.toArrowBatchRdd(df).collect().toSeq

  private def assertSparkPath(df: DataFrame): Unit = {
    assert(!ArrowSink.arrowBatchRdd(df).isInstanceOf[JdbcArrowRDD])
    val got = ArrowSink.collectIpcBatches(df).toSeq.map(_.toSeq)
    assert(got == sparkPath(df).map(_.toSeq))
  }

  for ((cap, large) <- Seq(("7", "false"), ("7", "true"), ("0", "false"))) {
    test(s"Derby: the direct path equals Spark's for every covered type " +
        s"(maxRecordsPerBatch $cap, useLargeVarTypes $large)") {
      seeded
      withConf(maxRecords -> cap, largeVar -> large) {
        val df = zoo()
        assert(df.schema.fields.forall(JdbcArrowReader.covers))
        assert(ArrowSink.arrowBatchRdd(df).isInstanceOf[JdbcArrowRDD])
        val schema = TestArrowBridge.arrowSchema(spark, df.schema)
        assert(GraftArrowBridge.jdbcScan(df).map(_.arrowSchema).contains(schema))
        val (expected, sparkSql) = RecordingDriver.recording(sparkPath(df))
        val (direct, directSql) =
          RecordingDriver.recording(ArrowSink.collectIpcBatches(df).toSeq)
        assert(directSql.nonEmpty && directSql.sorted == sparkSql.sorted)
        val sizes =
          if (cap == "7") Seq(7, 7, 7, 7, 2, 7, 7, 7, 7, 2) else Seq(30, 30)
        val rows = ArrowIpc.decode(schema, direct)
        assert(rows.map(_.size) == sizes)
        assert(rows == ArrowIpc.decode(schema, expected))
        assert(rows.flatten.map(_.head) == (1 to 60).map(_.toLong))
        assert(rows.flatten.count(_.contains(null)) == 12)
      }
    }
  }

  test("pgjdbc replay: the writers equal Spark's getters and ArrowWriter " +
      "on every covered column") {
    val cols = PgFixture.selectCols
    val (full, rows) = PgFixture.decodeRows(cols)
    val covered = cols.indices.filter(i => JdbcArrowReader.covers(full(i)))
    assert(covered.map(cols(_).name) == Seq("id", "small_int", "int_",
      "big_int", "double_", "varchar_", "text_", "bool_", "uuid_", "bytea_",
      "date_", "timestamp_", "point_", "circle_", "line_", "box_", "lseg_",
      "path_", "polygon_"))
    val schema = StructType(covered.map(full(_)))
    val arrow = TestArrowBridge.arrowSchema(spark, schema)
    val expected = ArrowSink.collectIpcBatches(spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(r => org.apache.spark.sql.Row.fromSeq(covered.map(r.get))), 1),
      schema)).toSeq
    val alloc = GraftArrowBridge.rootAllocator.newChildAllocator("pg", 0,
      Long.MaxValue)
    val direct = try {
      val batches = new ResultSetBatches(
        PgFixture.mockDataResultSet(covered.map(cols(_)), PgFixture.datatypeRow),
        schema, PgFixture.pgDialect, arrow, 10000, alloc, None)
      try batches.toList finally batches.close()
    } finally alloc.close()
    assert(direct.size == 1)
    assert(ArrowIpc.decode(arrow, direct) == ArrowIpc.decode(arrow, expected))
  }

  test("an uncapped batch grows its vectors past their first allocation") {
    // 70,000 rows of (n, n % 7 == 0 ? NULL : n) through one batch
    val rows = 70000
    var row = 0
    var lastNull = false
    val rs = java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[java.sql.ResultSet]), (_, m, args) => m.getName match {
        case "next" => row += 1; Boolean.box(row <= rows)
        case "getLong" =>
          lastNull = args(0) == Int.box(2) && row % 7 == 0
          Long.box(if (lastNull) 0L else row.toLong)
        case "wasNull" => Boolean.box(lastNull)
        case other => sys.error(s"unmocked ResultSet.$other")
      }).asInstanceOf[java.sql.ResultSet]
    val schema = StructType.fromDDL("n BIGINT, m BIGINT")
    val arrow = TestArrowBridge.arrowSchema(spark, schema)
    val alloc = GraftArrowBridge.rootAllocator.newChildAllocator("grow", 0,
      Long.MaxValue)
    val batches = try {
      val b = new ResultSetBatches(rs, schema, PgFixture.pgDialect, arrow, 0,
        alloc, None)
      try b.toList finally b.close()
    } finally alloc.close()
    assert(ArrowIpc.decode(arrow, batches) == Seq((1 to rows).map(n =>
      Seq(n.toLong, if (n % 7 == 0) null else n.toLong))))
  }

  test("plans the writers do not cover take Spark's path unchanged") {
    seeded
    // TIME: the conventions projection sits on top of the relation
    assertSparkPath(Graft.readSql(spark, url, Seq("select * from clock")))
    // a multi-query union
    assertSparkPath(Graft.readSql(spark, url,
      Seq("select * from zoo where id < 10", "select * from zoo where id > 50")))
    // a Parquet source
    val dir = Files.createTempDirectory("jdbc-arrow-spec").resolve("t")
    spark.range(0, 50, 1, 2).toDF("id").write.parquet(dir.toString)
    assertSparkPath(spark.read.parquet(dir.toString))
  }

  /** `fail` in two partitions; the second divides by zero mid-batch at
    * id 250, or on its first row at id 101. */
  private def failing(bad: Int): DataFrame = spark.read.jdbc(url, "fail",
    Array("id <= 100", s"id > 100 and 1000 / (id - $bad) <> 0"),
    new java.util.Properties())

  test("a failing partition reaches the caller and releases its Arrow " +
      "buffers and connections") {
    seeded
    for (bad <- Seq(250, 101)) {
      val df = failing(bad)
      assert(ArrowSink.arrowBatchRdd(df).isInstanceOf[JdbcArrowRDD])
      val memory = GraftArrowBridge.rootAllocator.getAllocatedMemory
      val connections = RecordingDriver.openConnections
      val e = intercept[SparkException](ArrowSink.arrowBatchRdd(df).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("divide by zero")))
      // the other task may still be winding down when the job fails
      val deadline = System.nanoTime() + 30L * 1000000000L
      def settled = GraftArrowBridge.rootAllocator.getAllocatedMemory == memory &&
        RecordingDriver.openConnections == connections
      while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
      assert(GraftArrowBridge.rootAllocator.getAllocatedMemory == memory)
      assert(RecordingDriver.openConnections == connections)
    }
  }

  test("the driver collect rethrows a failing partition's own exception " +
      "once every read has released its Arrow buffers and connection") {
    seeded
    for (bad <- Seq(250, 101)) {
      val df = failing(bad)
      val memory = GraftArrowBridge.rootAllocator.getAllocatedMemory
      val connections = RecordingDriver.openConnections
      val e = intercept[SQLException](ArrowSink.collectIpcBatches(df))
      assert(e.getMessage.contains("divide by zero"), e)
      assert(GraftArrowBridge.rootAllocator.getAllocatedMemory == memory)
      assert(RecordingDriver.openConnections == connections)
    }
  }

  test("the driver collect stops every read past spark.driver.maxResultSize") {
    seeded
    val scan = GraftArrowBridge.jdbcScan(zoo()).get
    val memory = GraftArrowBridge.rootAllocator.getAllocatedMemory
    val connections = RecordingDriver.openConnections
    val e = intercept[SparkException](JdbcArrowReader.collect(spark, scan, 1024))
    assert(e.getMessage.contains("spark.driver.maxResultSize"), e)
    assert(GraftArrowBridge.rootAllocator.getAllocatedMemory == memory)
    assert(RecordingDriver.openConnections == connections)
    // 0: no limit
    assert(JdbcArrowReader.collect(spark, scan, 0).length == 2)
  }

  test("the driver collect of a covered read runs no Spark job and holds " +
      "at most defaultParallelism connections") {
    seeded
    val sc = spark.sparkContext
    assert(sc.defaultParallelism == 4)
    // 8 partitions over [1, 121]: about half of them empty
    val df = Graft.readSql(spark, url, Seq("select * from zoo"),
      partitionOn = Some("id"), partitionNum = Some(8),
      partitionRange = Some((1L, 121L)))
    assert(GraftArrowBridge.jdbcScan(df).map(_.partitions.length).contains(8))
    val expected = sparkPath(df)
    // the job group of every job that starts; the listener bus delivers
    // in order, so once the "after" control job shows, every job started
    // before it has shown too
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val mark = s"no-job-${java.util.UUID.randomUUID()}"
    def control(tag: String): Unit = {
      sc.setJobGroup(s"$mark-$tag", tag)
      try assert(sc.parallelize(Seq(1), 1).count() == 1L)
      finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    val (direct, peak) = try {
      control("before")
      val out = RecordingDriver.peakOpen(ArrowSink.collectIpcBatches(df).toSeq)
      control("after")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(s"$mark-after") && System.nanoTime() < deadline)
        Thread.sleep(20)
      out
    } finally sc.removeSparkListener(listener)
    val seen = groups.asScala.toSeq
    assert(seen.contains(s"$mark-before") && seen.contains(s"$mark-after"),
      seen)
    assert(seen.dropWhile(_ != s"$mark-before").drop(1)
      .takeWhile(_ != s"$mark-after").isEmpty, seen)
    assert(peak <= 4, s"$peak connections open at once")
    val schema = TestArrowBridge.arrowSchema(spark, df.schema)
    val rows = ArrowIpc.decode(schema, direct)
    assert(rows == ArrowIpc.decode(schema, expected))
    assert(rows.flatten.map(_.head) == (1 to 60).map(_.toLong))
  }
}
