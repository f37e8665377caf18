package graft

import java.time.LocalDateTime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.JdbcSource

/** Row-VALUE conformance of the PG read path, without a live Postgres —
  * the decoding complement of [[DialectConformanceSpec]] (which stops at
  * schema resolution): the reference's full datatype insert
  * (`conecta-python/conecta/tests/test_data/pg_datatypes_data.sql`),
  * restricted to its implemented SELECT list
  * (`pg_datatypes_select.sql` — numeric/timetz/etc. are commented out
  * there ON PURPOSE), is replayed as pgjdbc's documented getter
  * responses through Spark's REAL JDBC value conversion
  * (`JdbcUtils.resultSetToRows`, the same `makeGetters` a partitioned
  * read runs per task) with the registered dialect chain, then through
  * the engine's REAL post-read conventions projection
  * ([[JdbcSource.applyTypeConventions]]). One assertion per §1.3 value
  * convention: TIME → µs since midnight, UUID canonical string, arrays
  * element-for-element, geometric text forms → the documented
  * ArrayType(Double) encodings.
  *
  * What this still cannot cover (SURVEY "what's missing"): the wire
  * itself — binary-protocol encodings and pgjdbc's own text parsing are
  * upstream of the getter seam replayed here.
  */
class PgRowConformanceSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-pg-row-conformance")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // Stage A: Spark's JDBC value-conversion layer over the replayed row
  private lazy val (schema, rows) = PgFixture.decodeRows()
  private lazy val raw = rows.head
  private def rawVal(col: String): Any =
    raw.get(schema.fieldIndex(col))

  // Stage B: the engine's post-read conventions projection (the same
  // code a live read applies, over the schema the real JdbcUtils.getSchema
  // resolved — so the same `jdbcClientType` metadata a live read carries)
  private def project(): org.apache.spark.sql.DataFrame =
    JdbcSource.applyTypeConventions(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema))
  private lazy val converted = {
    val df = project()
    (df.schema, df.collect().head)
  }
  private def convVal(col: String): Any =
    converted._2.get(converted._1.fieldIndex(col))

  test("one row decodes, with one field per SELECT-list column") {
    assert(rows.size == 1)
    assert(schema.fieldNames.toSeq == PgFixture.selectList)
  }

  test("integer family decodes the inserted values at the §1.3 widths") {
    assert(rawVal("id") == 1)
    assert(rawVal("small_int") == 5.toShort)
    assert(rawVal("int_") == 1000)
    assert(rawVal("big_int") == 9000000000L)
  }

  test("FLOAT8 decodes as Double") {
    assert(rawVal("double_") == 2.71828d)
  }

  test("VARCHAR/TEXT decode as the inserted strings") {
    assert(rawVal("varchar_") == "Hello, world!")
    assert(rawVal("text_") == "Some long text here...")
  }

  test("BOOL decodes as Boolean") {
    assert(rawVal("bool_") == true)
  }

  test("UUID decodes as its canonical string (§1.3 convention)") {
    assert(rawVal("uuid_") == PgFixture.uuidScalar)
  }

  test("BYTEA decodes to the inserted bytes (\\xDEADBEEF)") {
    assert(rawVal("bytea_").asInstanceOf[Array[Byte]].toSeq ==
      Seq(0xDE.toByte, 0xAD.toByte, 0xBE.toByte, 0xEF.toByte))
  }

  test("DATE decodes as 2025-08-22") {
    assert(String.valueOf(rawVal("date_")) == "2025-08-22")
  }

  test("TIMESTAMP decodes as the NTZ wall clock (no tz reinterpretation)") {
    assert(rawVal("timestamp_") ==
      LocalDateTime.of(2025, 8, 22, 14, 30, 0))
  }

  test("TIME → LongType 52_200_000_000 µs since midnight (14:30:00)") {
    // JDBC layer surfaces the 1970-01-01 wall clock; the engine's
    // projection produces the documented µs-since-midnight long
    assert(rawVal("time_") == LocalDateTime.of(1970, 1, 1, 14, 30, 0))
    assert(converted._1("time_").dataType == LongType)
    assert(convVal("time_") == 52200000000L)
  }

  test("TIME µs convention is session-timezone-independent (r11 fix)") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      // east of UTC — the cast-based projection this replaced went
      // NEGATIVE here (wall clock reinterpreted as an instant)
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val df = project()
      val r = df.collect().head
      assert(r.get(df.schema.fieldIndex("time_")) == 52200000000L)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("integer arrays decode element-for-element") {
    assert(rawVal("int_array") == Seq(1, 2, 3))
    assert(rawVal("smallint_array") == Seq(1.toShort, 2.toShort))
    assert(rawVal("bigint_array") == Seq(1234567890123L, 42L))
  }

  test("float arrays decode element-for-element") {
    assert(rawVal("real_array") == Seq(1.1f, 2.2f))
    assert(rawVal("double_array") == Seq(3.14159d, 2.71828d))
  }

  test("TEXT/UUID arrays decode as strings (uuid: canonical form)") {
    assert(rawVal("text_array") == Seq("foo", "bar", "baz"))
    assert(rawVal("uuid_array") == PgFixture.uuidArr)
  }

  test("BOOL array decodes element-for-element") {
    assert(rawVal("bool_array") == Seq(true, false))
  }

  test("BYTEA array decodes per-element bytes") {
    val got = rawVal("bytea_array")
      .asInstanceOf[scala.collection.Seq[Array[Byte]]]
    assert(got.map(_.toSeq).toSeq == Seq(
      Seq(0xDE.toByte, 0xAD.toByte), Seq(0xBE.toByte, 0xEF.toByte)))
  }

  test("POINT '(1,2)' → [x,y]") {
    assert(convVal("point_") == Seq(1.0, 2.0))
  }

  test("CIRCLE '<(0,0),5>' → [x,y,r]") {
    assert(convVal("circle_") == Seq(0.0, 0.0, 5.0))
  }

  test("LINE '{1,-1,0}' → [a,b,c] (PG normalizes ((0,0),(1,1)))") {
    assert(convVal("line_") == Seq(1.0, -1.0, 0.0))
  }

  test("BOX '(2,2),(0,0)' → [x1,y1,x2,y2] in PG output order") {
    assert(convVal("box_") == Seq(2.0, 2.0, 0.0, 0.0))
  }

  test("LSEG '[(0,0),(3,4)]' → [x1,y1,x2,y2]") {
    assert(convVal("lseg_") == Seq(0.0, 0.0, 3.0, 4.0))
  }

  test("PATH closed '((…))' → [open=0, n=4, coords…]") {
    assert(convVal("path_") ==
      Seq(0.0, 4.0, 1.0, 1.0, 4.0, 1.0, 4.0, 4.0, 1.0, 4.0))
  }

  test("POLYGON '((0,0),(4,0),(2,3))' → flat coords") {
    assert(convVal("polygon_") == Seq(0.0, 0.0, 4.0, 0.0, 2.0, 3.0))
  }

  test("geo columns land as ArrayType(DoubleType) after the projection") {
    Seq("point_", "circle_", "line_", "box_", "lseg_", "path_",
        "polygon_").foreach { c =>
      // containsNull=false: the decoder emits whole-array null for a
      // NULL geometry, never null elements
      assert(converted._1(c).dataType ==
        ArrayType(DoubleType, containsNull = false), s"column $c")
    }
  }

  test("TIMESTAMPTZ decodes instant-preserving across DST edges, " +
      "JVM-zone-independent (scalar and array)") {
    import java.time.Instant
    // The reference's select list excludes timestamptz (its engine
    // panics on it — pg_datatypes_select.sql), so there is no reference
    // golden value to port; this pins OUR §1.3 convention instead:
    // timestamptz is an INSTANT (TimestampType), and the getter seam
    // must preserve it even where the JVM default zone's wall clock is
    // skipped or ambiguous. America/New_York 2025 edges: 02:xx on
    // Mar 9 does not exist (spring-forward gap); 01:30 on Nov 2
    // happens twice (two instants, one wall clock).
    val instants = Seq(
      "tstz_pre_gap" -> Instant.parse("2025-03-09T06:59:59Z"), // 01:59:59 EST
      "tstz_post_gap" -> Instant.parse("2025-03-09T07:00:00Z"), // 03:00 EDT
      "tstz_first_0130" -> Instant.parse("2025-11-02T05:30:00Z"), // 01:30 EDT
      "tstz_second_0130" -> Instant.parse("2025-11-02T06:30:00Z")) // 01:30 EST
    val cols = instants.map { case (n, _) =>
      PgFixture.Col(n, java.sql.Types.TIMESTAMP, "timestamptz") } :+
      PgFixture.Col("tstz_array", java.sql.Types.ARRAY, "_timestamptz")
    val values: Map[String, Any] =
      instants.map { case (n, i) =>
        (n: String) -> (java.sql.Timestamp.from(i): Any) }.toMap +
      ("tstz_array" -> instants.map(p =>
        java.sql.Timestamp.from(p._2)).toArray[AnyRef])
    val prevTz = java.util.TimeZone.getDefault
    try {
      // run the REAL conversion layer UNDER the affected zone — a
      // wall-clock-mediated path would corrupt the gap/ambiguous values
      java.util.TimeZone.setDefault(
        java.util.TimeZone.getTimeZone("America/New_York"))
      val (sch, rs) = PgFixture.decodeRows(cols, values)
      instants.foreach { case (n, want) =>
        assert(sch(n).dataType == TimestampType, n)
        val got = rs.head.get(sch.fieldIndex(n))
          .asInstanceOf[java.sql.Timestamp].toInstant
        assert(got == want, n)
      }
      // the two 01:30 wall clocks stay DISTINCT instants (exactly 1 h)
      val a = rs.head.get(sch.fieldIndex("tstz_first_0130"))
        .asInstanceOf[java.sql.Timestamp].getTime
      val b = rs.head.get(sch.fieldIndex("tstz_second_0130"))
        .asInstanceOf[java.sql.Timestamp].getTime
      assert(b - a == 3600000L)
      assert(sch("tstz_array").dataType == ArrayType(TimestampType))
      val arr = rs.head.getSeq[java.sql.Timestamp](
        sch.fieldIndex("tstz_array"))
      assert(arr.map(_.toInstant) == instants.map(_._2))
    } finally java.util.TimeZone.setDefault(prevTz)
  }
}
