package graft

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, ResultSet, ResultSetMetaData, Types}

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects}
import org.apache.spark.sql.types.StructType

import graft.sources.JdbcSource

/** Static replay of the PostgreSQL JDBC driver's metadata for the
  * reference's type-zoo DDL (conecta-python/conecta/tests/test_data/
  * pg_datatypes_ddl.sql:1-65 and pg_postgis_datatypes_ddl.sql) — the
  * sandbox has no live Postgres, so conformance is checked by driving
  * Spark's REAL schema-resolution entry point
  * (`JdbcUtils.getSchema(conn, rs, dialect, _, _)`) with a
  * reflection-proxy ResultSet that reports exactly the
  * (java.sql.Types code, type name, precision, scale) tuples pgjdbc's
  * `PgResultSetMetaData` reports for each column. Public-knowledge
  * sources for the tuples: the pgjdbc documented behavior that
  * `getColumnTypeName` returns the PG internal name (`int2`, `bpchar`,
  * `_int4` for arrays, `serial` for auto-increment int4) and
  * `getColumnType` maps bool→BIT, int2→SMALLINT, int4→INTEGER,
  * int8→BIGINT, numeric→NUMERIC, float4→REAL, float8→DOUBLE,
  * bpchar→CHAR, varchar/text→VARCHAR, date→DATE, time/timetz→TIME,
  * timestamp/timestamptz→TIMESTAMP, bytea→BINARY, arrays→ARRAY, and
  * everything without a JDBC category (uuid, json, interval, geo,
  * ranges, PostGIS) → OTHER.
  */
object PgFixture {

  /** (column name, JDBC type code, PG type name, precision, scale) —
    * one row per column of pg_datatypes_ddl.sql, in DDL order. */
  final case class Col(name: String, code: Int, pgName: String,
      precision: Int = 0, scale: Int = 0)

  val datatypes: Seq[Col] = Seq(
    Col("id", Types.INTEGER, "serial", 10),
    Col("small_int", Types.SMALLINT, "int2", 5),
    Col("int_", Types.INTEGER, "int4", 10),
    Col("big_int", Types.BIGINT, "int8", 19),
    Col("decimal_", Types.NUMERIC, "numeric", 10, 2),
    Col("numeric_", Types.NUMERIC, "numeric", 12, 4),
    Col("real_", Types.REAL, "float4", 8),
    Col("double_", Types.DOUBLE, "float8", 17),
    Col("char_", Types.CHAR, "bpchar", 1),
    Col("bpchar_", Types.CHAR, "bpchar", 5),
    Col("varchar_", Types.VARCHAR, "varchar", 50),
    Col("text_", Types.VARCHAR, "text"),
    Col("bool_", Types.BIT, "bool", 1),
    Col("date_", Types.DATE, "date"),
    Col("time_", Types.TIME, "time"),
    Col("timetz_", Types.TIME, "timetz"),
    Col("timestamp_", Types.TIMESTAMP, "timestamp"),
    Col("timestamptz_", Types.TIMESTAMP, "timestamptz"),
    Col("interval_", Types.OTHER, "interval"),
    Col("json_", Types.OTHER, "json"),
    Col("jsonb_", Types.OTHER, "jsonb"),
    Col("uuid_", Types.OTHER, "uuid"),
    Col("bytea_", Types.BINARY, "bytea"),
    Col("point_", Types.OTHER, "point"),
    Col("circle_", Types.OTHER, "circle"),
    Col("line_", Types.OTHER, "line"),
    Col("box_", Types.OTHER, "box"),
    Col("lseg_", Types.OTHER, "lseg"),
    Col("path_", Types.OTHER, "path"),
    Col("polygon_", Types.OTHER, "polygon"),
    Col("int_array", Types.ARRAY, "_int4"),
    Col("text_array", Types.ARRAY, "_text"),
    Col("smallint_array", Types.ARRAY, "_int2"),
    Col("bigint_array", Types.ARRAY, "_int8"),
    Col("decimal_array", Types.ARRAY, "_numeric", 10, 2),
    Col("numeric_array", Types.ARRAY, "_numeric", 12, 4),
    Col("real_array", Types.ARRAY, "_float4"),
    Col("double_array", Types.ARRAY, "_float8"),
    Col("char_array", Types.ARRAY, "_bpchar", 5),
    Col("varchar_array", Types.ARRAY, "_varchar", 50),
    Col("bool_array", Types.ARRAY, "_bool"),
    Col("date_array", Types.ARRAY, "_date"),
    Col("time_array", Types.ARRAY, "_time"),
    Col("timetz_array", Types.ARRAY, "_timetz"),
    Col("timestamp_array", Types.ARRAY, "_timestamp"),
    Col("timestamptz_array", Types.ARRAY, "_timestamptz"),
    Col("interval_array", Types.ARRAY, "_interval"),
    Col("json_array", Types.ARRAY, "_json"),
    Col("jsonb_array", Types.ARRAY, "_jsonb"),
    Col("uuid_array", Types.ARRAY, "_uuid"),
    Col("bytea_array", Types.ARRAY, "_bytea"),
    Col("point_array", Types.ARRAY, "_point"),
    Col("circle_array", Types.ARRAY, "_circle"),
    Col("int_range", Types.OTHER, "int4range"),
    Col("num_range", Types.OTHER, "numrange"),
    Col("ts_range", Types.OTHER, "tsrange"),
    Col("int4range_array", Types.ARRAY, "_int4range"),
    Col("numrange_array", Types.ARRAY, "_numrange"),
    Col("tsrange_array", Types.ARRAY, "_tsrange"),
  )

  /** pg_postgis_datatypes_ddl.sql — every column reports as OTHER with
    * type name "geometry" (pgjdbc reports the UDT's base name). */
  val postgisDatatypes: Seq[Col] = Seq(
    "point_", "linestring_", "polygon_", "polygon_holed", "geom_collection"
  ).map(Col(_, Types.OTHER, "geometry"))

  /** The dialect chain a real `jdbc:postgresql` read resolves against
    * (GraftPgDialect registered in front of Spark's PostgresDialect). */
  def pgDialect: JdbcDialect = {
    JdbcSource.ensureDialect()
    JdbcDialects.get("jdbc:postgresql://localhost:5432/db")
  }

  /** Run the given columns through Spark's real JDBC schema resolution
    * (`JdbcUtils.getSchema`) exactly as a `spark.read.jdbc` against
    * PostgreSQL would. `preferTimestampNTZ` mirrors the reader option of
    * the same name. */
  def resolveSchema(cols: Seq[Col], preferTimestampNTZ: Boolean): StructType =
    JdbcUtils.getSchema(mockConnection(), mockResultSet(cols), pgDialect,
      false, preferTimestampNTZ)

  private def proxy[T](iface: Class[T])(
      handler: (String, Array[AnyRef]) => AnyRef): T =
    Proxy.newProxyInstance(iface.getClassLoader, Array(iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          handler(m.getName, if (args == null) Array.empty else args)
      }).asInstanceOf[T]

  private def mockMeta(cols: Seq[Col]): ResultSetMetaData =
    proxy(classOf[ResultSetMetaData]) { (name, args) =>
      def col = cols(args(0).asInstanceOf[Integer] - 1)
      name match {
        case "getColumnCount" => Int.box(cols.length)
        case "getColumnLabel" | "getColumnName" => col.name
        case "getColumnType" => Int.box(col.code)
        case "getColumnTypeName" => col.pgName
        case "getPrecision" => Int.box(col.precision)
        case "getScale" => Int.box(col.scale)
        // pgjdbc: nullability unknown from a bare SELECT's metadata
        case "isNullable" => Int.box(ResultSetMetaData.columnNullable)
        case "isSigned" => Boolean.box(true)
        case other => sys.error(s"unmocked ResultSetMetaData.$other")
      }
    }

  // --- Row-decoding replay (the reference's SELECT list + insert row) ---

  /** The reference's implemented SELECT list, in its order
    * (conecta-python/conecta/tests/test_data/pg_datatypes_select.sql —
    * numeric/timetz/timestamptz/interval/json/ranges are commented out
    * there ON PURPOSE; the reference panics on them). */
  val selectList: Seq[String] = Seq(
    "id", "small_int", "int_", "big_int", "double_",
    "varchar_", "text_", "bool_", "uuid_", "bytea_",
    "date_", "time_", "timestamp_",
    "int_array", "smallint_array", "bigint_array", "real_array",
    "double_array", "text_array", "uuid_array", "bool_array",
    "bytea_array",
    "point_", "circle_", "line_", "box_", "lseg_", "path_", "polygon_")

  def selectCols: Seq[Col] =
    selectList.map(n => datatypes.find(_.name == n)
      .getOrElse(sys.error(s"not in the DDL fixture: $n")))

  /** The uuids pg_datatypes_data.sql generates with gen_random_uuid(),
    * pinned to fixed canonical-form values for the replay. */
  val uuidScalar = "6c2b6b05-8b5c-4b1f-9d0e-2f6a4a1c9d3e"
  val uuidArr = Seq("00112233-4455-6677-8899-aabbccddeeff",
    "ffeeddcc-bbaa-9988-7766-554433221100")

  /** pgjdbc's per-getter responses for the reference's insert row
    * (pg_datatypes_data.sql VALUES tuple), one entry per [[selectList]]
    * column. Sources for the shapes (documented pgjdbc behavior over the
    * text protocol):
    *   - JDBC-typed scalars answer their JDBC-appendix getter (int2 →
    *     getShort, bytea → getBytes hex-decoded, …);
    *   - TIME answers getTime as a java.sql.Time wall clock (Spark's
    *     TIME-sourced NTZ getter calls getTime and lifts the JDBC-spec
    *     1970-01-01 envelope to a LocalDateTime);
    *   - arrays answer getArray().getArray() as boxed JDBC-appendix
    *     element arrays (int8[] → Long[], bytea[] → byte[][]); uuid[]
    *     has no JDBC category, so elements surface as their canonical
    *     strings;
    *   - uuid / geometric types are Types.OTHER: pgjdbc getString
    *     returns the PG text output form ("(1,2)", "{1,-1,0}",
    *     "(2,2),(0,0)" — box prints upper-right first, line prints
    *     normalized {A,B,C} coefficients). */
  def datatypeRow: Map[String, Any] = Map(
    "id" -> 1,
    "small_int" -> 5.toShort,
    "int_" -> 1000,
    "big_int" -> 9000000000L,
    "double_" -> 2.71828d,
    "varchar_" -> "Hello, world!",
    "text_" -> "Some long text here...",
    "bool_" -> true,
    "uuid_" -> uuidScalar,
    "bytea_" -> Array[Byte](0xDE.toByte, 0xAD.toByte, 0xBE.toByte,
      0xEF.toByte),
    "date_" -> java.sql.Date.valueOf("2025-08-22"),
    "time_" -> java.sql.Time.valueOf("14:30:00"),
    "timestamp_" -> java.sql.Timestamp.valueOf("2025-08-22 14:30:00"),
    "int_array" -> Array[AnyRef](Int.box(1), Int.box(2), Int.box(3)),
    "smallint_array" -> Array[AnyRef](Short.box(1), Short.box(2)),
    "bigint_array" -> Array[AnyRef](Long.box(1234567890123L),
      Long.box(42L)),
    "real_array" -> Array[AnyRef](Float.box(1.1f), Float.box(2.2f)),
    "double_array" -> Array[AnyRef](Double.box(3.14159d),
      Double.box(2.71828d)),
    "text_array" -> Array[AnyRef]("foo", "bar", "baz"),
    "uuid_array" -> uuidArr.toArray[AnyRef],
    "bool_array" -> Array[AnyRef](Boolean.box(true), Boolean.box(false)),
    "bytea_array" -> Array[AnyRef](
      Array[Byte](0xDE.toByte, 0xAD.toByte),
      Array[Byte](0xBE.toByte, 0xEF.toByte)),
    "point_" -> "(1,2)",
    "circle_" -> "<(0,0),5>",
    "line_" -> "{1,-1,0}",
    "box_" -> "(2,2),(0,0)",
    "lseg_" -> "[(0,0),(3,4)]",
    "path_" -> "((1,1),(4,1),(4,4),(1,4))",
    "polygon_" -> "((0,0),(4,0),(2,3))")

  /** Decode the replayed row through Spark's REAL JDBC value-conversion
    * layer (`JdbcUtils.resultSetToRows` — the same `makeGetters` a
    * partitioned `spark.read.jdbc` runs per task) with the registered
    * dialect chain, exactly as a live `jdbc:postgresql` read would. */
  def decodeRows(cols: Seq[Col] = selectCols,
      values: Map[String, Any] = datatypeRow,
      preferTimestampNTZ: Boolean = true): (StructType, Seq[Row]) = {
    val schema = resolveSchema(cols, preferTimestampNTZ)
    val rows = JdbcUtils.resultSetToRows(
      mockDataResultSet(cols, values), schema, pgDialect).toSeq
    (schema, rows)
  }

  private def mockSqlArray(v: AnyRef): java.sql.Array =
    proxy(classOf[java.sql.Array]) { (name, _) =>
      name match {
        case "getArray" => v
        case "free" => null
        case other => sys.error(s"unmocked java.sql.Array.$other")
      }
    }

  /** A replayed pgjdbc ResultSet positioned before its one row of
    * `values`, one column per entry of `cols`. */
  def mockDataResultSet(cols: Seq[Col],
      values: Map[String, Any]): ResultSet = {
    val md = mockMeta(cols)
    val row = new java.util.concurrent.atomic.AtomicInteger(0)
    proxy(classOf[ResultSet]) { (name, args) =>
      def v = values(cols(args(0).asInstanceOf[Integer] - 1).name)
      name match {
        case "getMetaData" => md
        case "next" => Boolean.box(row.incrementAndGet() == 1)
        case "close" => null
        // the replayed row has no NULLs (the reference inserts a fully
        // populated tuple); Spark calls wasNull after every getter
        case "wasNull" => Boolean.box(false)
        case "getInt" => Int.box(v.asInstanceOf[Int])
        case "getShort" => Short.box(v.asInstanceOf[Short])
        case "getLong" => Long.box(v.asInstanceOf[Long])
        case "getFloat" => Float.box(v.asInstanceOf[Float])
        case "getDouble" => Double.box(v.asInstanceOf[Double])
        case "getBoolean" => Boolean.box(v.asInstanceOf[Boolean])
        case "getString" => v.asInstanceOf[String]
        case "getBytes" => v.asInstanceOf[Array[Byte]]
        case "getDate" => v.asInstanceOf[java.sql.Date]
        case "getTime" => v.asInstanceOf[java.sql.Time]
        case "getTimestamp" => v.asInstanceOf[java.sql.Timestamp]
        case "getArray" => mockSqlArray(v.asInstanceOf[AnyRef])
        case other => sys.error(s"unmocked ResultSet.$other")
      }
    }
  }

  private def mockResultSet(cols: Seq[Col]): ResultSet = {
    val md = mockMeta(cols)
    proxy(classOf[ResultSet]) { (name, _) =>
      name match {
        case "getMetaData" => md
        case "next" => Boolean.box(false)
        case "close" | "wasNull" => Boolean.box(false)
        case other => sys.error(s"unmocked ResultSet.$other")
      }
    }
  }

  private def mockConnection(): Connection =
    proxy(classOf[Connection]) { (name, _) =>
      name match {
        case "close" | "isClosed" => Boolean.box(false)
        case other => sys.error(s"unmocked Connection.$other")
      }
    }
}
