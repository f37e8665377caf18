package graft.sources

import org.apache.spark.sql.types._

/** Postgres → Spark type mapping — the Scala counterpart of the reference's
  * three-layer type system (PG OID → NativeType → Arrow,
  * conecta-core/src/source/postgres.rs:595-646 and
  * conecta-core/src/schema.rs:70-141; full table in SURVEY.md §1.3).
  *
  * Conventions for types Spark lacks:
  *   - TIME → LongType, microseconds since midnight (reference: Time64(µs)).
  *   - UUID → StringType canonical form (reference: FixedSizeBinary(16); a
  *     string survives round-trips through Parquet/DuckDB unambiguously).
  *   - Geometric types → ArrayType(DoubleType) with the reference encodings:
  *     point=[x,y], line=[a,b,c], circle=[x,y,r], box/lseg=[x1,y1,x2,y2],
  *     path=[open,n,x1,y1,…], polygon=[x1,y1,…]; PostGIS geometry →
  *     BinaryType (raw EWKB), postgres.rs:243-255.
  *
  * Deliberate capability superset (SURVEY.md §1.3 "explicitly unsupported"):
  * the reference panics on NUMERIC, TIMESTAMPTZ, INTERVAL, JSON; this
  * mapping carries all of them (INTERVAL as raw text — see the case below).
  * Conformance with the reference's full type-zoo DDL is asserted row-by-row
  * in DialectConformanceSpec via Spark's real JDBC schema resolution.
  */
object TypeMapping {

  /** Map a Postgres type name (as reported by JDBC metadata, lowercased) to
    * the Spark type the engine materializes. All fields nullable, matching
    * the reference's forced nullability (conecta-core/src/schema.rs:154). */
  def pgTypeToSpark(pgType: String): DataType = pgType.toLowerCase match {
    case "bool" | "boolean" => BooleanType
    case "int2" | "smallint" | "smallserial" => ShortType
    case "int4" | "int" | "integer" | "serial" => IntegerType
    case "int8" | "bigint" | "bigserial" => LongType
    case "float4" | "real" => FloatType
    case "float8" | "double precision" => DoubleType
    case "char" | "bpchar" | "text" | "varchar" | "character varying" |
         "name" => StringType
    case "bytea" => BinaryType
    case "uuid" => StringType
    case "date" => DateType
    case "time" => LongType // µs since midnight; Spark has no TIME type
    case "timestamp" => TimestampNTZType
    // --- superset beyond the reference (it panics on these) ---
    case "timestamptz" | "timestamp with time zone" => TimestampType
    // raw interval text pass-through: PG intervals mix month and
    // day-time fields, which no single Spark interval type represents
    // (DayTimeIntervalType would lossy-drop months) — and this matches
    // what the JDBC read path actually materializes
    // (DialectConformanceSpec)
    case "interval" => StringType
    case "json" | "jsonb" => StringType
    // --- arrays (before the prefix-guarded scalars: "numeric(10,2)[]"
    //     must recurse on its element type, not parse as a decimal) ---
    case t if t.startsWith("_") => ArrayType(pgTypeToSpark(t.drop(1)))
    case t if t.endsWith("[]") => ArrayType(pgTypeToSpark(t.dropRight(2)))
    case t if t.startsWith("numeric") || t.startsWith("decimal") =>
      parseDecimal(t)
    // --- geometric ---
    case "point" | "line" | "circle" | "box" | "lseg" | "path" | "polygon" =>
      ArrayType(DoubleType)
    case "geometry" | "geography" => BinaryType // raw EWKB pass-through
    case other =>
      throw new IllegalArgumentException(s"unsupported Postgres type: $other")
  }

  private def parseDecimal(t: String): DataType = {
    val ps = "\\((\\d+)\\s*,\\s*(\\d+)\\)".r.findFirstMatchIn(t)
    ps.map(m => DecimalType(m.group(1).toInt, m.group(2).toInt))
      .getOrElse(DecimalType(38, 18))
  }
}
