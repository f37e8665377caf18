package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end engine tests over the sf0.001 driver testdata — the Spark
  * counterpart of the reference's integration layer
  * (conecta-python/conecta/tests/test_read_sql.py). */
class EngineSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("full scan loads all rows and columns (test_read_sql.py:9-19)") {
    val df = Graft.readSql(spark, dir, "select * from lineitem")
    assert(df.columns.length == 11)
    assert(df.count() == 6000)
  }

  test("partitioned scan ≡ unpartitioned scan (test_partition_plan.py)") {
    val part = Graft.readSql(spark, dir, Seq("select * from lineitem"),
      partitionOn = Some("l_orderkey"), partitionNum = Some(4))
    assert(part.count() == 6000)
    // no rows dropped or duplicated at the partition boundaries
    val dist = part.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .distinct().count()
    val base = Graft.readSql(spark, dir, "select * from lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .distinct().count()
    assert(dist == base)
  }

  test("multi-query union-all property (test_read_sql.py:69-84)") {
    val df = Graft.readSql(spark, dir, Seq(
      "select * from lineitem where l_orderkey < 3000",
      "select * from lineitem where l_orderkey >= 3000"))
    assert(df.count() == 6000)
  }

  test("limit passthrough (test_read_sql.py:58-66)") {
    val df = Graft.readSql(spark, dir, "select * from lineitem limit 10")
    assert(df.count() == 10)
  }

  test("schema probe returns empty 11-col frame, all nullable") {
    val src = Graft.parquetSource(spark, dir)
    val schema = src.schemaOf("select * from lineitem")
    assert(schema.fields.length == 11)
    assert(schema.fields.forall(_.nullable))
  }

  test("min/max metadata fetch (postgres.rs:556-563)") {
    val src = Graft.parquetSource(spark, dir)
    val (lo, hi) = src.fetchMinMax("select * from lineitem", "l_orderkey")
    assert(lo < hi)
    assert(lo >= 0)
  }

  test("merged count sums sub-query counts in one statement") {
    val src = Graft.parquetSource(spark, dir)
    val n = src.fetchMergedCount(Seq(
      "select * from lineitem where l_orderkey < 3000",
      "select * from lineitem where l_orderkey >= 3000"))
    assert(n == 6000)
  }

  test("partition plan API is introspectable without reading data") {
    val plan = Graft.createPartitionPlan(spark, dir,
      Seq("select * from lineitem"),
      partitionOn = Some("l_orderkey"), partitionNum = Some(2))
    assert(plan.numPartitions == 2)
    assert(plan.predicates.length == 2)
    assert(plan.toJson.contains("data_queries"))
  }

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("table-name extraction finds the first FROM table (postgres.rs:532-554)") {
    val src = Graft.parquetSource(spark, dir)
    assert(src.tableName("select * from lineitem") == "lineitem")
    assert(src.tableName(
      "select * from orders o join customer c on o.o_custkey = c.c_custkey")
      == "orders")
    assert(src.tableName(
      "with big as (select * from nation) select * from region") == "region")
    assert(src.tableName("select * from (select * from part) p") == "part")
    assert(src.tableName("select l_orderkey from db.schema.lineitem")
      == "db.schema.lineitem")
    assertThrows[IllegalArgumentException](src.tableName("select 1"))
  }

  test("query shapes: bare, filtered or opaque, with the user's own text") {
    import graft.sources.QueryShape
    import graft.sources.QueryShape.{Bare, Filtered, Opaque}
    Seq(
      "select * from lineitem" -> Bare("lineitem"),
      "SELECT  *  FROM  app.lineitem" -> Bare("app.lineitem"),
      " select *\n from\tline_item2 \n" -> Bare("line_item2"),
      // a trailing `;` or comment is not part of the statement
      "select * from li;" -> Bare("li"),
      "select * from li -- comment" -> Bare("li"),
      "select * from li where id > 5" -> Filtered("li", "id > 5"),
      "SELECT * FROM li WHERE (id > 5 AND flag = 'A');" ->
        Filtered("li", "id > 5 AND flag = 'A'"),
      "select * from li where flag in ('A', 'B') -- comment" ->
        Filtered("li", "flag in ('A', 'B')"),
      "select * from li where id > 5 -- comment\n and flag = 'A'" ->
        Filtered("li", "id > 5 -- comment\n and flag = 'A'"),
      // Spark 4 parses a `::` cast, so the slice goes to the database as
      // written
      "select * from li where id::int > 5" -> Filtered("li", "id::int > 5")
    ).foreach { case (q, shape) => assert(QueryShape(q) == shape, q) }
    Seq(
      "select * from \"Li\"",
      "select * from `li`",
      "select * from app.\"Li\" where id > 5",
      "select * from li where \"FLAG\" = 'A'",
      "select * from li where flag = 'it\\'s'",
      "select * from li x",
      "select * from li x where x.id > 5",
      "select * from li limit 10",
      "select * from li where id > 5 order by id",
      "select distinct * from li",
      "select flag, count(*) from li group by flag",
      "select * from li join lo on li.id = lo.id",
      "select id from li",
      "select li.* from li",
      "select * from li, lo",
      "select * from li where id in (select id from lo)",
      "select * from li where exists (select 1 from lo)",
      "with w as (select * from li) select * from w",
      "select /*+ broadcast(li) */ * from li",
      "select 1",
      // dialect-only text Spark cannot parse: PostgreSQL casts to array
      // and json types, Derby's FETCH FIRST
      "select * from li where tags::int[] = '{1}'",
      "select * from li where payload::jsonb ? 'k'",
      "select * from li fetch first 10 rows only",
      "select * from li where id > 5 fetch first 10 rows only"
    ).foreach(q => assert(QueryShape(q) == Opaque, q))
  }

  test("the parquet path keeps the derived table for all but a bare query") {
    val src = Graft.parquetSource(spark, dir)
    assert(src.relation("select * from lineitem") == "lineitem")
    assert(src.relation("SELECT  *  FROM  app.lineitem") == "app.lineitem")
    assert(src.minMaxQuery("select * from lineitem", "l_orderkey") ==
      "select cast(min(l_orderkey) as bigint) as min_v, " +
        "cast(max(l_orderkey) as bigint) as max_v from lineitem")
    Seq(
      "select * from \"Li\"",
      "select * from li where id > 5",
      "select * from li x",
      "select * from li limit 10",
      "select * from li join lo on li.id = lo.id",
      "select id from li",
      "select * from li, lo"
    ).foreach { q =>
      assert(src.relation(q) == s"($q) as query_inner", q)
      assert(src.minMaxQuery(q, "id").endsWith(s"from ($q) as query_inner"), q)
    }
  }
}
