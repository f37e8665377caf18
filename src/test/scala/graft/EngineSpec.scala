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

  test("only a bare `select * from <table>` skips the derived-table wrapper") {
    val src = Graft.parquetSource(spark, dir)
    assert(src.relation("select * from lineitem") == "lineitem")
    assert(src.relation("SELECT  *  FROM  app.lineitem") == "app.lineitem")
    assert(src.relation(" select *\n from\tline_item2 \n") == "line_item2")
    assert(src.minMaxQuery("select * from lineitem", "l_orderkey")
      .endsWith(" from lineitem"))
    Seq(
      "select * from \"Li\"",
      "select * from li where id > 5",
      "select * from li x",
      "select * from li limit 10",
      "select * from li;",
      "select * from li -- comment",
      "select * from li join lo on li.id = lo.id",
      "select id from li",
      "select * from li, lo"
    ).foreach { q =>
      assert(src.relation(q) == s"($q) as query_inner", q)
      assert(src.minMaxQuery(q, "id").endsWith(s"from ($q) as query_inner"), q)
    }
  }
}
