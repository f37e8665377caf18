package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `graft.*` conf table, [[graft.Conf]]: README's Configuration
  * table documents exactly its keys and defaults, and every entry reads
  * through one parse per type. */
class ConfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-conf")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** README's Configuration rows as (key, default) pairs; a row may
    * document several keys, `a` / `b`, with defaults `x / y`. */
  private lazy val readmeRows: Seq[(String, String)] = {
    val lines = Files.readAllLines(Paths.get("README.md")).asScala.toSeq
      .dropWhile(_ != "## Configuration").drop(1)
      .takeWhile(l => !l.startsWith("## "))
    lines.filter(_.startsWith("| `graft.")).flatMap { row =>
      val cells = row.split("\\|").map(_.trim)
      val keys = cells(1).split(" / ")
        .map(_.stripPrefix("`").stripSuffix("`"))
      val defaults = cells(2).split(" / ").map(_.trim)
      assert(keys.length == defaults.length, s"README row: $row")
      keys.toSeq.zip(defaults)
    }
  }

  /** A README default as the table prints it: `2^27` is a power. */
  private def normalized(d: String): String = d match {
    case s"$b^$e" => BigInt(b).pow(e.toInt).toString
    case _ => d
  }

  private def bools: Seq[Conf.Fixed[Boolean]] = Conf.entries.collect {
    case f: Conf.Fixed[_] if f.default.isInstanceOf[Boolean] =>
      f.asInstanceOf[Conf.Fixed[Boolean]]
  }

  test("README's Configuration table lists exactly the table's keys and " +
      "defaults") {
    val readme = readmeRows
    assert(readme.map(_._1).distinct.size === readme.size,
      "a key is listed twice in README")
    val documented = readme.map { case (k, d) => k -> normalized(d) }.toMap
    val table = Conf.entries.map(e => e.key -> e.shownDefault).toMap
    assert(documented.keySet -- table.keySet === Set.empty,
      "README lists keys the table does not declare")
    assert(table.keySet -- documented.keySet === Set.empty,
      "the table declares keys README does not list")
    for ((k, d) <- table) assert(documented(k) === d, s"default of $k")
  }

  test("every table key has a reader in src/main outside Conf.scala") {
    val named = Conf.getClass.getMethods.toSeq
      .filter(m => m.getParameterCount == 0 &&
        classOf[Conf.Entry[_]].isAssignableFrom(m.getReturnType))
      .map(m => m.invoke(Conf).asInstanceOf[Conf.Entry[_]].key -> m.getName)
      .toMap
    assert(named.keySet === Conf.entries.map(_.key).toSet)
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Conf.scala")
      .map(p => new String(Files.readAllBytes(p), "UTF-8"))
    val unread = named.filter { case (_, name) =>
      val use = raw"\bConf\.$name\b".r
      !sources.exists(use.findFirstIn(_).isDefined)
    }.keySet
    assert(unread === Set.empty, "keys no src/main code reads")
  }

  test("each entry's default round-trips through its own parse") {
    Conf.entries.foreach {
      case f: Conf.Fixed[_] =>
        def roundTrip[T](e: Conf.Fixed[T]): Unit =
          e.during(spark, e.default)(assert(e(spark) === e.default, e.key))
        roundTrip(f)
      case k: Conf.Key[_] =>
        def roundTrip[T](e: Conf.Key[T]): Unit = {
          val d = e(spark)
          e.during(spark, d)(assert(e(spark) === d, e.key))
        }
        roundTrip(k)
      case _: Conf.Opt[_] =>
    }
  }

  test("TRUE, true and false read alike for every boolean entry") {
    assert(bools.map(_.key).toSet.contains("graft.artifacts.bloom"))
    for (e <- bools; (raw, want) <- Seq("TRUE" -> true, "true" -> true,
        "false" -> false, "FALSE" -> false)) {
      spark.conf.set(e.key, raw)
      try assert(e(spark) === want, s"${e.key}=$raw")
      finally spark.conf.unset(e.key)
    }
  }

  test("a malformed int, long, double or boolean value throws naming " +
      "the key and the value") {
    for ((e, raw) <- Seq(Conf.KmeansK -> "five", Conf.BudgetTokens -> "2L",
        Conf.SemdedupTau -> "0,45", Conf.ArtifactsBloom -> "yes")) {
      spark.conf.set(e.key, raw)
      try {
        val err = intercept[IllegalArgumentException](e(spark))
        assert(err.getMessage.contains(e.key), err.getMessage)
        assert(err.getMessage.contains(s"'$raw'"), err.getMessage)
      } finally spark.conf.unset(e.key)
    }
  }

  test("a derived default follows its session") {
    val other = spark.newSession()
    assert(Conf.BudgetShards(spark) === spark.sparkContext.defaultParallelism)
    assert(Conf.ArtifactsDir(spark) === sys.props("java.io.tmpdir"))
    Conf.BudgetShards.during(spark, 3) {
      assert(Conf.BudgetShards(spark) === 3)
      assert(Conf.BudgetShards(other) ===
        other.sparkContext.defaultParallelism)
    }
    assert(spark.conf.getOption(Conf.BudgetShards.key).isEmpty,
      "during() left the key set")
  }

  test("an absent default reads None") {
    assert(Conf.BatchCut(spark) === None)
    Conf.BatchCut.during(spark, 42L)(
      assert(Conf.BatchCut(spark) === Some(42L)))
    assert(Conf.BatchCut(spark) === None)
  }
}
