package graft.plans

/** Partition planning — the reference engine's core competency.
  *
  * Re-expresses the semantics of the reference's partition planner
  * (conecta-core/src/partition.rs, conecta-core/src/metadata.rs) as pure
  * Scala. The plan produced here drives either:
  *   - a set of range predicates handed to Spark's partitioned JDBC reader
  *     (`spark.read.jdbc(url, table, predicates, props)`), or
  *   - `Column` range filters over a Parquet-backed table, which Catalyst
  *     pushes down to Parquet row-group filters.
  *
  * Interval semantics replicated exactly (conecta-core/src/partition.rs:93-114,
  * conecta-core/src/source/postgres.rs:488-510): float stride, half-open
  * `[start, stop)` ranges, with a closed `[start, stop]` tail so `max` is
  * included. E.g. bounds(0,10,3) == [(0,3),(3,6),(6,10)].
  */
object Bounds {

  /** Split `[min, max]` into `n` ranges using float stride; the last range
    * absorbs the remainder. Mirrors conecta-core/src/partition.rs:93-114.
    *
    * @throws IllegalArgumentException if min >= max or n == 0 (the reference
    *         panics on both, partition.rs:95-100).
    */
  def bounds(min: Long, max: Long, n: Int): Seq[(Long, Long)] = {
    require(min < max, s"min ($min) must be strictly less than max ($max)")
    require(n > 0, s"partition count must be > 0, got $n")
    val step = (max - min).toDouble / n
    (0 until n).map { i =>
      val start = min + (step * i).toLong
      val stop = if (i == n - 1) max else min + (step * (i + 1)).toLong
      (start, stop)
    }
  }
}

/** What metadata queries the plan needs from the source before execution.
  * Mirrors conecta-core/src/metadata.rs:5-15. */
sealed trait NeededMetadata
object NeededMetadata {
  case object Count extends NeededMetadata
  case object MinMax extends NeededMetadata
  case object CountAndMinMax extends NeededMetadata
  case object NoMetadata extends NeededMetadata
}

/** How the user's query set maps onto generated partition queries.
  * Mirrors conecta-core/src/metadata.rs:17-24. */
sealed trait QueryPartitioningMode
object QueryPartitioningMode {
  /** Single query, no partitioning options → run as-is. */
  case object OneUnpartitionedQuery extends QueryPartitioningMode
  /** Single query + partitionOn/partitionNum → split into N bounded queries. */
  case object OnePartitionedQuery extends QueryPartitioningMode
  /** User supplied multiple queries — each becomes one partition. */
  case object PartitionedQueries extends QueryPartitioningMode
}

/** Validated partition configuration. Mirrors the validation rules of
  * conecta-core/src/partition.rs:20-91:
  *   - multiple queries are mutually exclusive with any partition_* option;
  *   - partitionNum without partitionOn is an error;
  *   - partitionRange without partitionOn is an error;
  *   - partitionRange with min >= max is an error.
  *
  * Mode quirk preserved (partition.rs:75-79): partitionRange + partitionOn
  * WITHOUT partitionNum yields OneUnpartitionedQuery — the range is recorded
  * in the plan but no bounded queries are generated.
  */
final case class PartitionConfig(
    queries: Seq[String],
    partitionOn: Option[String] = None,
    partitionNum: Option[Int] = None,
    partitionRange: Option[(Long, Long)] = None,
    preallocation: Boolean = false) {

  require(queries.nonEmpty, "at least one query is required")
  if (queries.length > 1) {
    require(partitionOn.isEmpty && partitionNum.isEmpty && partitionRange.isEmpty,
      "multiple queries cannot be combined with partition options")
  }
  require(partitionNum.isEmpty || partitionOn.nonEmpty,
    "partitionNum requires partitionOn")
  require(partitionRange.isEmpty || partitionOn.nonEmpty,
    "partitionRange requires partitionOn")
  partitionRange.foreach { case (lo, hi) =>
    require(lo < hi, s"partitionRange min ($lo) must be < max ($hi)")
  }
  partitionNum.foreach(n => require(n > 0, s"partitionNum must be > 0, got $n"))

  /** Mode derivation mirrors conecta-core/src/partition.rs:67-85. */
  def mode: QueryPartitioningMode =
    if (queries.length > 1) QueryPartitioningMode.PartitionedQueries
    else if (partitionOn.nonEmpty && partitionNum.nonEmpty)
      QueryPartitioningMode.OnePartitionedQuery
    else QueryPartitioningMode.OneUnpartitionedQuery

  /** Metadata needs mirror conecta-core/src/partition.rs:52-66: a partitioned
    * query needs MIN/MAX unless the user provided the range; COUNT is only
    * needed when preallocation stats are requested. */
  def neededMetadata: NeededMetadata = mode match {
    case QueryPartitioningMode.OnePartitionedQuery =>
      (partitionRange, preallocation) match {
        case (Some(_), true)  => NeededMetadata.Count
        case (Some(_), false) => NeededMetadata.NoMetadata
        case (None, true)     => NeededMetadata.CountAndMinMax
        case (None, false)    => NeededMetadata.MinMax
      }
    case _ =>
      if (preallocation) NeededMetadata.Count else NeededMetadata.NoMetadata
  }
}

/** The debuggable, JSON-serializable partition plan — the engine's public IR,
  * mirroring conecta-core/src/metadata.rs:85-101 and the JSON plan API of
  * conecta-python/src/lib.rs:11-40.
  *
  * @param dataQueries one SQL string per Spark partition (bounded queries in
  *        OnePartitionedQuery mode; the user's queries otherwise)
  * @param predicates  equivalent WHERE-clause fragments, directly usable as the
  *        `predicates` array of `spark.read.jdbc`
  */
final case class PartitionPlan(
    minValue: Option[Long],
    maxValue: Option[Long],
    counts: Seq[Long],
    dataQueries: Seq[String],
    predicates: Seq[String],
    config: PartitionConfig) {

  def numPartitions: Int = dataQueries.length

  /** JSON rendering of the plan (no external JSON lib — offline build). */
  def toJson: String = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def arr(xs: Seq[String]): String = xs.map(s => "\"" + esc(s) + "\"").mkString("[", ",", "]")
    val mv = minValue.map(_.toString).getOrElse("null")
    val xv = maxValue.map(_.toString).getOrElse("null")
    s"""{"min_value":$mv,"max_value":$xv,"counts":[${counts.mkString(",")}],""" +
      s""""data_queries":${arr(dataQueries)},"predicates":${arr(predicates)},""" +
      s""""partition_config":{"queries":${arr(config.queries)},""" +
      s""""partition_on":${config.partitionOn.map(s => "\"" + esc(s) + "\"").getOrElse("null")},""" +
      s""""partition_num":${config.partitionNum.map(_.toString).getOrElse("null")},""" +
      s""""partition_range":${config.partitionRange.map { case (a, b) => s"[$a,$b]" }.getOrElse("null")},""" +
      s""""preallocation":${config.preallocation}}}"""
  }
}

object Planner {

  /** Range predicate on the partition column — for `spark.read.jdbc`'s
    * `predicates` array or a Parquet `.where`. Half-open `[lo, hi)`, but
    * `<=` on the final partition so `max` is kept. */
  def boundsPredicate(col: String, lo: Long, hi: Long, isLast: Boolean): String = {
    val op = if (isLast) "<=" else "<"
    s"$col >= $lo and $col $op $hi"
  }

  /** The data query of one range: `query` restricted by `predicate` —
    * the pushdown SQL rewrite of conecta-core/src/source/postgres.rs:488-510. */
  def wrapWithPredicate(query: String, predicate: String): String =
    s"select * from ($query) as query_inner where $predicate"

  /** One range predicate per range, `<=` on the last —
    * conecta-core/src/partition.rs:116-134. */
  private def rangePredicates(col: String,
      ranges: Seq[(Long, Long)]): Seq[String] =
    ranges.zipWithIndex.map { case ((lo, hi), i) =>
      boundsPredicate(col, lo, hi, isLast = i == ranges.length - 1)
    }

  /** Orchestrate config → (optional min/max fetch) → bounded queries, mirroring
    * conecta-core/src/metadata.rs:27-83. `fetchMinMax` and `fetchCounts` are
    * the source-specific callbacks (the Source trait seam the reference
    * tests rely on); `fetchCounts` gets the plan it fills in. */
  def createPartitionPlan(config: PartitionConfig,
      fetchMinMax: String => (Long, Long),
      fetchCounts: PartitionPlan => Seq[Long] = _ => Seq.empty): PartitionPlan = {
    import QueryPartitioningMode._
    val needMinMax = config.neededMetadata == NeededMetadata.MinMax ||
      config.neededMetadata == NeededMetadata.CountAndMinMax
    val (minV, maxV) = config.mode match {
      case OnePartitionedQuery =>
        config.partitionRange match {
          case Some((lo, hi)) => (Some(lo), Some(hi))
          case None if needMinMax =>
            val (lo, hi) = fetchMinMax(config.queries.head)
            (Some(lo), Some(hi))
          case None => (None, None)
        }
      case _ =>
        // range-without-num quirk: range recorded but no bounded queries
        (config.partitionRange.map(_._1), config.partitionRange.map(_._2))
    }
    val (dataQueries, predicates) = config.mode match {
      case OnePartitionedQuery =>
        val col = config.partitionOn.get
        val n = config.partitionNum.get
        val preds = rangePredicates(col, Bounds.bounds(minV.get, maxV.get, n))
        (preds.map(wrapWithPredicate(config.queries.head, _)), preds)
      case _ => (config.queries, Seq.empty[String])
    }
    val plan = PartitionPlan(minV, maxV, Nil, dataQueries, predicates, config)
    if (config.preallocation) plan.copy(counts = fetchCounts(plan)) else plan
  }
}
