package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The one table of the suite's `graft.*` session keys: each key is
  * declared here once, with its type and its default, and every reader
  * goes through its entry.
  *
  * {{{
  * val k = Conf.KmeansK(s)               // the session's value, or 8
  * s"... rnk <= ${Conf.KmeansK.default}" // an oracle pins the default
  * }}}
  *
  *   - A default is a constant ([[Fixed]], readable without a session,
  *     so an oracle and its knob share one value), derived from the
  *     session ([[Key]]), or absent ([[Opt]], read as an `Option`).
  *   - There is one parse per type. Booleans parse as `toBoolean`
  *     does (`TRUE`, `true` and `false` alike). A malformed value
  *     throws an `IllegalArgumentException` naming the key and the
  *     value.
  *   - README's Configuration table lists exactly these keys with
  *     these defaults (`ConfSpec`); `MemoGuardSpec` keeps key literals
  *     out of every other file. */
object Conf {

  private val registry = ArrayBuffer.empty[Entry[_]]

  /** Every entry, in declaration order. */
  def entries: Seq[Entry[_]] = registry.toSeq

  /** One key and how its value parses. */
  sealed abstract class Entry[T](val key: String, parse: String => T) {
    require(!registry.exists(_.key == key), s"$key declared twice")
    registry += this

    /** The session's value, if it sets one. */
    final def get(s: SparkSession): Option[T] =
      s.conf.getOption(key).map { v =>
        try parse(v)
        catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"$key: malformed value '$v' (${e.getMessage})", e) }
      }

    /** Runs `body` with the key set to `v`, then restores the
      * session's own value, or unsets the key. */
    final def during[A](s: SparkSession, v: T)(body: => A): A = {
      val prev = s.conf.getOption(key)
      s.conf.set(key, v.toString)
      try body
      finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
    }

    /** The value an unset key reads, as README's table writes it. */
    def shownDefault: String

    /** The value a read in session `s` gets, printed. */
    def effective(s: SparkSession): Option[String]
  }

  /** A key whose default derives from the session. */
  class Key[T] private[Conf] (key: String, parse: String => T,
      default: SparkSession => T, val shownDefault: String)
      extends Entry[T](key, parse) {
    final def apply(s: SparkSession): T = get(s).getOrElse(default(s))
    final def effective(s: SparkSession): Option[String] =
      Some(apply(s).toString)
  }

  /** A key with a constant default. */
  final class Fixed[T] private[Conf] (key: String, parse: String => T,
      val default: T)
      extends Key[T](key, parse, _ => default, default.toString)

  /** A key with no default: unset reads `None`. */
  final class Opt[T] private[Conf] (key: String, parse: String => T)
      extends Entry[T](key, parse) {
    def apply(s: SparkSession): Option[T] = get(s)
    def shownDefault: String = "(unset)"
    def effective(s: SparkSession): Option[String] = get(s).map(_.toString)
  }

  private def int(key: String, d: Int) = new Fixed[Int](key, _.toInt, d)
  private def long(key: String, d: Long) = new Fixed[Long](key, _.toLong, d)
  private def double(key: String, d: Double) =
    new Fixed[Double](key, _.toDouble, d)
  private def bool(key: String, d: Boolean) =
    new Fixed[Boolean](key, _.toBoolean, d)
  private def string(key: String, d: String) =
    new Fixed[String](key, identity, d)

  // candidate-join guards (ops.Dedup.capBuckets)
  val DedupMaxBucket = int("graft.dedup.maxBucket", 2000)
  val DedupMaxOversizedKeys = int("graft.dedup.maxOversizedKeys", 10000)
  val SemdedupMaxCluster = int("graft.semdedup.maxCluster", 2000)

  // embeddings: clustering and ANN
  val KmeansK = int("graft.kmeans.k", 8)
  val KmeansIters = int("graft.kmeans.iters", 3)
  val SemdedupTau = double("graft.semdedup.tau", 0.45)
  val AnnBroadcastProbes = bool("graft.ann.broadcastProbes", true)

  // retrieval, selection and curation
  val Bm25K = int("graft.bm25.k", 10)
  val DsirBuckets = int("graft.dsir.buckets", 10000)
  val DsirBudget = int("graft.dsir.budget", 100)
  val BudgetTokens = long("graft.budget.tokens", 10000L)
  val BudgetShards = new Key[Int]("graft.budget.shards", _.toInt,
    _.sparkContext.defaultParallelism, "defaultParallelism")
  val ShuffleSeed = string("graft.shuffle.seed", "0")
  val ShuffleShards = int("graft.shuffle.shards", 16)

  // incremental artifacts and streaming
  val BatchCut = new Opt[Long]("graft.batch.cut", _.toLong)
  val ArtifactsDir = new Key[String]("graft.artifacts.dir", identity,
    _ => sys.props("java.io.tmpdir"), "java.io.tmpdir")
  val ArtifactsRefresh = bool("graft.artifacts.refresh", false)
  val ArtifactsBloom = bool("graft.artifacts.bloom", false)
  val ArtifactsBloomMaxBits =
    long("graft.artifacts.bloomMaxBits", 1L << 27)
  val ArtifactsMaxFiles = long("graft.artifacts.maxFiles", 64L)
  val ArtifactsCompactTargetFiles =
    int("graft.artifacts.compactTargetFiles", 8)
  val StreamEpochs = int("graft.stream.epochs", 4)
}
