package graft.sources

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** One named session memo — a typed view of the shared [[Memo]]
  * registry. An entry is keyed by (memo name, session, input path,
  * params) and tagged with the input's [[SideTable.fingerprint]]: a
  * lookup whose input was rewritten since the entry was computed
  * recomputes and replaces the entry, so a memo never serves a result
  * computed from other input data. `params` carries every other value
  * that determines the answer (conf knobs, variants); it needs value
  * equality (tuples, strings, numbers). Sessions key by reference
  * identity (SparkSession has no value equals) and are held strongly —
  * a JVM holds a handful of sessions, not a stream of them.
  *
  * Computations run outside any map lock, one run per key: the map
  * holds a [[FutureTask]] that the first caller runs and concurrent
  * callers wait on (the [[SideTable.ensure]] pattern), so a computation
  * may itself look up other entries — the pair memo's computation reads
  * the `frames` memo. A failed computation is evicted so the next
  * lookup retries. */
final class Memo[V] private (val name: String) {
  import Memo.{Entry, Key, entries}

  private val hitCount = new AtomicLong
  private val missCount = new AtomicLong

  private def entry(input: Option[String], compute: => V) =
    new Entry(input.fold("")(SideTable.fingerprint),
      new FutureTask[Any](() => compute))

  /** Read-through lookup: the entry's value, computed by `compute` when
    * the key is absent or its input's fingerprint changed. */
  def apply(s: SparkSession, input: Option[String], params: Any = ())
      (compute: => V): V = {
    val k = Key(name, s, input, params)
    val fresh = entry(input, compute)
    val e = entries.compute(k,
      (_, old) => if (old != null && old.fp == fresh.fp) old else fresh)
    (if (e eq fresh) missCount else hitCount).incrementAndGet()
    Memo.run(k, e)
  }

  /** Refresh: always runs `compute` and replaces the entry — the
    * detector's write, so its cost is the real pipeline, never a memo
    * read, and its consumers see its latest result. */
  def put(s: SparkSession, input: Option[String], params: Any = ())
      (compute: => V): V = {
    val k = Key(name, s, input, params)
    val e = entry(input, compute)
    entries.put(k, e)
    missCount.incrementAndGet()
    Memo.run(k, e)
  }

  /** The entry's value if one was computed from the current input data,
    * without computing one. */
  def get(s: SparkSession, input: Option[String],
      params: Any = ()): Option[V] = {
    val k = Key(name, s, input, params)
    Option(entries.get(k))
      .filter(_.fp == input.fold("")(SideTable.fingerprint))
      .map(Memo.run[V](k, _))
  }

  def remove(s: SparkSession, input: Option[String], params: Any = ()): Unit =
    entries.remove(Key(name, s, input, params))

  def size: Int = entries.keySet.stream.filter(_.name == name).count.toInt

  def hits: Long = hitCount.get

  def misses: Long = missCount.get
}

/** The registry behind every session memo — the single map that holds
  * derived session state (query memos, side-table paths, parquet frames
  * and view registrations). `clearAll` drops every entry; hit and miss
  * counts are cumulative per memo. */
object Memo {

  private final case class Key(name: String, session: SparkSession,
      input: Option[String], params: Any)

  private final class Entry(val fp: String, val task: FutureTask[Any])

  private val entries = new ConcurrentHashMap[Key, Entry]()

  @volatile private var all = Vector.empty[Memo[_]]

  /** Registers the memo `name`; names are unique across the library. */
  def apply[V](name: String): Memo[V] = synchronized {
    require(!all.exists(_.name == name), s"memo $name registered twice")
    val m = new Memo[V](name)
    all :+= m
    m
  }

  private def run[V](k: Key, e: Entry): V = {
    e.task.run() // no-op if another thread is already running it
    try e.task.get().asInstanceOf[V]
    catch {
      case x: ExecutionException =>
        entries.remove(k, e) // allow retry after failure
        throw x.getCause
    }
  }

  def registered: Seq[Memo[_]] = all

  def named(name: String): Memo[_] = all.find(_.name == name).getOrElse(
    throw new NoSuchElementException(s"no memo named $name"))

  def clearAll(): Unit = entries.clear()

  /** `name:size/hits/misses` for every registered memo. */
  def summary: String =
    all.map(m => s"${m.name}:${m.size}/${m.hits}/${m.misses}").mkString(",")
}
