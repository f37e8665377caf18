package graft

import java.io.File
import java.nio.file.Files

import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Constructs that have one home in the library, each kept out of every
  * other file by one row of a source scan.
  *
  *   - Session state lives in one registry, [[graft.sources.Memo]],
  *     which keys every entry on its input's data fingerprint and
  *     exposes one clear and one stats path. A concurrent or weak map
  *     declared anywhere else is a hand-rolled memo coming back — with
  *     its own clear/size pair to keep in sync and its own staleness
  *     rules.
  *   - Driver-side concurrency lives in one seam, [[graft.Par]], which
  *     labels each task's Spark jobs and cancels the siblings of a
  *     failed task. A Scala future, an ExecutionContext, a hand-built
  *     executor or an `Await` anywhere else is a private pool coming
  *     back, whose first failure leaves its sibling jobs running.
  *   - Session configuration lives in one table, [[graft.Conf]], which
  *     declares each `graft.*` key once with its type and its default
  *     and parses every read the same way. A `"graft.<ns>.<key>"`
  *     literal anywhere else is a hand-parsed read coming back, with
  *     its own copy of the default and its own parse. */
class MemoGuardSpec extends AnyFunSuite {

  private val root = new File("src/main/scala/graft")

  /** One scan row: what it keeps out, the pattern, the (file name, code
    * fragment) pairs allowed to match, and whether import lines count. */
  private case class Row(test: String, what: String, pattern: Regex,
      allowed: Seq[(String, String)], imports: Boolean)

  private val rows = Seq(
    Row("no concurrent or weak map outside the memo registry",
      "hand-rolled maps outside graft.sources.Memo",
      """\b(ConcurrentHashMap|TrieMap|WeakHashMap)\b""".r,
      Seq(
        // the registry itself
        "Memo.scala" -> "",
        // per-instance parse cache of one source's query strings: it
        // dies with its JdbcSource, holds no session state and reads no
        // data
        "JdbcSource.scala" -> "private val shapes = TrieMap"),
      imports = false),
    Row("no future, execution context, executor or await outside Par",
      "driver-side concurrency outside graft.Par",
      ("""scala\.concurrent\b|\bExecutionContext\b|\bExecutors\.|""" +
        """\bAwait\.|\bblocking\s*[({]""").r,
      Seq("Par.scala" -> ""),
      imports = true),
    Row("no graft.* conf key literal outside Conf",
      "graft.* conf keys outside graft.Conf",
      // two dots: a class name such as "graft.Bench" does not match
      """"graft\.[a-z][A-Za-z0-9]*\.[A-Za-z0-9]+"""".r,
      Seq("Conf.scala" -> ""),
      imports = false))

  private def scalaFiles(f: File): Seq[File] =
    if (f.isFile) Seq(f).filter(_.getName.endsWith(".scala"))
    else Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
      .flatMap(scalaFiles)

  private lazy val sources: Seq[(File, Seq[String])] = {
    assert(root.isDirectory, s"run from the repo root: $root not found")
    scalaFiles(root).map(f =>
      f -> new String(Files.readAllBytes(f.toPath), "UTF-8").split("\n")
        .toSeq)
  }

  private def offenders(row: Row): Seq[String] = for {
    (f, lines) <- sources
    (line, i) <- lines.zipWithIndex
    code = line.trim
    if row.imports || !code.startsWith("import ")
    if !code.startsWith("//") && !code.startsWith("*") &&
      !code.startsWith("/*")
    if row.pattern.findFirstIn(code.split("//").head).isDefined
    if !row.allowed.exists { case (name, frag) =>
      f.getName == name && code.contains(frag) }
  } yield s"${f.getPath}:${i + 1}: $code"

  for (row <- rows) test(row.test) {
    assert(row.allowed.forall { case (name, _) =>
      sources.exists(_._1.getName == name) }, "an allowed file is gone")
    val found = offenders(row)
    assert(found.isEmpty, s"${row.what}:\n" + found.mkString("\n"))
  }
}
