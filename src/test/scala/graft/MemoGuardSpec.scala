package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Session state lives in one registry, [[graft.sources.Memo]], which
  * keys every entry on its input's data fingerprint and exposes one
  * clear and one stats path. A concurrent or weak map declared anywhere
  * else in the library is a hand-rolled memo coming back — with its own
  * clear/size pair to keep in sync and its own staleness rules — so
  * this spec fails on one. */
class MemoGuardSpec extends AnyFunSuite {

  private val root = new File("src/main/scala/graft")

  /** (file name, code fragment) pairs allowed to hold such a map. */
  private val allowed = Seq(
    // the registry itself
    "Memo.scala" -> "",
    // per-instance parse cache of one source's query strings: it dies
    // with its JdbcSource, holds no session state and reads no data
    "JdbcSource.scala" -> "private val shapes = TrieMap")

  private val mapType = """\b(ConcurrentHashMap|TrieMap|WeakHashMap)\b""".r

  private def scalaFiles(f: File): Seq[File] =
    if (f.isFile) Seq(f).filter(_.getName.endsWith(".scala"))
    else Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
      .flatMap(scalaFiles)

  test("no concurrent or weak map outside the memo registry") {
    assert(root.isDirectory, s"run from the repo root: $root not found")
    val files = scalaFiles(root)
    assert(files.exists(_.getName == "Memo.scala"))
    val offenders = for {
      f <- files
      (line, i) <- new String(Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").toSeq.zipWithIndex
      code = line.trim
      if !code.startsWith("import ") && !code.startsWith("//") &&
        !code.startsWith("*") && !code.startsWith("/*")
      if mapType.findFirstIn(code.split("//").head).isDefined
      if !allowed.exists { case (name, frag) =>
        f.getName == name && code.contains(frag) }
    } yield s"${f.getPath}:${i + 1}: $code"
    assert(offenders.isEmpty,
      "hand-rolled maps outside graft.sources.Memo:\n" +
        offenders.mkString("\n"))
  }
}
