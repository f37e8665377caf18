package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.scalatest.funsuite.AnyFunSuite

/** Every graft SQL function's builder rejects a wrong argument count
  * with the `<name> expects <n> argument(s), got <m>` message. */
class GraftExtensionsSpec extends AnyFunSuite {

  private val arity = Map(
    "graft_dot" -> 2, "graft_hash60" -> 1, "graft_max_abs" -> 1,
    "graft_quantize" -> 2, "graft_unaccent" -> 1,
    "graft_image_meta" -> 1, "graft_audio_meta" -> 1,
    "graft_audio_pcm" -> 1, "graft_video_meta" -> 1,
    "graft_shingles" -> 2)

  private def args(n: Int): Seq[Expression] = Seq.fill(n)(Literal(1))

  test("the function table registers exactly the expected functions") {
    assert(GraftExtensions.functions.map(_._1.funcName).toSet ===
      arity.keySet)
  }

  for ((name, n) <- arity.toSeq.sortBy(_._1)) {
    test(s"$name rejects a wrong argument count") {
      val (_, info, build) =
        GraftExtensions.functions.find(_._1.funcName == name).get
      assert(info.getName === name)
      val noun = if (n == 1) "argument" else "arguments"
      for (wrong <- Seq(0, n - 1, n + 1).distinct) {
        val e = intercept[IllegalArgumentException](build(args(wrong)))
        assert(e.getMessage ===
          s"requirement failed: $name expects $n $noun, got $wrong")
      }
      val built = build(args(n))
      assert(built.children.length === n)
      assert(info.getClassName === built.getClass.getName)
    }
  }
}
