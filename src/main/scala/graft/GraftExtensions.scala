package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{AudioMetaExpr, AudioPcmExpr, DotProductExpr, Hash60Expr, ImageMetaExpr, MaxAbsExpr, QuantizeExpr, ShinglesExpr, UnaccentExpr, VideoMetaExpr}

/** SparkSessionExtensions entry point — registers graft's native Catalyst
  * expressions as SQL functions. Two deployment paths:
  *
  *   - cluster config: `spark.sql.extensions=graft.GraftExtensions`
  *   - live session: `GraftExtensions.register(spark)`
  *
  * Both routes share one function table, so SQL and the Column API expose
  * identical semantics.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** One row per graft SQL function: name, expression class, arity, and
    * the constructor over exactly `arity` children. */
  private val rows: Seq[(String, Class[_ <: Expression], Int,
      Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProductExpr], 2,
      c => DotProductExpr(c(0), c(1))),
    ("graft_hash60", classOf[Hash60Expr], 1, c => Hash60Expr(c(0))),
    ("graft_max_abs", classOf[MaxAbsExpr], 1, c => MaxAbsExpr(c(0))),
    ("graft_quantize", classOf[QuantizeExpr], 2,
      c => QuantizeExpr(c(0), c(1))),
    ("graft_unaccent", classOf[UnaccentExpr], 1, c => UnaccentExpr(c(0))),
    ("graft_image_meta", classOf[ImageMetaExpr], 1,
      c => ImageMetaExpr(c(0))),
    ("graft_audio_meta", classOf[AudioMetaExpr], 1,
      c => AudioMetaExpr(c(0))),
    ("graft_audio_pcm", classOf[AudioPcmExpr], 1, c => AudioPcmExpr(c(0))),
    ("graft_video_meta", classOf[VideoMetaExpr], 1,
      c => VideoMetaExpr(c(0))),
    ("graft_shingles", classOf[ShinglesExpr], 2,
      c => ShinglesExpr(c(0), c(1))))

  /** (name, info, builder) triples for every graft SQL function; each
    * builder rejects a wrong argument count. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] =
    rows.map { case (name, cls, arity, make) =>
      val builder = (children: Seq[Expression]) => {
        require(children.length == arity,
          s"$name expects $arity argument${if (arity == 1) "" else "s"}, " +
            s"got ${children.length}")
        make(children)
      }
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        builder)
    }

  /** Register into an already-running session's function registry. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (ident, info, builder) =>
      registry.registerFunction(ident, info, builder)
    }
  }
}
