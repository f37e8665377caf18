package graft.sources

import scala.util.Try

import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}

/** The shape of a user query, which decides the SQL a [[Source]] sends for
  * it — the pushdown rewrite of conecta-core/src/source/postgres.rs:488-592.
  *   - `Bare(T)`: the query is `select * from T`;
  *   - `Filtered(T, cond)`: the query is `select * from T where cond`;
  *   - `Opaque`: anything else, sent as the derived table
  *     `(<query>) as query_inner`.
  *
  * `T` and `cond` are slices of the user's own text, never re-rendered, so
  * the database reads them with its own dialect's rules.
  */
sealed trait QueryShape

object QueryShape {
  final case class Bare(table: String) extends QueryShape
  final case class Filtered(table: String, cond: String) extends QueryShape
  case object Opaque extends QueryShape

  private val UnquotedName =
    """[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*""".r

  /** Classifies `query` with Catalyst's SQL parser, which keeps each plan
    * node's start and stop offsets in the text. The parser is
    * `CatalystSqlParser` rather than the session's, whose `${var}`
    * substitution would shift those offsets off the user's text.
    *   - `T` is accepted only as an unquoted, dot-separated name;
    *   - `cond` is accepted only if its slice parses back to the same
    *     expression and holds no subquery, quote character (`"`, a backtick)
    *     or backslash. Spark reads `"x"` as a string and `\` as an escape,
    *     where a database reads a name and a plain character.
    *
    * Parse failures (dialect-only text such as Derby's `FETCH FIRST`),
    * aliases, projections, joins, `DISTINCT`, `GROUP BY`, `ORDER BY`,
    * `LIMIT`, CTEs and hints are all `Opaque`. Comments and a trailing `;`
    * are not part of the parsed statement, so `select * from t;` is
    * `Bare(t)`. */
  def apply(query: String): QueryShape = {
    def slice(from: Option[Int], to: Option[Int]) =
      for (a <- from; b <- to) yield query.substring(a, b + 1)
    def table(r: UnresolvedRelation) =
      slice(r.origin.startIndex, r.origin.stopIndex).filter(t =>
        r.options.isEmpty && !r.isStreaming && UnquotedName.matches(t) &&
          t == r.multipartIdentifier.mkString("."))
    def cond(c: Expression) = {
      val at = c.collect { case e => e.origin }
      slice(at.flatMap(_.startIndex).minOption,
          at.flatMap(_.stopIndex).maxOption)
        .filter(s => !c.exists(_.isInstanceOf[SubqueryExpression]) &&
          !s.exists("\"`\\".contains(_)) &&
          Try(CatalystSqlParser.parseExpression(s)).toOption.contains(c))
    }
    Try(CatalystSqlParser.parsePlan(query)).toOption.flatMap {
      case Project(Seq(UnresolvedStar(None)), r: UnresolvedRelation) =>
        table(r).map(Bare)
      case Project(Seq(UnresolvedStar(None)), Filter(c, r: UnresolvedRelation)) =>
        for (t <- table(r); s <- cond(c)) yield Filtered(t, s)
      case _ => None
    }.getOrElse(Opaque)
  }
}
