package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** The batch/corpus split shared by the incremental family (q67
  * dedup, q69 LM scoring, q72 novelty): documents with
  * `doc_id >= cut` are "the new crawl batch", everything below is the
  * persisted corpus the side-table artifacts derive from.
  *
  * `graft.batch.cut` pins the cut explicitly — the deployment shape,
  * where the cut is a crawl/snapshot id carried by the ingest layer,
  * not a ratio of the id space. Unset, the default is the top ~20% of
  * doc ids (`max(doc_id)*4 div 5` — data-relative, so it is exact and
  * identical in the DuckDB oracles), probed with ONE 1-row driver
  * aggregate per query (the same metadata grain as the O7 min/max
  * probe).
  */
object BatchCut {

  def cut(s: SparkSession, d: DataFrame, idCol: String = "doc_id"): Long =
    graft.Conf.BatchCut(s).getOrElse(
      d.agg(expr(s"(max($idCol) * 4) div 5")).head().getLong(0))
}
