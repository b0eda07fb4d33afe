package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared reducer for consuming a relational table's CHANGE FEED
  * ([[graft.sources.ManifestScan.changes]]) into an index: all three
  * store layouts (LSH, quantized, multi-table) sync with the same
  * net-action semantics, so the reduction lives once.
  *
  * A feed window may carry several events for one id (inserted then
  * deleted, upserted twice); the index must apply each id's NET
  * action: the newest `_commit_version` wins, and within one version
  * an upsert's delete+insert pair resolves to the insert (the new
  * image — 'insert' > 'delete' lexically, so one descending sort
  * encodes both rules). This also makes application IDEMPOTENT:
  * replaying a wider or overlapping window re-derives the same net
  * actions, and upsert/delete are state-convergent.
  *
  * A window's net inserts apply as ONE upsert commit and its net
  * deletes as ONE delete commit, on every layout. A window holding
  * only one kind is therefore atomic; a window holding both is NOT —
  * the two commits land separately, so a concurrent reader can observe
  * the intermediate snapshot (standard CDC-consumer semantics; each
  * snapshot is itself consistent).
  */
object FeedSync {

  /** (net insert rows as (id, embedding), net deleted ids as a
    * single-column frame). BOTH sides stay distributed — the r12
    * verdict's scale wart was collecting the delete ids here, which
    * made feed sync the only bulk-delete path routing ids through the
    * driver; the stores' `delete(DataFrame, idCol)` overload keeps
    * them executor-side end to end.
    */
  def net(feed: DataFrame, idCol: String,
      embCol: String): (DataFrame, DataFrame) = {
    val (ins, del, _, _) = netWithCounts(feed, idCol, embCol)
    (ins, del)
  }

  /** [[net]] plus (insert count, delete count) from ONE aggregate job
    * over the checkpointed reduction — replaces the separate
    * `ups.count()` + `dels.isEmpty` probes every sync window paid
    * (two jobs per window; the r16 feed decomposition measured the
    * sync loop's wall as almost entirely per-job floor at micro-batch
    * volumes). Counts are identical by construction: the reduction
    * assigns each id exactly one net action.
    */
  def netWithCounts(feed: DataFrame, idCol: String,
      embCol: String): (DataFrame, DataFrame, Long, Long) = {
    import org.apache.spark.sql.expressions.Window
    val reduced = feed
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("_commit_version").desc, col("_change_type").desc)))
      .where(col("__rn") === 1).drop("__rn")
      .localCheckpoint(true) // one pass over the feed, reused twice
    val inserts = reduced.where(col("_change_type") === "insert")
      .select(col(idCol), col(embCol))
    val deletes = reduced.where(col("_change_type") === "delete")
      .select(col(idCol))
    val byType = reduced.groupBy(col("_change_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (inserts, deletes,
      byType.getOrElse("insert", 0L), byType.getOrElse("delete", 0L))
  }
}
