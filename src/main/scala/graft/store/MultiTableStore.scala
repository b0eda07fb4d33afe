package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lsh.{LshConfig, LshModel}

/** OR-probing multi-table LSH store — the alternative
  * `LshConfig(multiTable = true)` layout (see the trade-off discussion
  * on [[LshConfig]]). This is the reference's 3-table INTENT
  * (`sharding/lsh_sharding.py:57-74`) realized: its mod-sum bucket
  * formula collapses the tables into one code (and degenerates
  * entirely at power-of-two bucket counts); here each table keeps its
  * own 2^k-bucket code and a query unions candidates across tables,
  * which is what buys recall in every published LSH system.
  *
  * '''When to choose this layout''' (measured guidance, post-bucket-fix
  * — REPORT.md storage-vs-recall table, pinned in MultiTableLshSpec):
  * at 64 dimensions on this corpus family the 4×16 multi-table layout
  * edges out a fixed mod-16 single-table layout by only ~1–5 recall
  * points at equal probed fraction, while storing '''×L copies''' of
  * every row — recall per stored byte favors mod-N + a larger probe
  * budget at EVERY operating point measured. Prefer the default
  * single-table [[VectorStore]] (more probes are free at query time;
  * storage is not) unless (a) probe latency dominates and storage is
  * cheap, or (b) the recall curve audit on YOUR corpus/dim shows the
  * OR-union gap widening (high-dim, highly clustered corpora — where
  * multi-table theory earns its keep). [[auditRecallCurve]] +
  * [[searchAtRecall]] make that comparison a measurement, not a guess.
  *
  * Layout: each (id, embedding) row is written once per table under
  * `table=<t>/bucket=<b>` partitions — ×L storage, the standard
  * multi-table cost. Search probes `(table, bucket)` pairs via
  * partition-pruned scan, dedups candidates by id (a shuffle of the
  * probed subset only — ~probes·2^-k of one corpus copy), then exact
  * distance + top-k. Exact search scans table 0 (one full copy, no
  * dedup needed).
  */
final class MultiTableStore(
    spark: SparkSession,
    val path: String,
    val model: LshModel) extends IndexTable(spark, path) {

  /** `table=<t>/bucket=<b>` partitions, each vector stored once per table. */
  protected val layout: Layout =
    Layout(Seq("table" -> model.cfg.numHashTables,
      "bucket" -> model.bucketsPerTable), copies = model.cfg.numHashTables)

  protected def encode(df: DataFrame, idCol: String, embCol: String): DataFrame =
    MultiTableStore.encode(df, model, idCol, embCol)

  /** (table, bucket) pairs by multi-probe rank, as grid codes: every
    * table's own bucket, then single- and pair-flips across tables
    * ([[LshModel.tableCandidates]]).
    */
  protected def probeOrder(q: Array[Double]): Seq[Int] =
    model.tableCandidates(q, maxDepth)
      .map { case (t, b) => t * model.bucketsPerTable + b }

  /** Informed probing never reaches every pair, so the recall audit
    * measures L·k depths and its curve may top out below 1.0 — a
    * target above it then certifies nothing and runs exact.
    */
  override protected def auditDepth: Int =
    model.cfg.numHashTables * model.cfg.numHashFunctions
}

object MultiTableStore {

  /** Test hook for [[encode]]. */
  private[graft] def testEncode(df: DataFrame, model: LshModel): DataFrame =
    encode(df, model, "id", "embedding")

  /** One stored row per (table, input row) with its per-table 2^k
    * bucket code — the ×L scatter, shared by build, add and upsert.
    */
  private def encode(df: DataFrame, model: LshModel,
                     idCol: String, embCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"), col(embCol).as("embedding"))
      .select(col("id"), col("embedding"),
        posexplode(model.tableBucketsCol(col("embedding"))))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "bucket")

  /** Build: per-table bucket codes (one fused-kernel pass per table),
    * one stored row per (table, row), one writer task per
    * (table, bucket) partition, like [[VectorStore.build]].
    */
  def build(spark: SparkSession, df: DataFrame, path: String,
            cfg: LshConfig, idCol: String = "id",
            embCol: String = "embedding"): MultiTableStore = {
    require(cfg.multiTable, "MultiTableStore requires LshConfig(multiTable = true)")
    val model = LshModel(cfg)
    val store = new MultiTableStore(spark, path, model)
    IndexTable.create(spark, path, encode(df, model, idCol, embCol),
      store.layout)
    model.save(s"$path/_lsh_model.json")
    store
  }

  def open(spark: SparkSession, path: String): MultiTableStore = {
    val model = LshModel.load(s"$path/_lsh_model.json")
    require(model.cfg.multiTable,
      s"$path holds a single-table index; open it with VectorStore.open")
    new MultiTableStore(spark, path, model)
  }
}
