package graft.server

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.{IndexTable, MultiTableStore, QuantIndex, RecallCurves,
  VectorStore}

/** What [[HttpFacade]] needs from an index, so one REST surface hosts
  * all three persisted layouts (r11 verdict task #7: the facade served
  * the LSH store only — a user could not reach e19's quantized nprobe
  * knob or v22's multi-table knob over HTTP):
  *
  *  - [[StoreAdapter.Lsh]] — the mod-bucket [[VectorStore]]; `probes`
  *    = LSH buckets scanned, `min_recall` via the persisted measured
  *    curve ([[VectorStore.probesForRecall]]);
  *  - [[StoreAdapter.Quant]] — the IVF-quantized [[QuantIndex]];
  *    `probes` = IVF cells scanned (exact distance within probed
  *    cells, FAISS nprobe), `min_recall` via
  *    [[QuantIndex.nprobeForRecall]];
  *  - [[StoreAdapter.Multi]] — the ×L OR-probing [[MultiTableStore]];
  *    `probes` = (table, bucket) pairs unioned, `min_recall` via
  *    [[MultiTableStore.probesForRecall]] (None = target above the
  *    measured curve → exact, never under-deliver).
  *
  * Shared reference semantics live in the facade (k-clamp, 1-D
  * reshape, auto-ids, empty-index warning); what every layout answers
  * the same way lives here over its [[IndexTable]], and each adapter
  * answers only the layout-specific questions.
  */
sealed trait StoreAdapter {
  /** The hosted index. */
  protected def table: IndexTable

  /** Layout tag reported by `/stats` (`sharding_strategy`). */
  def strategy: String

  /** One row per stored vector (a ×L layout reads one copy). */
  protected def vectors: DataFrame = table.indexDf

  /** Distinct stored vectors. */
  def totalVectors(): Long = vectors.count()

  /** Current max id, −1 when empty (for sequential auto-ids). */
  def maxId(): Long =
    vectors.agg(coalesce(max("id"), lit(-1L))).head.getLong(0)

  def add(df: DataFrame): Unit = table.add(df)

  /** The probe budget meaning "exact" for this layout. */
  def maxProbes: Int

  /** Smallest probe depth whose MEASURED recall curve meets the
    * target FOR result size `k`; conservative (no curve, unreachable
    * target, or a curve audited at a different k → exact — recall@10
    * bounds neither recall@50 nor recall@5 at a fixed depth, r14
    * ADVICE #1).
    */
  def probesFor(minRecall: Double, k: Int): Int =
    RecallCurves.certifiedDepth(table.recallCurve(), k, minRecall)
      .getOrElse(maxProbes)

  /** (id, dist) top-k frame at the given probe depth. */
  def search(q: Array[Double], k: Int, probes: Int): DataFrame

  /** Recall-targeted ADC search over a named quant tier, when this
    * layout has one: (result frame, coarseN used — −1 for the exact
    * fallback). None = the layout has no ADC tiers (the facade then
    * answers 400). An unknown tier name throws
    * IllegalArgumentException (→ facade 400), same loud refusal as
    * [[QuantIndex.searchAdcAtRecall]].
    */
  def searchTier(q: Array[Double], k: Int, minRecall: Double,
      tier: String): Option[(DataFrame, Int)] = None

  /** Per-"node" stats payload (`/stats` `nodes` map). */
  def nodes(): Map[String, Any]

  /** Number of nodes reported by `/stats` (`total_nodes`). */
  def totalNodes: Int

  /** Typed vacuum-race classification for eager actions. */
  def classified[T](body: => T): T = table.classified(body)
}

object StoreAdapter {

  final class Lsh(spark: SparkSession, val store: VectorStore)
      extends StoreAdapter {
    protected def table: IndexTable = store
    def strategy = "lsh"
    def maxProbes: Int = store.model.numBuckets
    def search(q: Array[Double], k: Int, probes: Int): DataFrame =
      store.search(q, k, probes)
    def nodes(): Map[String, Any] = store.stats().collect().map { r =>
      val b = r.getAs[Number]("bucket").intValue()
      s"bucket=$b" -> Map(
        "vector_count" -> r.getAs[Long]("cnt"),
        "share" -> r.getAs[Double]("pct"),
        "memory_mb" -> r.getAs[Double]("memory_mb"),
        "imbalance" -> r.getAs[Double]("imbalance"))
    }.toMap
    def totalNodes: Int = store.model.numBuckets
  }

  final class Quant(spark: SparkSession, val idx: QuantIndex)
      extends StoreAdapter {
    protected def table: IndexTable = idx
    def strategy = "ivf"
    def maxProbes: Int = idx.model.cfg.ivfCells
    def search(q: Array[Double], k: Int, probes: Int): DataFrame =
      idx.searchIvf(q, k, nprobe = probes)
    override def searchTier(q: Array[Double], k: Int, minRecall: Double,
        tier: String): Option[(DataFrame, Int)] =
      Some(idx.searchAdcAtRecall(q, k, minRecall, tier))
    def nodes(): Map[String, Any] = {
      val dim = idx.model.dim
      idx.indexDf.groupBy(col("cell").cast("int").as("cell"))
        .agg(count(lit(1)).as("cnt")).collect().map { r =>
          val cnt = r.getAs[Long]("cnt")
          s"cell=${r.getAs[Int]("cell")}" -> Map(
            "vector_count" -> cnt,
            "memory_mb" -> cnt * (dim * 4L + 8L) / 1e6)
        }.toMap
    }
    def totalNodes: Int = idx.model.cfg.ivfCells
  }

  final class Multi(spark: SparkSession, val store: MultiTableStore)
      extends StoreAdapter {
    protected def table: IndexTable = store
    def strategy = "lsh_multitable"
    // each vector is stored once per table: table 0 is one copy
    override protected def vectors: DataFrame =
      store.indexDf.where(col("table") === 0)
    def maxProbes: Int =
      store.model.cfg.numHashTables * store.model.bucketsPerTable
    def search(q: Array[Double], k: Int, probes: Int): DataFrame =
      if (probes >= maxProbes) store.exact(q, k)
      else store.search(q, k, probes)
    def nodes(): Map[String, Any] = {
      val dim = store.model.cfg.dim
      store.indexDf
        .groupBy(col("table").cast("int").as("t"),
          col("bucket").cast("int").as("b"))
        .agg(count(lit(1)).as("cnt")).collect().map { r =>
          val cnt = r.getAs[Long]("cnt")
          s"table=${r.getAs[Int]("t")}/bucket=${r.getAs[Int]("b")}" -> Map(
            "vector_count" -> cnt,
            "memory_mb" -> cnt * (dim * 4L + 8L) / 1e6)
        }.toMap
    }
    def totalNodes: Int = maxProbes
  }
}
