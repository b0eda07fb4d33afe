package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}

/** Quantized ANN index: the compressed sibling of [[VectorStore]].
  *
  * Where VectorStore partitions by LSH bucket and searches exact within
  * pruned buckets, QuantIndex encodes ONCE at build time (the FAISS
  * add-time convention, reference `shard/shard_node.py:88`) and persists
  * next to each vector:
  *   - `cell` — IVF coarse cell, the PARTITION column: probing `nprobe`
  *     cells is parquet partition pruning, never a full scan;
  *   - `sq8`  — per-dimension scalar-quantized codes (4 B/dim → ~1 B);
  *   - `pq`   — product-quantizer codes (dim floats → M small ints).
  *
  * Search scans ONLY the code columns until the exact re-rank of a
  * bounded candidate set (the coarse top-N ids → `isin` filter, pushed
  * to the parquet scan, which row-group-skips on the id stats written
  * by the build-time sort). At 100 TB this is the difference between
  * reading the 16×-smaller code column vs the full float corpus per
  * query — the round-3 implementations re-encoded the corpus per query
  * and were slower than brute force; this one is an index.
  */
final class QuantIndex(
    spark: SparkSession,
    val path: String,
    val model: QuantModel)
    extends IndexTable(spark, QuantIndex.currentDataDir(spark, path)) {

  /** Data directory of the snapshot this instance serves, resolved
    * ONCE at construction: either the flat legacy layout (`cell=` dirs
    * directly under `path`, what [[QuantIndex.build]] writes) or the
    * highest COMPLETE versioned snapshot `path/_versions/vN` left by
    * [[retrain]]. Pinning it here means an instance keeps serving one
    * consistent snapshot; after a retrain, reopen (or use the returned
    * instance) to see the new version.
    */
  val dataDir: String = tableDir

  protected val layout: Layout = QuantIndex.layoutOf(model)

  protected def encode(df: DataFrame, idCol: String, embCol: String): DataFrame =
    QuantIndex.encode(df, model, idCol, embCol)

  /** After a commit: drop the resident cache, and on a data change the
    * per-tier coarseN curves too (the kernel drops the nprobe curve) —
    * a stale curve would make [[coarseNForRecall]] silently optimistic.
    */
  override protected def afterCommit(dataChange: Boolean): Unit = {
    if (dataChange)
      model.adcTiers.keys.foreach(t => graft.util.FsIo.delete(adcCurvePath(t)))
    dropResident()
  }

  // volatile: facade worker threads read it on every search while a
  // commit's `dropResident` writes it
  @transient @volatile private var resident: Option[Snap] = None

  /** After [[cacheIndex]], reads and [[topK]] scan the resident copy. */
  override protected def residentSnap: Option[Snap] = resident

  /** Pin the index in executor memory for interactive serving (the
    * analogue of the reference's always-resident FAISS index): all
    * searches then scan the in-memory columnar form — column pruning
    * and the bounded re-rank shape are unchanged. Without this, the
    * DataFrame searches plan a fresh parquet scan (the right default
    * for batch), and [[topK]] reads the sealed files' resident blocks
    * and the appended files' parquet ([[IndexTable]]).
    */
  def cacheIndex(): this.type = {
    val df = logDf.cache()
    df.count()
    resident = Some(new Snap(df))
    this
  }

  /** (id, cell, adc) coarse candidates of one ADC tier
    * ([[QuantModel.adcTier]]) within the `nprobe` IVF cells nearest the
    * query (default: every cell, no partition filter). The scan reads
    * (id, tier codes) only — `cell` is the partition column, it comes
    * from the directory name — and the top-N plans as
    * TakeOrderedAndProject (per-partition heap, no full sort). With a
    * probe budget this is the FAISS IVF+ADC layout: partition pruning
    * cuts the rows to nprobe/nCells, the codes cut the bytes per row.
    * Carrying `cell` lets the re-rank prune to the partitions the
    * survivors actually live in.
    */
  def coarse(tier: String, q: Array[Double], n: Int,
      nprobe: Int = model.cfg.ivfCells): DataFrame = {
    val t = model.adcTier(tier)
    indexDf.where(pruneFilter(q, nprobe))
      .select(col("id"), col("cell"), t.distanceTo(q).as("adc"))
      .orderBy(col("adc"), col("id")).limit(n)
  }

  /** Exact squared-L2 for a bounded id set (the coarse survivors): the
    * only stage that reads the float `embedding` column, under an id
    * pushdown filter. `cells` restricts the scan to the partitions the
    * candidates are known to live in — for the IVF-pruned tiers this
    * is REQUIRED at scale: every cell's file spans the full id range,
    * so without the partition filter the id pushdown can't row-group-
    * skip and the re-rank degenerates to a full embedding-column read
    * (measured 2M smoke: two-stage 0.9 s vs 0.4 s with the filter).
    */
  def exactDist(ids: Seq[Long], q: Array[Double],
                cells: Seq[Int] = Nil): DataFrame = {
    val base =
      if (cells.isEmpty) indexDf
      else indexDf.where(col("cell").isin(cells.map(Int.box): _*))
    base.where(col("id").isin(ids.map(Long.box): _*))
      .select(col("id"), VF.l2sqLit(col("embedding"), q).as("dist"))
  }

  /** [[exactDist]] with per-candidate cells — the re-rank's true input
    * shape, and what makes zone pruning sharp: a file is scheduled
    * only if one of ITS OWN cell's candidate ids falls in its id zone,
    * so the planned file count is bounded by the CANDIDATE count
    * (≤ |idCells|) however many files the table holds. That bound is
    * the 100 TB property: a 100-candidate re-rank schedules ≤100
    * tasks whether the index has 200 files or 200 thousand.
    */
  def exactDistPaired(idCells: Seq[(Long, Int)],
                      q: Array[Double]): DataFrame = {
    val ids = idCells.map(_._1)
    val cells = idCells.map(_._2).distinct
    val base = zonePruned(idCells).getOrElse {
      indexDf.where(col("cell").isin(cells.map(Int.box): _*))
    }
    base.where(col("id").isin(ids.map(Long.box): _*))
      .select(col("id"), VF.l2sqLit(col("embedding"), q).as("dist"))
  }

  /** Planning-time file pruning for a bounded-id scan (the re-rank):
    * the snapshot's committed id zones name, per file, the id range it
    * holds — so the scan's file list is resolved on the DRIVER from
    * the log alone, no footer opened for a file that provably misses
    * every candidate OF ITS CELL. On an id-range-clustered layout
    * ([[compact]]) the kept set is ≤ one file per candidate; zoneless
    * files and files outside the cell regex stay conservative (kept if
    * their cell is probed). None = no pruning possible (resident cache
    * serves the scan, unlogged dir, or a zone-less legacy log) — the
    * caller falls back to the partition-pruned scan.
    */
  private def zonePruned(idCells: Seq[(Long, Int)]): Option[DataFrame] = {
    if (resident.isDefined || idCells.isEmpty) return None
    if (!FileLog.exists(dataDir)) return None
    val st = FileLog.read(dataDir)
    if (st.files.isEmpty || st.zones.isEmpty) return None
    val byCell: Map[Int, Array[Long]] = idCells.groupBy(_._2)
      .map { case (c, xs) => c -> xs.map(_._1).distinct.sorted.toArray }
    def anyIdIn(sorted: Array[Long], lo: Long, hi: Long): Boolean = {
      var i = java.util.Arrays.binarySearch(sorted, lo)
      if (i < 0) i = -i - 1
      i < sorted.length && sorted(i) <= hi
    }
    val kept = st.files.filter { f =>
      layout.cellOf(f) match {
        case None => true // not a cell file: conservative
        case Some(c) => byCell.get(c) match {
          case None => false // no candidate lives in this cell
          case Some(sorted) =>
            st.zones.get(f).flatMap(_.get("id")).forall {
              case Zone.I64(lo, hi) => anyIdIn(sorted, lo, hi)
              case _ => true // non-int zone kind: conservative keep
            }
        }
      }
    }
    if (kept.isEmpty) Some(dfOf(st.copy(files = Seq.empty)))
    else Some(dfOf(st.copy(files = kept)))
  }

  /** Coarse ids of a candidate frame — bounded by the coarse N by
    * construction (the one acceptable driver materialization).
    */
  def candidateIds(coarse: DataFrame): Seq[Long] =
    classified { coarse.select("id").collect().map(_.getLong(0)).toSeq }

  /** Exact re-rank of the coarse survivors, scanning ONLY the cell
    * partitions they live in (derived from the coarse result's `cell`
    * column — tighter than the probe list, and it makes the id
    * pushdown row-group-skippable within each touched cell file).
    */
  private def rerank(coarse: DataFrame, q: Array[Double], k: Int): DataFrame = {
    val rows =
      classified { coarse.select(col("id"), col("cell").cast("int")).collect() }
    exactDistPaired(rows.map(r => (r.getLong(0), r.getInt(1))).toSeq, q)
      .orderBy(col("dist"), col("id")).limit(math.max(1, k))
  }

  /** Two-stage search over one ADC tier: the [[coarse]] top-`coarseN`
    * within `nprobe` cells, then the exact re-rank restricted to the
    * candidates' cells.
    */
  def searchTwoStage(tier: String, q: Array[Double], k: Int,
      coarseN: Int = 100, nprobe: Int = model.cfg.ivfCells): DataFrame =
    rerank(coarse(tier, q, coarseN, nprobe), q, k)

  /** (id, adc) coarse candidates by RESIDUAL PQ distance within the
    * probed cells — the full FAISS IVFPQ scheme: each probed cell gets
    * its own LUT (query residual vs that cell's centroid, against the
    * residual books), and a row looks its LUT up by the position of its
    * cell in the probe list. Same pruned scan and byte footprint as the
    * pq tier's [[coarse]] at that nprobe; the codes just carry more
    * signal per bit because each codebook only spans a cell-sized
    * neighborhood.
    */
  def coarseIvfPqResidual(q: Array[Double], nprobe: Int, n: Int): DataFrame = {
    val cells = model.ivfNearestCells(q, nprobe)
    val luts: Seq[Seq[Seq[Double]]] =
      cells.map(c => model.pqrLut(q, c).map(_.toSeq).toSeq)
    val lutForRow = element_at(typedlit(luts),
      array_position(typedlit(cells), col("cell").cast("int")).cast("int"))
    val adc = (0 until model.cfg.pqSubspaces).map(j =>
      element_at(element_at(lutForRow, j + 1), element_at(col("pqr"), j + 1)))
      .reduce(_ + _)
    indexDf.where(col("cell").isin(cells.map(Int.box): _*))
      .select(col("id"), col("cell"), adc.as("adc"))
      .orderBy(col("adc"), col("id")).limit(n)
  }

  /** Residual IVFPQ two-stage search: per-cell residual ADC, exact
    * re-rank restricted to the candidates' cells.
    */
  def searchIvfPqResidual(q: Array[Double], k: Int, nprobe: Int = 2,
                          coarseN: Int = 100): DataFrame =
    rerank(coarseIvfPqResidual(q, nprobe, coarseN), q, k)

  /** IVF cells by centroid distance: the depth-p [[search]] is the
    * FAISS IVF nprobe = p search, exact within the probed cells
    * ([[QuantModel.ivfNearestCells]] sorts once and takes).
    */
  protected def probeOrder(q: Array[Double]): Seq[Int] =
    model.ivfNearestCells(q, model.cfg.ivfCells)

  /** Re-train every quantizer on the CURRENT corpus and re-encode —
    * FAISS's retrain path, closing the audit→action loop: `add` after
    * a distribution shift encodes against stale codebooks (by design —
    * codes are functions of the trained model), the e18/m8-style
    * recall audits MEASURE the resulting drift, and this is the action
    * the measurement calls for. One training pass (distributed stats +
    * bounded driver sample, exactly [[QuantIndex.build]]'s shape), one
    * distributed re-encode, one cell-repartitioned rewrite; the
    * within-cell id sort is preserved so the re-rank's id pushdown
    * keeps row-group-skipping. Returns the retrained index (this
    * instance's model is immutable — use the returned one).
    *
    * Crash-safe by versioned snapshot: the rewrite reads the CURRENT
    * data directory and writes a fresh versioned snapshot `path/_versions/vN` (the
    * underscore keeps Spark's partition discovery of the flat layout
    * from seeing it) — the durable
    * copy is never truncated mid-flight (an in-place static overwrite
    * would leave the corpus only in ephemeral executor memory during
    * the write), and reading from one path while writing another
    * needs no corpus checkpoint/cache. The new snapshot's model JSON
    * is written LAST and atomically (tmp + rename): its existence IS
    * the commit — [[QuantIndex.currentDataDir]] only selects versions
    * that have it, so a crash at ANY instant leaves `path` with a
    * complete readable index (the old one until commit, the new one
    * after). Superseded snapshots are garbage-collected on a GRACE
    * period (default [[FileLog.DefaultVacuumGraceMs]]): a long-running
    * reader holding the old snapshot finishes before the files vanish
    * — the next retrain (or an explicit `vacuumGraceMs = 0`) reclaims
    * snapshots older than the grace. Zero grace deletes the superseded
    * snapshot immediately (tests, storage-pressure maintenance).
    */
  def retrain(vacuumGraceMs: Long = FileLog.DefaultVacuumGraceMs): QuantIndex = {
    val next = s"$path/_versions/v${QuantIndex.nextVersion(spark, path)}"
    // through the log, NOT the raw directory: the dir may hold files
    // retired by delete/upsert and not yet vacuumed — a listing read
    // would bake those phantom rows into the new snapshot forever
    val data = logDf.select(col("id"), col("embedding"))
    val newModel = QuantModel.train(data, model.cfg)
    IndexTable.create(spark, next,
      QuantIndex.encode(data, newModel, "id", "embedding"), layout)
    newModel.save(s"$next/_quant_model.json") // atomic commit point
    // post-commit, grace-guarded cleanup of superseded snapshots: the
    // just-replaced one is younger than the grace and survives for
    // in-flight readers; older leftovers (prior retrains) get reclaimed
    QuantIndex.sweepSupersededSnapshots(spark, path, next, vacuumGraceMs)
    dropResident()
    releaseBlocks()
    new QuantIndex(spark, path, newModel)
  }

  /** One policy-driven maintenance pass (the OPTIMIZE-when hook):
    * compacts exactly the cells whose live-file count exceeds the
    * policy threshold, then audits recall and retrains when the
    * measurement calls for it — see [[MaintenancePolicy]] for the
    * trigger semantics and [[MaintenanceReport]] for what is decided.
    *
    * Cell-scoped, not table-scoped: only the hot cells' rows are read
    * (the `cell` partition-column filter prunes every cold cell's
    * files at planning time) and only their files are replaced, with
    * the rewrite's read set declared as exactly those files — so a
    * concurrent rewrite in a cold region merges instead of aborting,
    * and at the design scale a maintenance pass costs O(hot region),
    * never O(table). Compaction is `dataChange = false` (same rows,
    * fewer files), so change-feed consumers skip it and the measured
    * recall curves stay valid.
    *
    * Returns the report plus the index to keep using — `this` unless
    * a retrain ran (retraining writes a fresh snapshot with a new
    * model; the stale instance keeps serving the old snapshot, the
    * returned one serves the new).
    */
  def maintain(policy: MaintenancePolicy = MaintenancePolicy())
      : (MaintenanceReport, QuantIndex) = {
    val (log, df) = pinned()
    val before = log.files.size.toLong
    val byCell: Map[Int, Seq[String]] = log.files
      .flatMap(f => layout.cellOf(f).map(_ -> f))
      .groupBy(_._1).map { case (c, fs) => c -> fs.map(_._2) }
    val hot = byCell.collect {
      case (c, fs) if fs.size > policy.maxFilesPerCell => c
    }.toSeq.sorted
    // footer-sized, region-scoped compaction of just the hot cells:
    // its read set is their files, so cold-cell rewrites still merge
    if (hot.nonEmpty)
      compactCells(log, df.where(layout.filter(hot)), hot.flatMap(byCell),
        Some(hot), policy.targetRowsPerFile, policy.vacuumGraceMs)
    val afterCompact =
      if (hot.isEmpty) before else FileLog.read(dataDir).files.size.toLong
    val curveStale = recallCurve().isEmpty
    val measured =
      if (policy.auditPanel.isEmpty) None
      else Some(recallAtK(policy.auditPanel, policy.auditK, policy.auditNprobe))
    val out =
      if (measured.exists(_ < policy.minRecall)) {
        val fresh = retrain(policy.vacuumGraceMs)
        val after =
          fresh.recallAtK(policy.auditPanel, policy.auditK, policy.auditNprobe)
        (MaintenanceReport(before,
          FileLog.read(fresh.dataDir).files.size.toLong, hot, curveStale,
          measured, retrained = true, Some(after)), fresh)
      } else
        (MaintenanceReport(before, afterCompact, hot, curveStale,
          measured, retrained = false, None), this)
    QuantIndex.lastMaint = Some(out._1) // bench/report surfacing
    out
  }

  /** Measured `nprobe`-probe recall@k over a query panel — the e18
    * audit as a store method, so retraining decisions can be made (and
    * tested) against the same number the audit reports: for each
    * query, |exact top-k ∩ top-k within the probed cells| / k,
    * averaged over the panel. ONE corpus scan for the whole panel
    * (the kernel's probe-depth audit).
    */
  def recallAtK(panel: Seq[Array[Double]], k: Int = 10,
                nprobe: Int = 1): Double =
    recallAt(panel, k, Seq(nprobe)).head

  // ----------------- recall vs coarseN (the ADC tiers' other knob)

  /** Mean recall@k of the TWO-STAGE search per re-rank budget
    * `coarseN`, for one ADC tier, over a query panel, as a ONE-scan
    * frame (1 row, one avg column per depth). The re-rank is exact, so
    * a two-stage search's only loss is a true neighbor missing from
    * the coarse top-coarseN: recall(coarseN) = |exact top-k ∩ ADC
    * top-coarseN| / k. Each panel query's payload is broadcast into
    * the scan and scored by the tier's one distance ([[AdcTier]]);
    * integer distances cast to double for the shared top-k aggregate
    * (order-preserving: all values << 2^53). Every depth is a prefix
    * slice of ONE top-max(depths) aggregate.
    */
  private[graft] def adcAuditFrame(panel: Seq[Array[Double]], k: Int,
      tier: String, depths: Seq[Int]): DataFrame = {
    require(panel.nonEmpty, "empty audit panel")
    require(depths.nonEmpty && depths.forall(_ >= 1), "bad depth list")
    val (pdf, adc) = model.adcTier(tier).panelFrame(spark, panel)
    val kk = math.max(1, k)
    val scored = indexDf.crossJoin(broadcast(pdf))
      .select(col("qid"), col("id"),
        VF.l2sq(col("embedding"), col("qe")).as("dd"),
        adc.cast("double").as("adc"))
    val perQuery = scored.groupBy("qid").agg(
      graft.functions.TopKAgg(col("id"), col("dd"), kk).as("ex"),
      graft.functions.TopKAgg(col("id"), col("adc"), depths.max).as("cand"))
      .select(depths.map { p =>
        (size(array_intersect(
          expr("transform(ex, x -> x._1)"),
          expr(s"transform(slice(cand, 1, $p), x -> x._1)"))).cast("double") /
          size(col("ex"))).as(s"r_$p")
      }: _*)
    perQuery.agg(
      avg(col(s"r_${depths.head}")),
      depths.tail.map(p => avg(col(s"r_$p"))): _*)
  }

  /** Default audit grid for [[auditAdcRecallCurve]]: log-ish steps to
    * 4× the conventional 100 budget.
    */
  private val AdcDepths = Seq(10, 25, 50, 100, 200, 400)

  /** Measure the recall-vs-coarseN curve for one ADC tier and persist
    * it INSIDE the current snapshot's data directory
    * (`_adc_recall_curve_<tier>.json`) — the coarseN twin of the
    * nprobe curve ([[auditRecallCurve]]): a retrain's fresh snapshot
    * has no curve, and add/delete/upsert drop it explicitly, so
    * [[coarseNForRecall]] can never serve a stale measurement. Returns
    * depth → mean recall@k.
    */
  def auditAdcRecallCurve(panel: Seq[Array[Double]], k: Int = 10,
      tier: String = QuantTier.Pq,
      depths: Seq[Int] = AdcDepths): Seq[(Int, Double)] = {
    val kk = math.max(1, k)
    val ds = depths.distinct.sorted
    val row = adcAuditFrame(panel, kk, tier, ds).head
    // avg over ZERO per-query rows is NULL: surface the diagnosis, not
    // an unboxing NPE
    require(!row.isNullAt(0), s"cannot audit recall on an empty index ($path)")
    val recall = ds.indices.map(row.getDouble)
    RecallCurves.write(adcCurvePath(tier),
      RecallCurves.Curve(kk, panel.size, ds, recall))
    ds.zip(recall)
  }

  private def adcCurvePath(tier: String): String =
    s"$dataDir/_adc_recall_curve_$tier.json"

  /** The persisted measured coarseN curve for `tier`:
    * (k, depth → recall), if [[auditAdcRecallCurve]] has run for this
    * snapshot.
    */
  def adcRecallCurve(tier: String): Option[(Int, Seq[(Int, Double)])] =
    RecallCurves.read(adcCurvePath(tier)).map(c => (c.k, c.depths.zip(c.recall)))

  /** Smallest MEASURED re-rank budget whose recall@k meets the target
    * for one ADC tier, by the one certification rule
    * ([[RecallCurves.certifiedDepth]]): None with no persisted curve
    * (fresh build, post-mutation, post-retrain), a curve audited at
    * another k, or a target above the curve.
    */
  def coarseNForRecall(minRecall: Double, k: Int,
      tier: String = QuantTier.Pq): Option[Int] =
    RecallCurves.certifiedDepth(RecallCurves.read(adcCurvePath(tier)),
      math.max(1, k), minRecall)

  /** Recall-targeted two-stage ADC search: the re-rank budget comes
    * from [[coarseNForRecall]] instead of the hand-tuned 100, clamped
    * to ≥ k so the re-rank can always fill k rows (recall is
    * non-decreasing in depth, so clamping UP never drops below the
    * measured point). Nothing certified ⇒ exact scan. A tier without a
    * coarseN curve (pqr, a typo, a tier the index lacks) refuses
    * loudly instead of silently degrading every query to an exact
    * scan. Returns (result, the coarseN used — −1 for the exact
    * fallback).
    */
  def searchAdcAtRecall(q: Array[Double], k: Int, minRecall: Double,
      tier: String = QuantTier.Pq): (DataFrame, Int) = {
    model.adcTier(tier)
    val kk = math.max(1, k)
    coarseNForRecall(minRecall, kk, tier).map(math.max(_, kk)) match {
      case Some(n) => (searchTwoStage(tier, q, kk, coarseN = n), n)
      case None => (search(q, kk, maxDepth), -1)
    }
  }

  private def dropResident(): Unit = {
    resident.foreach(_.df.unpersist())
    resident = None
  }
}

object QuantIndex {

  /** (id, embedding, sq8, i4, pq, sig, pqr, cell) from raw
    * (id, embedding) rows. `sig` is the 1-bit sign signature (binary
    * quantization, 32× smaller than float32) — parameterless, so it
    * needs nothing from the trained model. `i4` is the nibble-packed
    * top-4-bits truncation of the SQ8 codes (8× smaller than float32).
    * `pqr` is the residual-PQ code against the row's coarse cell (the
    * FAISS IVFPQ encoding).
    */
  private def encode(df: DataFrame, model: QuantModel,
                     idCol: String, embCol: String): DataFrame = {
    import QuantTier._
    val tiers = model.cfg.tiers
    var out = df
      .select(col(idCol).cast("long").as("id"), col(embCol).as("embedding"))
    // Each tier's encode pass and stored column exists only when
    // SELECTED (r13 verdict task #1: an unused tier at 100 TB is a
    // full corpus encode plus a permanent column). `cell` is always
    // present — it is the partition column.
    if (tiers(Sq8))
      out = out.withColumn("sq8", model.sq8Col(col("embedding")))
    if (tiers(Int4)) // i4 derives from the SQ8 grid; when sq8 itself
      out = out.withColumn("i4", VF.nibblePack( // is unselected the
        if (tiers(Sq8)) col("sq8") // codes are computed transiently
        else model.sq8Col(col("embedding")))) // and never stored
    if (tiers(Pq))
      out = out.withColumn("pq", model.pqCol(col("embedding")))
    if (tiers(Bitq))
      out = out.withColumn("sig", VF.signPack(col("embedding")))
    out = out.withColumn("cell", model.ivfCellCol(col("embedding")))
    if (tiers(Pqr))
      out = out.withColumn("pqr", model.pqrCol(col("embedding"), col("cell")))
    if (tiers(Opq) && model.opqEnabled)
      out = out.withColumn("opq", model.opqCol(col("embedding")))
    out
  }

  /** Train the quantizers (one distributed stats pass + a bounded
    * driver sample for PQ), encode every vector once, and write the
    * cell-partitioned index. Rows are sorted by id within cells so the
    * re-rank's id pushdown can skip row groups.
    */
  def build(spark: SparkSession, df: DataFrame, path: String,
            cfg: QuantConfig = QuantConfig(),
            idCol: String = "id", embCol: String = "embedding"): QuantIndex = {
    val t0 = System.nanoTime()
    val model = QuantModel.train(df, cfg, idCol, embCol)
    val t1 = System.nanoTime()
    IndexTable.create(spark, path, encode(df, model, idCol, embCol),
      layoutOf(model))
    val t2 = System.nanoTime()
    lastBuild = Seq("train" -> (t1 - t0) / 1e9, "encode" -> (t2 - t1) / 1e9)
    model.save(s"$path/_quant_model.json")
    new QuantIndex(spark, path, model)
  }

  @volatile private var lastBuild: Seq[(String, Double)] = Seq.empty

  /** Phase decomposition of the most recent [[build]] in this JVM
    * (bench telemetry): `train` = the driver-side model fit (stats
    * pass + k-means/OPQ over the bounded sample), `encode` = the
    * distributed encode + partitioned write + first log commit.
    * Attributes a build-cost move to the phase that caused it (r13
    * verdict task #1).
    */
  def lastBuildPhases: Seq[(String, Double)] = lastBuild

  @volatile private[store] var lastMaint: Option[MaintenanceReport] = None

  /** The most recent [[QuantIndex.maintain]] report in this JVM (bench
    * telemetry, the [[lastBuildPhases]] convention): what the policy
    * decided — compaction scope, audit measurement, retrain — so the
    * round report can surface maintenance decisions as numbers.
    */
  def lastMaintenance: Option[MaintenanceReport] = lastMaint

  /** Per-column compressed bytes (MB) of an index directory, from the
    * parquet FOOTERS (metadata-only I/O): what each code tier
    * actually costs on disk. Top-level column name → summed
    * compressed size across the snapshot's live files.
    */
  def columnMb(spark: SparkSession, dataDir: String): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val files =
      if (FileLog.exists(dataDir)) FileLog.read(dataDir).files
      else FileLog.listDataFiles(spark, dataDir)
    files.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala
        .map(c => c.getPath.toDotString.split("\\.").head ->
          c.getTotalSize))
      finally r.close()
    }.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sum / 1e6 }
  }

  /** `cell` partitions with an `id` zone recorded in every commit:
    * per-file id min/max lets [[QuantIndex.exactDistPaired]]'s
    * bounded-id re-rank skip files at PLANNING time (cell pruning is
    * already structural — the partition directory). Meaningful
    * skipping needs id-RANGE-clustered files, which
    * [[QuantIndex.compact]] produces.
    */
  private def layoutOf(model: QuantModel): Layout =
    Layout(Seq("cell" -> model.cfg.ivfCells), zoneCols = Seq("id"))

  def open(spark: SparkSession, path: String): QuantIndex =
    new QuantIndex(spark, path,
      QuantModel.load(s"${currentDataDir(spark, path)}/_quant_model.json"))

  /** The data directory of the current COMPLETE snapshot: the highest
    * `path/_versions/vN` containing `_quant_model.json` (the marker [[retrain]]
    * writes last, atomically), else the flat legacy layout at `path`
    * itself (what [[build]] writes). A version directory without the
    * marker is a crashed retrain — ignored here, superseded by the
    * next retrain's higher N.
    */
  private[store] def currentDataDir(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return path
    val vroot = new org.apache.hadoop.fs.Path(s"$path/_versions")
    if (!fs.exists(vroot)) return path
    val complete = fs.listStatus(vroot).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n.matches("v\\d+") && fs.exists(
        new org.apache.hadoop.fs.Path(s"$path/_versions/$n/_quant_model.json")))
      .map(_.drop(1).toInt)
    if (complete.isEmpty) path else s"$path/_versions/v${complete.max}"
  }

  /** Next snapshot version number: one past the highest existing vN
    * directory, complete or not (a crashed retrain's orphan is never
    * reused, so a concurrent reader can't see it half-overwritten).
    */
  private[store] def nextVersion(spark: SparkSession, path: String): Int = {
    val vroot = new org.apache.hadoop.fs.Path(s"$path/_versions")
    val fs = vroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(vroot)) return 1
    val vs = fs.listStatus(vroot).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.matches("v\\d+")).map(_.drop(1).toInt)
    if (vs.isEmpty) 1 else vs.max + 1
  }

  /** Reclaim snapshots superseded by `current`, keeping any younger
    * than `graceMs` (an in-flight reader of a just-replaced snapshot
    * finishes cleanly; a reader that outlives the grace loses the race
    * as [[SnapshotVacuumedException]]-classifiable FileNotFound, never
    * as silent row loss). Covers both the flat pre-versioning layout
    * (cell dirs + model JSON in the root) and older `_versions/vN`
    * directories. `graceMs <= 0` reclaims immediately.
    */
  private[store] def sweepSupersededSnapshots(spark: SparkSession,
      path: String, current: String, graceMs: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    def expired(p: org.apache.hadoop.fs.Path): Boolean =
      graceMs <= 0L || now - fs.getFileStatus(p).getModificationTime > graceMs
    // flat layout superseded by a versioned snapshot
    if (current != path) {
      val flatModel = new org.apache.hadoop.fs.Path(s"$path/_quant_model.json")
      if (fs.exists(flatModel) && expired(flatModel)) {
        fs.listStatus(root).foreach { st =>
          if (st.isDirectory && st.getPath.getName.startsWith("cell="))
            fs.delete(st.getPath, true)
        }
        fs.delete(flatModel, false)
        graft.util.FsIo.delete(s"$path/_files.json")
        versions(spark, path) // drop the flat layout's log history too
          .foreach(v => graft.util.FsIo.delete(s"$path/_files.v$v.json"))
      }
    }
    // older versioned snapshots
    val vroot = new org.apache.hadoop.fs.Path(s"$path/_versions")
    if (fs.exists(vroot)) {
      fs.listStatus(vroot).foreach { st =>
        val p = st.getPath
        if (st.isDirectory && p.getName.matches("v\\d+") &&
            p.toUri.getPath != new org.apache.hadoop.fs.Path(current)
              .toUri.getPath &&
            expired(p))
          fs.delete(p, true)
      }
    }
  }

  private def versions(spark: SparkSession, path: String): Seq[Int] =
    FileLog.versions(spark, path)
}
