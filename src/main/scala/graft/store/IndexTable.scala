package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.FsIo

/** The partition layout of an index table: its partition columns with
  * their sizes, outermost first (`bucket`/numBuckets; `table`,`bucket`/
  * L×2^k; `cell`/ivfCells). Everything the mutation kernel needs to
  * know about placement derives from it: the row-major grid code that
  * [[GridPart]] maps one writer task per partition, the parser from a
  * data file's path to that code, and the partition filter.
  *
  * @param copies   stored rows per logical vector (the ×L multi-table
  *   layout writes each vector once per table); delete counts divide by it.
  * @param zoneCols columns whose per-file min/max is recorded in every
  *   commit; empty means no footer pass at commit time.
  */
private[store] final case class Layout(parts: Seq[(String, Int)],
    copies: Int = 1, zoneCols: Seq[String] = Nil) {

  val partCols: Seq[String] = parts.map(_._1)

  /** Builds and rewrites sort each file by these. */
  val sortCols: Seq[Column] = (partCols :+ "id").map(col)

  val gridSize: Int = parts.map(_._2).product

  /** Row-major grid code over the partition columns. */
  val gridKey: Column = parts.tail.foldLeft(col(partCols.head).cast("int")) {
    case (acc, (c, n)) => acc * lit(n) + col(c).cast("int")
  }

  private val fileRe = partCols.map(c => s"/$c=(-?\\d+)").mkString("", "", "/").r

  /** Grid code of a data file, from its partition directories; None
    * for a path outside the layout (an adopted flat directory).
    */
  def cellOf(file: String): Option[Int] =
    fileRe.findFirstMatchIn(file).map { m =>
      parts.indices.foldLeft(0)((acc, i) => acc * parts(i)._2 + m.group(i + 1).toInt)
    }

  /** Rows of the given grid cells — a partition filter, so the scan
    * prunes every other partition at planning time.
    */
  def filter(cells: Seq[Int]): Column = gridKey.isin(cells.map(Int.box): _*)
}

/** The versioned index table under every store layout ([[VectorStore]],
  * [[MultiTableStore]], [[QuantIndex]]): snapshot reads through the
  * [[FileLog]], every read-modify-write mutation, compaction and the
  * measured recall-curve sidecar. A store declares its [[Layout]] and
  * its `encode` and keeps only its search tiers and audits.
  *
  * One write policy holds for every layout: appends do not sort;
  * builds and rewrites sort each file by (partition columns, id), so
  * id pushdown can skip row groups; compaction that needs several
  * files per partition splits by (partition, id) range, so each file
  * owns a contiguous id range and its commit zone stays tight.
  */
abstract class IndexTable(spark: SparkSession,
    protected[store] val tableDir: String) {

  protected def layout: Layout

  /** (id, embedding, …) input rows → stored rows with the layout's
    * partition columns. Columns other than id and embedding ride along
    * when the layout keeps them.
    */
  protected def encode(df: DataFrame, idCol: String, embCol: String): DataFrame

  /** Runs after every commit this table makes; `dataChange` is false
    * for compaction (same rows, new files).
    */
  protected def afterCommit(dataChange: Boolean): Unit = ()

  // ------------------------------------------------ snapshot reads

  /** The live index, read through the [[FileLog]]: the file list is
    * resolved from `_files.json` once per call, so every scan sees a
    * COMMITTED snapshot — a concurrent mutation flips readers from the
    * pre-state to the post-state atomically, never a half-replaced
    * partition. An empty index reads back as an empty frame with its
    * recorded schema. A bare path with no log yet (a streaming sink
    * before its first batch) falls back to the directory scan.
    */
  def indexDf: DataFrame = logDf

  protected def logDf: DataFrame =
    if (!FileLog.exists(tableDir)) spark.read.parquet(tableDir)
    else dfOf(FileLog.read(tableDir))

  // Relation memo: resolving a snapshot's frame costs a fixed
  // file-stat pass (a Spark job once the snapshot holds >32 files)
  // plus analysis, paid per READ even at a frozen version. Keyed on
  // (schema, exact file list), so any commit misses and a re-read of
  // the same immutable snapshot hits. Metadata-only — no rows are
  // cached, every action still scans parquet.
  private val relMemo =
    new java.util.LinkedHashMap[(String, Seq[String]), DataFrame](
      8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Seq[String]), DataFrame]) =
        size > 8
    }

  protected def dfOf(st: FileLog.State): DataFrame =
    if (st.files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(st.schemaDdl))
    // The log already knows the schema (captured from the writing
    // frame at commit time) — passing it skips the per-read parquet
    // schema-inference pass; a log without one still infers.
    else if (st.schemaDdl.isEmpty)
      spark.read.option("basePath", tableDir).parquet(st.files: _*)
    else relMemo.synchronized {
      relMemo.computeIfAbsent((st.schemaDdl, st.files), _ =>
        spark.read
          .schema(org.apache.spark.sql.types.StructType.fromDDL(st.schemaDdl))
          .option("basePath", tableDir).parquet(st.files: _*))
    }

  /** Pinned snapshot for a read-modify-write mutation: (state, frame
    * over exactly that state's files). A directory with data but no
    * log (built by pre-FileLog code) is ADOPTED — its physical listing
    * becomes the base file set at version 0, so the mutation's commit
    * carries the pre-existing rows forward instead of dropping them.
    */
  protected def pinned(): (FileLog.State, DataFrame) =
    if (FileLog.exists(tableDir)) {
      val st = FileLog.read(tableDir)
      (st, dfOf(st))
    } else {
      val phys = FileLog.listDataFiles(spark, tableDir)
      val df = spark.read.option("basePath", tableDir).parquet(tableDir)
      (FileLog.State(phys, df.schema.toDDL, version = 0), df)
    }

  /** Run an eager action over this table's frames with vacuum-race
    * classification ([[FileLog.classified]]): a FileNotFound whose
    * snapshot was vacuumed mid-scan surfaces as the typed
    * [[SnapshotVacuumedException]] instead of the raw error — wrap
    * collects/counts over frames this table returned in it.
    */
  def classified[T](body: => T): T = FileLog.classified(tableDir)(body)

  // ------------------------------------------------------ mutations

  /** Append vectors: new data files land first, then one atomic log
    * commit publishes them — readers see none or all of the batch.
    *
    * The append is exchanged onto the partition grid, one writer task
    * per partition ([[GridPart]]): a wide input then writes at most one
    * file per partition, and a narrow micro-batch still writes its
    * partitions in parallel instead of one after another in one task.
    *
    * `batchId` is the exactly-once handle for streaming sinks: pass
    * the foreachBatch batch id and a REPLAYED batch (crash between
    * `add` and the stream's checkpoint commit) is a no-op instead of a
    * duplicate append — the committed log carries the highest folded
    * batch id, and `add` declines any batch at or below it. A crash
    * between the data write and the log commit leaves orphan files
    * outside the log (never read, reclaimed by vacuum).
    *
    * Concurrent `add`s are safe: the commit is a read-merge-CAS loop
    * ([[FileLog.transact]]), so two appends both land. A directory
    * with data but no log is adopted: the first `add` seeds the log
    * with the physical listing, so pre-existing rows stay live.
    */
  def add(df: DataFrame, idCol: String = "id", embCol: String = "embedding",
          batchId: Option[Long] = None): Unit = {
    val bid = batchId.getOrElse(-1L)
    if (bid >= 0 && FileLog.exists(tableDir) &&
        FileLog.read(tableDir).batchId >= bid)
      return // replayed batch: already committed
    val out = GridPart.exactRange(encode(df, idCol, embCol),
      layout.gridSize, layout.gridKey)
    val created = FileLog.stagedWrite(spark, tableDir, stage =>
      out.write.mode("overwrite").partitionBy(layout.partCols: _*).parquet(stage))
    val zones = zonesOf(created)
    FileLog.transact(spark, tableDir) { cur =>
      val curBid = cur.map(_.batchId).getOrElse(-1L)
      if (bid >= 0 && curBid >= bid) None // replay raced in: decline
      else Some(FileLog.Commit(
        // unlogged non-empty dir: adopt its physical listing (the
        // staged files are outside it by construction)
        cur.map(_.files).getOrElse(
          FileLog.listDataFiles(spark, tableDir).filterNot(created.toSet))
          ++ created,
        out.schema.toDDL, math.max(bid, curBid),
        cur.map(_.zones).getOrElse(Map.empty) ++ zones,
        cur.map(_.rows).getOrElse(Map.empty)))
    }
    committed(dataChange = true)
  }

  /** Delete vectors by id, rewriting ONLY the partitions that contain
    * them. Returns the number of vectors removed.
    */
  def delete(ids: Seq[Long]): Long = {
    if (ids.isEmpty) return 0L
    val sess = spark
    import sess.implicits._
    delete(spark.createDataset(ids).toDF("id"), "id")
  }

  /** Distributed delete: the ids arrive as a DataFrame COLUMN and
    * never transit the driver — a semi-join finds the affected
    * partitions and an anti-join rewrites them; only partition codes,
    * bounded by the grid size, are collected. The Seq overload is
    * sugar over this.
    */
  def delete(delDf: DataFrame, idCol: String): Long =
    deleteUnique(delDf.select(col(idCol).cast("long").as("id")).distinct()
      .localCheckpoint(true), "id") // scanned twice: semi-join, anti-join

  /** [[delete]] for an id frame the caller guarantees DISTINCT and
    * cheap to rescan (a projection of an already-checkpointed frame,
    * e.g. [[applyChanges]]'s net deletes) — skips the distinct
    * exchange + checkpoint job the general path pays per sync.
    *
    * The rewrite APPENDS replacement files and retires the affected
    * partitions' old files in one atomic log commit: readers see the
    * pre- or post-delete index, never a partition mid-replacement (old
    * files stay on disk for in-flight readers until [[compact]]'s
    * vacuum). An append racing the delete merges (the delete applies
    * to the snapshot it read); a conflicting rewrite fails loudly.
    */
  private[store] def deleteUnique(delDf: DataFrame, idCol: String): Long = {
    val ids = delDf.select(col(idCol).cast("long").as("id"))
    val (log, cur) = pinned()
    val affected = cur.join(ids, Seq("id"), "left_semi")
      .select(layout.gridKey).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (affected.isEmpty) return 0L
    val remaining = cur.where(layout.filter(affected))
      .join(ids, Seq("id"), "left_anti")
    val created = rewrite(remaining, affected)
    val retired = retiredBy(log, affected)
    // the created files' footers are opened ONCE: zones for the commit
    // and the post-state row count — footer metadata replaces the
    // before/remaining count() jobs
    val stats = graft.sources.ManifestScan.statsOf(spark,
      created.map(new Path(_)), layout.zoneCols)
    FileLog.commitRewrite(spark, tableDir, log, retired.toSet, created,
      log.schemaDdl, addedZones =
        if (layout.zoneCols.isEmpty) Map.empty
        else stats.map(e => e.path -> e.zones).toMap)
    committed(dataChange = true)
    (FileLog.footerRows(spark, retired) - stats.map(_.rows).sum) / layout.copies
  }

  /** Upsert (id, embedding [, metadata…]) rows: replaces existing ids,
    * inserts new ones, in ONE commit. Fully distributed — ids never
    * leave the cluster: the rewrite set is every partition receiving a
    * new row PLUS every partition holding a prior row of an incoming
    * id (found with a left-semi join, covering ids whose new embedding
    * moves them); existing rows of those partitions are anti-joined
    * against the batch and unioned with it. A batch holding an id
    * twice keeps one row: with `seqCol` the highest sequence value
    * wins, else the last occurrence ([[Dedup.lastWins]]).
    */
  def upsert(df: DataFrame, idCol: String = "id",
             embCol: String = "embedding",
             seqCol: Option[String] = None): Unit =
    upsertUnique(Dedup.lastWins(df, idCol, seqCol).localCheckpoint(true),
      idCol, embCol)

  /** [[upsert]] for a batch the CALLER guarantees id-unique and cheap
    * to rescan (the net-action frame of [[applyChanges]], a projection
    * of FeedSync's checkpointed reduction) — skips the in-batch
    * last-wins window; the two jobs that scan the batch recompute the
    * encode projection instead of paying a materialization job.
    */
  private[store] def upsertUnique(df: DataFrame, idCol: String,
      embCol: String): Unit = {
    val incoming = encode(df, idCol, embCol)
    val (log, cur) = pinned()
    val priorCells = cur.select(col("id"), layout.gridKey.as("g"))
      .join(incoming.select("id"), Seq("id"), "left_semi")
      .select(col("g"))
    val affected = incoming.select(layout.gridKey.as("g")).union(priorCells)
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val existing = cur.where(layout.filter(affected))
      .join(incoming.select("id"), Seq("id"), "left_anti")
    // a partition fully emptied by moved-away ids simply publishes no
    // files; appends racing the rewrite merge (see deleteUnique)
    val created = rewrite(existing.unionByName(incoming), affected)
    FileLog.commitRewrite(spark, tableDir, log, retiredBy(log, affected).toSet,
      created, log.schemaDdl, addedZones = zonesOf(created))
    committed(dataChange = true)
  }

  /** Apply a relational table's CHANGE FEED
    * ([[graft.sources.ManifestScan.changes]]) to this index: the feed
    * is reduced to each id's NET action ([[FeedSync]]), net inserts
    * apply as one [[upsert]] commit and net deletes as one [[delete]]
    * commit, so replaying a window is idempotent. Returns
    * (idsUpserted, idsDeleted).
    */
  def applyChanges(feed: DataFrame, idCol: String = "id",
      embCol: String = "embedding"): (Long, Long) = {
    // ONE aggregate yields both counts; net inserts are id-unique by
    // construction, so the upsert skips its in-batch dedup window.
    // Zero-delete windows (the common streaming case) skip the
    // distributed-delete machinery.
    val (ups, dels, nUp, nDelIds) = FeedSync.netWithCounts(feed, idCol, embCol)
    if (nUp > 0) upsertUnique(ups, idCol, embCol)
    val nDel = if (nDelIds == 0L) 0L else deleteUnique(dels, idCol)
    (nUp, nDel)
  }

  /** Compact the table's data files. Every append writes at least one
    * file per touched partition, so a long-lived index accumulates
    * small files and scan setup starts to dominate. Rewrites each
    * partition into ceil(partitionRows / targetRowsPerFile) files,
    * id-sorted; results are unchanged. The retired files are vacuumed
    * once older than `vacuumGraceMs`, so an in-flight reader of a
    * recent snapshot finishes cleanly (pass 0 to reclaim at once).
    * Returns (dataFilesBefore, dataFilesAfter).
    */
  def compact(targetRowsPerFile: Long = 1 << 20,
              vacuumGraceMs: Long = FileLog.DefaultVacuumGraceMs): (Long, Long) = {
    val (log, df) = pinned()
    val before = log.files.size.toLong
    val after = compactCells(log, df, log.files, None, targetRowsPerFile,
      vacuumGraceMs)
    (before, after.getOrElse(before))
  }

  /** Rewrite `files` (all of `rows`, pinned at `log`) into compacted
    * files. `cells` = None compacts the whole grid against the whole
    * snapshot; Some(cells) is a region-scoped pass whose declared read
    * set is exactly `files`, so a concurrent rewrite elsewhere merges.
    * Sizing comes from parquet FOOTER row counts (driver-side, no Spark
    * job); an adopted layout whose paths do not parse falls back to a
    * count scan. One file per partition goes through [[GridPart]]'s
    * exact partition→task mapping; more split by (partition, id) range.
    * Returns the number of files written, None when there were no rows.
    */
  protected def compactCells(log: FileLog.State, rows: DataFrame,
      files: Seq[String], cells: Option[Seq[Int]], targetRowsPerFile: Long,
      vacuumGraceMs: Long): Option[Long] = {
    val maxRows = FileLog.maxGroupRows(spark, files, layout.cellOf).getOrElse {
      val m = rows.groupBy(layout.gridKey).count().agg(max("count")).head
      if (m.isNullAt(0)) 0L else m.getLong(0)
    }
    // zero rows (incl. an empty log) — writing would replace the index
    // with an empty layout
    if (maxRows == 0L) return None
    val perCell = math.max(1L, (maxRows + targetRowsPerFile - 1) / targetRowsPerFile)
    // A range split keeps each file's id zone tight, where a hash split
    // would spread every file over the whole id range. With one file
    // per partition a range bound could straddle two partitions and
    // write a second file into one of them, so that case maps each
    // partition to its own task instead.
    val shaped =
      if (perCell == 1L) cells match {
        case None => GridPart.exactRange(rows, layout.gridSize, layout.gridKey)
        case Some(cs) => GridPart.exact(rows, cs, layout.gridKey)
      }
      else rows.repartitionByRange( // bounded Long math: no Int overflow
        math.min(cells.fold(layout.gridSize)(_.size) * perCell,
          Int.MaxValue.toLong).toInt, layout.sortCols: _*)
    val created = sortedWrite(shaped)
    FileLog.commitRewrite(spark, tableDir, log, files.toSet, created,
      log.schemaDdl, addedZones = zonesOf(created),
      dataChange = false, // same rows, new files
      readSet = cells.map(_ => files.toSet))
    FileLog.vacuum(spark, tableDir, retainLast = 1, graceMs = vacuumGraceMs)
    committed(dataChange = false)
    Some(created.size.toLong)
  }

  /** Rewrite the given partitions' rows: one writer task per partition. */
  private def rewrite(rows: DataFrame, cells: Seq[Int]): Seq[String] =
    sortedWrite(GridPart.exact(rows, cells, layout.gridKey))

  private def sortedWrite(shaped: DataFrame): Seq[String] =
    FileLog.stagedWrite(spark, tableDir, stage =>
      shaped.sortWithinPartitions(layout.sortCols: _*)
        .write.mode("overwrite").partitionBy(layout.partCols: _*).parquet(stage))

  private def retiredBy(log: FileLog.State, cells: Seq[Int]): Seq[String] = {
    val hit = cells.toSet
    log.files.filter(f => layout.cellOf(f).exists(hit))
  }

  private def zonesOf(files: Seq[String]): Map[String, Map[String, Zone]] =
    IndexTable.zonesOf(spark, files, layout)

  private def committed(dataChange: Boolean): Unit = {
    if (dataChange) FsIo.delete(recallCurvePath)
    afterCommit(dataChange)
  }

  // ------------------------------------------- recall-curve sidecar

  /** The measured recall-vs-depth curve lives next to the snapshot it
    * was measured on. Any data change deletes it: a stale curve would
    * turn the recall-targeted searches' "conservative by construction"
    * contract optimistic. Compaction keeps it (same rows).
    */
  protected def recallCurvePath: String = s"$tableDir/_recall_curve.json"

  /** The persisted measured curve (audited k, recall per depth 1..n),
    * if this table's recall audit has run since the last data change.
    */
  def recallCurve(): Option[(Int, Seq[Double])] =
    RecallCurves.read(recallCurvePath).map(c => (c.k, c.recall))

  protected def writeRecallCurve(k: Int, panel: Int, curve: Seq[Double]): Unit =
    RecallCurves.write(recallCurvePath, RecallCurves.Curve(k, panel, Nil, curve))

  /** Mean recall@k of partition-probed search per probe depth over a
    * query panel, in ONE corpus scan: the panel broadcasts into the
    * scan with each query's full probe ranking `order(q)` (grid codes,
    * of which every depth-p probe list is a prefix), and
    * [[RecallCurves.recallByDepth]] aggregates every depth over the
    * same pass. One row, one average per depth.
    */
  protected def probeAudit(panel: Seq[Array[Double]], k: Int, depths: Seq[Int],
      order: Array[Double] => Seq[Int]): DataFrame = {
    require(panel.nonEmpty, "empty audit panel")
    val sess = spark
    import sess.implicits._
    val pdf = panel.zipWithIndex.map { case (q, i) =>
      (i.toLong, q.toSeq, order(q).toArray)
    }.toDF("qid", "qe", "order")
    val scored = indexDf.crossJoin(broadcast(pdf))
      .select(col("qid"), col("id"),
        graft.functions.VectorFunctions.l2sq(col("embedding"), col("qe")).as("dd"),
        array_position(col("order"), layout.gridKey).as("pos"))
    // A vector stored once per table is probed when ANY copy is: dedup
    // to its smallest position BEFORE the top-k aggregates, or duplicate
    // copies of a near neighbor would eat top-k slots and make recall
    // non-monotone in depth. (array_position returns 0 when absent; the
    // when() maps that to null, which the depth filter rejects.)
    val perVector =
      if (layout.copies == 1) scored
      else scored.groupBy("qid", "id").agg(min(col("dd")).as("dd"),
        min(when(col("pos") > 0, col("pos"))).as("pos"))
    RecallCurves.recallByDepth(perVector, math.max(1, k), depths)
  }
}

private[store] object IndexTable {

  /** Build or retrain write: replace `dir` with `rows` (already
    * encoded) on the layout's grid, id-sorted, and commit the listing
    * as the log's first version.
    */
  def create(spark: SparkSession, dir: String, rows: DataFrame,
      layout: Layout): Unit = {
    GridPart.exactRange(rows, layout.gridSize, layout.gridKey)
      .sortWithinPartitions(layout.sortCols: _*)
      .write.mode("overwrite").partitionBy(layout.partCols: _*).parquet(dir)
    // overwrite cleared the directory, so the physical listing IS the
    // new live set; v1 of the log publishes it with the schema, which
    // is what lets an EMPTY build read back correctly
    val files = FileLog.listDataFiles(spark, dir)
    FileLog.commit(spark, dir, files, rows.schema.toDDL,
      zones = zonesOf(spark, files, layout))
  }

  def zonesOf(spark: SparkSession, files: Seq[String],
      layout: Layout): Map[String, Map[String, Zone]] =
    if (layout.zoneCols.isEmpty) Map.empty
    else FileLog.collectZones(spark, files, layout.zoneCols)
}
