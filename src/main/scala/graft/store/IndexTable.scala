package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * @param zoneCols columns whose per-file min/max every commit records,
  *   next to each new file's row count (both from the one footer pass
  *   after the write, [[FileLog.write]]).
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
  * [[FileLog]], every read-modify-write mutation, compaction, the one
  * search definition, and the measured recall knob: the probe-depth
  * audit, the depth certification and the recall-targeted search.
  *
  * The store contract is three members: a store declares its
  * [[Layout]], its `encode` (input rows to stored rows) and its full
  * probe ranking `probeOrder(q)` (grid codes, best first). The search
  * rule is defined here once from them: a depth-p search reads the
  * first p codes of the ranking, or one full copy at `maxDepth`
  * (`probedCells`), and takes an exact top-k over those cells' rows.
  * The DataFrame [[search]], its partition filter [[pruneFilter]], the
  * executed [[topK]] and the recall audit ([[auditFrame]]) all read
  * that one probe set. A ×L layout may also override `auditDepth`.
  *
  * Every committed snapshot reads through one log-backed file index
  * ([[graft.sources.GraftLogFileIndex]]): file list, sizes and
  * partition values come from the log, so resolving a snapshot stats
  * no file and starts no listing job. Reads go through a memo of the
  * newest committed snapshots, keyed on (schema, file list): each entry
  * holds the snapshot's frame and, once searched, its prepared scan
  * ([[PreparedScan]]), which [[topK]] executes without planning. The
  * scan's parquet reader is planned once per table schema and reused by
  * every later snapshot, which only groups its logged files by cell. A
  * commit changes the file list, so the next read misses and the old
  * entries age out.
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
    * before its first batch) falls back to the directory scan. A
    * layout holding a resident copy ([[residentSnap]]) reads that.
    */
  def indexDf: DataFrame = residentSnap.fold(logDf)(_.df)

  protected def logDf: DataFrame = logSnap.df

  private def logSnap: Snap =
    if (!FileLog.exists(tableDir)) new Snap(spark.read.parquet(tableDir))
    else snapOf(FileLog.read(tableDir))

  /** A snapshot's frame and, built on its first [[topK]], its prepared
    * scan: a logged snapshot's files through the table's reader
    * ([[readerFor]]), anything else planned on its own. The lazy val
    * builds at most once per snapshot even when concurrent searches
    * miss together.
    */
  protected final class Snap(val df: DataFrame,
      index: Option[graft.sources.GraftLogFileIndex] = None) {
    lazy val scan: PreparedScan = index
      .flatMap(ix => readerFor(ix, df)
        .flatMap(PreparedScan.over(_, ix.partitionedFiles, layout)))
      .getOrElse(PreparedScan(df, layout))
  }

  // The parquet reader planned for the table's schema (the nullable
  // logged schema and the partition columns), with that key: planned on
  // the first search of a snapshot and reused until a commit changes
  // the schema. Cells are parsed with the current layout.
  private var reader: Option[((StructType, StructType),
    Option[PreparedScan.Reader])] = None

  private def readerFor(ix: graft.sources.GraftLogFileIndex,
      df: DataFrame): Option[PreparedScan.Reader] = synchronized {
    val key = (ix.dataSchema, ix.partitionSchema)
    reader match {
      case Some((k, r)) if k == key => r
      case _ =>
        val r = PreparedScan.reader(df, layout)
        reader = Some(key -> r)
        r
    }
  }

  /** The in-memory copy reads serve instead of the files, if any. */
  protected def residentSnap: Option[Snap] = None

  // Snapshot memo: a snapshot's frame is resolved from the log alone
  // (no file stat, no listing job), but building it and its cell map
  // still costs per READ even at a frozen version. Keyed on (schema,
  // exact file list), so any commit misses and a re-read of the same
  // immutable snapshot hits; the newest 8 snapshots stay. Metadata
  // and plans only — no rows are cached, every search still scans.
  private val snaps =
    new java.util.LinkedHashMap[(String, Seq[String]), Snap](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Seq[String]), Snap]) =
        size > 8
    }

  protected def dfOf(st: FileLog.State): DataFrame = snapOf(st).df

  private def snapOf(st: FileLog.State): Snap = {
    def resolve(): Snap = {
      val (df, index) = graft.sources.GraftLogFileIndex.snapshot(spark, tableDir, st)
      new Snap(df, index)
    }
    if (st.files.isEmpty || st.schemaDdl.isEmpty) resolve()
    else snaps.synchronized {
      snaps.computeIfAbsent((st.schemaDdl, st.files), _ => resolve())
    }
  }

  /** Snapshots whose frame (and prepared scan) the memo holds. */
  private[graft] def cachedSnapshots: Int = snaps.synchronized(snaps.size)

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
    * ([[FileLog.append]]), so two appends both land. A directory
    * with data but no log is adopted: the first `add` seeds the log
    * with the physical listing, so pre-existing rows stay live.
    */
  def add(df: DataFrame, idCol: String = "id", embCol: String = "embedding",
          batchId: Option[Long] = None): Unit = {
    val out = GridPart.exactRange(encode(df, idCol, embCol),
      layout.gridSize, layout.gridKey)
    FileLog.append(spark, tableDir, out.schema, layout.zoneCols,
      batchId.getOrElse(-1L)) { stage =>
      out.write.mode("overwrite").partitionBy(layout.partCols: _*).parquet(stage)
    }.foreach(_ => committed(dataChange = true))
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
    val written = rewrite(remaining, affected)
    val retired = retiredBy(log, affected)
    FileLog.rewrite(spark, tableDir, log, retired.toSet, written, log.schemaDdl)
    committed(dataChange = true)
    // logged row counts replace the before/remaining count() jobs
    (FileLog.fileRows(spark, log, retired).values.sum - written.totalRows) /
      layout.copies
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
    FileLog.rewrite(spark, tableDir, log, retiredBy(log, affected).toSet,
      rewrite(existing.unionByName(incoming), affected), log.schemaDdl)
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
    * Sizing comes from the row counts the log recorded
    * ([[FileLog.fileRows]], no Spark job); an adopted layout whose
    * paths do not parse falls back to a count scan. One file per
    * partition goes through [[GridPart]]'s
    * exact partition→task mapping; more split by (partition, id) range.
    * Returns the number of files written, None when there were no rows.
    */
  protected def compactCells(log: FileLog.State, rows: DataFrame,
      files: Seq[String], cells: Option[Seq[Int]], targetRowsPerFile: Long,
      vacuumGraceMs: Long): Option[Long] = {
    val perFile = FileLog.fileRows(spark, log, files).toSeq
      .map { case (f, n) => layout.cellOf(f) -> n }
    val maxRows =
      if (perFile.isEmpty) 0L
      else if (perFile.forall(_._1.nonEmpty))
        perFile.groupMapReduce(_._1)(_._2)(_ + _).values.max
      else {
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
    val written = sortedWrite(shaped)
    FileLog.rewrite(spark, tableDir, log, files.toSet, written, log.schemaDdl,
      dataChange = false, // same rows, new files
      readSet = cells.map(_ => files.toSet))
    FileLog.vacuum(spark, tableDir, retainLast = 1, graceMs = vacuumGraceMs)
    committed(dataChange = false)
    Some(written.files.size.toLong)
  }

  /** Rewrite the given partitions' rows: one writer task per partition. */
  private def rewrite(rows: DataFrame, cells: Seq[Int]): FileLog.Written =
    sortedWrite(GridPart.exact(rows, cells, layout.gridKey))

  private def sortedWrite(shaped: DataFrame): FileLog.Written =
    FileLog.write(spark, tableDir, layout.zoneCols) { stage =>
      shaped.sortWithinPartitions(layout.sortCols: _*)
        .write.mode("overwrite").partitionBy(layout.partCols: _*).parquet(stage)
    }

  private def retiredBy(log: FileLog.State, cells: Seq[Int]): Seq[String] = {
    val hit = cells.toSet
    log.files.filter(f => layout.cellOf(f).exists(hit))
  }

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

  // ------------------------------------------------------ search

  /** The query's full probe ranking (grid codes, best first). Every
    * search reads a prefix of it ([[probedCells]]), so it must be
    * prefix-stable: the ranking cut at p equals the first p codes of
    * the full one.
    */
  protected def probeOrder(q: Array[Double]): Seq[Int]

  /** Probe depth that makes [[search]] exact: every grid cell. */
  def maxDepth: Int = layout.gridSize

  /** Depths the recall audit measures, 1..auditDepth. A layout whose
    * informed ranking never reaches every partition audits a prefix.
    */
  protected def auditDepth: Int = maxDepth

  /** Grid codes a depth-`depth` search reads: the first max(1, depth)
    * codes of [[probeOrder]]; at `depth >= maxDepth` one full copy of
    * the corpus (every cell, or table 0 on the ×L layout).
    */
  private def probedCells(q: Array[Double], depth: Int): Seq[Int] =
    if (depth >= maxDepth) 0 until layout.gridSize / layout.copies
    else probeOrder(q).take(math.max(1, depth))

  /** A depth-probed search's candidates probe more than one copy of a
    * ×L vector, so they keep one row per id.
    */
  private def dedup(depth: Int): Boolean =
    layout.copies > 1 && depth < maxDepth

  /** Partition filter selecting the cells a depth-`depth` search reads
    * ([[probedCells]]), so the scan prunes every other partition at
    * planning time; no filter when every cell is read.
    */
  def pruneFilter(q: Array[Double], depth: Int): Column = {
    val cells = probedCells(q, depth)
    if (cells.size == layout.gridSize) lit(true) else layout.filter(cells)
  }

  /** kNN over the cells of [[probedCells]]: the `(id, dist)` top-k by
    * squared L2, ties by id; exact at `depth >= maxDepth`. `filter`
    * restricts the search to matching rows (metadata-filtered vector
    * search); it lands in the scan next to the partition pruning and
    * applies before the ×L id dedup, so it narrows IO, not post-hoc
    * results.
    */
  def search(q: Array[Double], k: Int, depth: Int,
      filter: Column = lit(true)): DataFrame = {
    val rows = indexDf.where(pruneFilter(q, depth)).where(filter)
    VectorStore.searchIn(
      if (dedup(depth)) rows.select("id", "embedding").dropDuplicates("id")
      else rows, q, k)
  }

  /** [[search]] executed: the same (id, dist) rows in the same order,
    * with bit-identical distances, as `search(q, k, depth).collect()`.
    *
    * The scan of each committed snapshot is planned once and kept with
    * the snapshot in the memo ([[PreparedScan]]); a search then runs
    * one Spark job over only its probed cells — no Catalyst pass, no
    * SQL execution. Any commit changes the file list, so the next
    * search reads the new log, misses the memo and plans the new
    * snapshot once; a stale plan is never served. The log is resolved
    * once per call, and a scan that loses its files to a vacuum
    * surfaces as [[SnapshotVacuumedException]] ([[topKAt]]).
    */
  def topK(q: Array[Double], k: Int, depth: Int): Array[(Long, Double)] =
    residentSnap match {
      case Some(snap) => classified(topKIn(snap, q, k, depth))
      case None if FileLog.exists(tableDir) =>
        topKAt(FileLog.read(tableDir), q, k, depth)
      case None => topKIn(logSnap, q, k, depth)
    }

  /** [[topK]] over a pinned snapshot (a reader that resolved `st` and
    * scans it later, e.g. to race a vacuum), its failures classified
    * against `st`'s version ([[FileLog.classifyReadFailure]]).
    */
  private[graft] def topKAt(st: FileLog.State, q: Array[Double], k: Int,
      depth: Int): Array[(Long, Double)] =
    try topKIn(snapOf(st), q, k, depth)
    catch { case e: Throwable =>
      throw FileLog.classifyReadFailure(tableDir, st.version, e) }

  private def topKIn(snap: Snap, q: Array[Double], k: Int,
      depth: Int): Array[(Long, Double)] =
    snap.scan.topK(q, math.max(1, k), probedCells(q, depth), dedup(depth))

  /** Distinct stored vectors: the snapshot's logged row counts over the
    * layout's copies, read from the log without a Spark job. A
    * directory with no log is counted by a job.
    */
  def numVectors(): Long =
    if (!FileLog.exists(tableDir)) logDf.count() / layout.copies
    else {
      val st = FileLog.read(tableDir)
      FileLog.fileRows(spark, st, st.files).values.sum / layout.copies
    }

  // ------------------------------------------ recall-targeted search

  /** Measure the recall-vs-depth curve over a query panel and persist
    * it next to the snapshot (`_recall_curve.json`): curve(p) = mean
    * recall@k of depth-p [[search]] vs exact, p = 1..auditDepth. This
    * is the reference's claimed-but-never-implemented "latency vs
    * recall tradeoffs" knob (`Readme.md:19`) made real, stored where
    * [[searchAtRecall]] can act on it. ONE corpus scan whatever the
    * depth count ([[auditFrame]]); any data change drops the curve.
    */
  def auditRecallCurve(panel: Seq[Array[Double]], k: Int = 10): Seq[Double] = {
    val kk = math.max(1, k)
    val curve = recallAt(panel, kk, 1 to auditDepth)
    RecallCurves.write(recallCurvePath,
      RecallCurves.Curve(kk, panel.size, Nil, curve))
    curve
  }

  /** Smallest depth whose MEASURED recall@k meets the target, by the
    * one certification rule ([[RecallCurves.certifiedDepth]]): None
    * when no curve is persisted, the curve was audited at another k,
    * or no measured point reaches the target.
    */
  def depthForRecall(minRecall: Double, k: Int): Option[Int] =
    RecallCurves.certifiedDepth(RecallCurves.read(recallCurvePath),
      math.max(1, k), minRecall)

  /** Recall-targeted kNN: the depth comes from [[depthForRecall]];
    * with no certified depth the search runs exact (never
    * under-deliver).
    */
  def searchAtRecall(q: Array[Double], k: Int, minRecall: Double): DataFrame = {
    val kk = math.max(1, k)
    search(q, kk, depthForRecall(minRecall, kk).getOrElse(maxDepth))
  }

  /** Mean recall@k of [[search]] at each of `depths` over a panel. */
  protected def recallAt(panel: Seq[Array[Double]], k: Int,
      depths: Seq[Int]): Seq[Double] = {
    val row = auditFrame(panel, k, depths).head
    depths.indices.map(row.getDouble)
  }

  /** Mean recall@k of depth-probed search per depth over a query
    * panel, in ONE corpus scan, as a frame (one row, one average per
    * depth) whose plan can be dumped and checked: the panel broadcasts
    * into the scan with each query's full [[probeOrder]] (grid codes,
    * of which every depth-p probe list is a prefix), and
    * [[RecallCurves.recallByDepth]] aggregates every depth over the
    * same pass.
    */
  private[graft] def auditFrame(panel: Seq[Array[Double]], k: Int,
      depths: Seq[Int] = 1 to auditDepth): DataFrame = {
    require(panel.nonEmpty, "empty audit panel")
    val sess = spark
    import sess.implicits._
    val pdf = panel.zipWithIndex.map { case (q, i) =>
      (i.toLong, q.toSeq, probeOrder(q).toArray)
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
    val w = FileLog.listed(spark, FileLog.dataFiles(spark, dir),
      layout.zoneCols)
    FileLog.commit(spark, dir, w.files, rows.schema.toDDL,
      zones = w.zones, rows = w.rows, sizes = w.sizes)
  }
}
