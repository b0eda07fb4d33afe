package graft.store

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.{BinaryStatistics,
  DoubleStatistics, FloatStatistics, IntStatistics, LongStatistics}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.server.Json
import graft.util.FsIo

/** A second writer lost the commit race and its base snapshot is no
  * longer current. Mutations that REWRITE files (delete/upsert/
  * compact) cannot merge with a concurrent commit, so they surface
  * this instead of silently dropping the other writer's rows; pure
  * APPENDS retry internally and never see it.
  */
final class ConcurrentCommitException(msg: String)
  extends RuntimeException(msg)

/** A reader's pinned snapshot version was vacuumed while it was
  * running. The typed form of the FileNotFound race the r10 mutation
  * battery retried blindly: the snapshot is GONE (not torn) — re-read
  * the current version.
  */
final class SnapshotVacuumedException(msg: String, cause: Throwable)
  extends RuntimeException(msg, cause)

/** Versioned file log for the vector-store layouts — the commit layer
  * that makes raw-parquet index reads SNAPSHOT-ISOLATED.
  *
  * The round-12 concurrent-mutation battery documented (and tolerated)
  * the raw-parquet gap: dynamic partition overwrite replaces a
  * partition's files non-atomically, so a reader listing the directory
  * mid-commit either throws FileNotFound (retried) or — worse, and
  * caught intermittently by the battery — succeeds against a
  * half-replaced partition and silently under-counts. A table format
  * closes that gap, and this is its minimal core, the same shape as
  * [[graft.sources.ManifestScan]]'s versioned sidecar: every commit
  * writes an IMMUTABLE `_files.v{N}.json` holding the live file SET
  * (plus schema DDL, the streaming batch watermark, per-file row
  * counts, byte sizes and zone maps, and which live files were
  * appended rather than sealed), and `_files.json` is a convenience pointer to
  * the newest one. Readers resolve the newest version file once per
  * scan and read an immutable list — they see the pre-commit or
  * post-commit table, never a torn one; replaced files stay on disk
  * until [[vacuum]], so an in-flight reader's list stays valid (a
  * reader can only lose the race to vacuum itself, which surfaces as
  * [[SnapshotVacuumedException]], never as silent row loss).
  *
  * The log also records the index schema (DDL), so an EMPTY index —
  * a store created by a streaming sink before its first batch, or
  * fully deleted — reads back with its real schema instead of failing
  * parquet inference on a fileless directory.
  *
  * One write path: a writer stages its files and reads their footers
  * once ([[write]], yielding each new file's row count, byte size and
  * zones), then commits them as an [[append]] or a [[rewrite]]; every
  * commit kind ([[commit]], [[transact]], [[commitRewrite]]) claims its
  * version in ONE retry loop. So every commit records the row count and
  * the byte size of each file it adds, and the layout's zones next to
  * it — enough for a reader to plan a scan of the snapshot from the
  * log alone ([[graft.sources.GraftLogFileIndex]]: no file stat, no
  * directory listing).
  *
  * Concurrency contract (mirrored in README "Concurrency contract"):
  * the version file is created with a compare-and-swap
  * ([[FsIo.writeStringExclusive]] — POSIX hard-link on `file://`,
  * atomic no-overwrite rename-publish on HDFS), so two commits can
  * never both claim version N. What is safe to run concurrently:
  *
  *  - concurrent APPENDS: both land ([[transact]] read-merge-retry);
  *  - an append racing a REWRITE (delete/upsert/compact): both land —
  *    [[commitRewrite]] merges past append-only interlopers
  *    (Delta-style disjoint-file conflict detection); the rewrite
  *    applies to the snapshot it read, so a concurrently appended row
  *    with a deleted id survives (insert happened-after delete);
  *  - two concurrent REWRITES: disjoint declared read sets merge
  *    (both land — e.g. zone-pruned deletes in different partitions,
  *    via `commitRewrite(readSet = ...)`); overlapping or undeclared
  *    read sets fail loudly with [[ConcurrentCommitException]]
  *    (merging could silently drop rows); re-read and retry the
  *    whole operation;
  *  - id uniqueness is NOT enforced across concurrent writers (two
  *    appends of one id both land, like any log-structured table).
  *
  * The `_files.json` pointer is only a cache: [[read]] always prefers
  * the newest immutable version file, so a stale or mid-swap pointer
  * (two winners swapping it out of order) is harmless.
  *
  * ==Delta-action records (round 21)==
  *
  * A version file is one of two record shapes:
  *
  *  - a CHECKPOINT: the full snapshot (`files` + per-file `zones`,
  *    `rows` and `sizes`, and the `appended` files), exactly the
  *    pre-round-21 shape — every legacy log reads unchanged, and every
  *    legacy version file IS a checkpoint;
  *  - a DELTA: only the commit's CHANGES against its predecessor
  *    (`add`/`remove` file lists, changed zone/row/size/appended
  *    entries and their `*_drop` lists, the new schema/watermark) plus
  *    the version of the checkpoint its chain starts at.
  *
  * `sizes` (file → bytes) sits next to `rows` (file → row count) and
  * is optional the same way: a record without it (logs written before
  * sizes were recorded) reads fine, and its files are stat'ed once
  * when a snapshot is planned ([[fileSizes]]).
  *
  * Why: with full snapshots, every commit — including every streaming
  * micro-batch — wrote O(table-files) metadata bytes, so a long-running
  * sink's cumulative log IO was quadratic in batch count and a 10⁶-file
  * table paid ~100 MB of JSON per commit (the r14 verdict's one
  * remaining scale-killer). With deltas, a commit writes O(batch)
  * bytes; a full checkpoint is still written every
  * [[checkpointInterval]] commits (and whenever a delta would not be
  * smaller, e.g. whole-table rewrites and tiny tables), bounding a
  * read's materialization at one checkpoint + < interval delta files —
  * the Delta-log `_last_checkpoint` + action-suffix shape. CAS
  * semantics, the grace window, time travel, the `dataChange` flag and
  * batch-id watermarks are unchanged: the record SHAPE changed, not the
  * commit protocol.
  */
object FileLog {

  /** Commits between full checkpoints (and the upper bound on the
    * number of files a cold [[read]] materializes through). Tunable
    * for soak tests via `-Dgraft.log.checkpointInterval=N`.
    */
  def checkpointInterval: Int =
    sys.props.get("graft.log.checkpointInterval").map(_.toInt)
      .filter(_ >= 1).getOrElse(20)

  /** Default vacuum grace: retired files and superseded version logs
    * younger than this survive reclamation, so in-flight readers of a
    * recently replaced snapshot finish cleanly (a reader that outlives
    * the grace gets [[SnapshotVacuumedException]]). Tests that assert
    * physical reclamation pass 0 explicitly.
    */
  val DefaultVacuumGraceMs: Long = 10L * 60 * 1000

  /** A committed snapshot.
    *
    * @param files     live data files (the table IS this list)
    * @param schemaDdl schema as DDL, for empty-table reads
    * @param version   the `_files.v{N}` this state was committed as
    *                  (0 = legacy pre-version log)
    * @param batchId   highest streaming batch id folded into this
    *                  state (−1 = none): the exactly-once watermark —
    *                  a foreachBatch replay of batch ≤ batchId is a
    *                  no-op instead of a duplicate append
    * @param zones     optional per-file min/max zone maps (file →
    *                  column → typed [[Zone]]: int64/date, double,
    *                  utf8), collected from parquet footers at commit
    *                  time; lets scans skip files at PLANNING time
    *                  (the ManifestScan idea unified into one log)
    * @param rows      per-file row counts (footer metadata, collected
    *                  with the zones): every commit records one for each
    *                  file it adds, so planning-time consumers
    *                  ([[fileRows]]: delete counts, compaction sizing)
    *                  avoid opening footers again. Files adopted from an
    *                  unlogged directory, and logs written before counts
    *                  were recorded, lack them.
    * @param dataChange whether this version changed the table's ROWS
    *                  (Delta's `dataChange` bit). Appends, deletes and
    *                  upserts set it; COMPACTION rearranges the same
    *                  rows into new files and clears it, so a change
    *                  feed ([[graft.sources.ManifestScan.changes]])
    *                  can skip the version without scanning the
    *                  rewrite to prove it row-neutral. Absent in
    *                  pre-round-18 logs ⇒ true (conservative: the feed
    *                  diffs the version instead of skipping it).
    * @param checkpoint the version of the full-snapshot record this
    *                  state's delta chain starts at (= `version` when
    *                  this version IS a checkpoint; 0 = unknown, e.g. a
    *                  directly constructed adoption state — the next
    *                  commit then writes a checkpoint). Lets a
    *                  committer decide delta-vs-checkpoint without
    *                  re-reading the log.
    * @param sizes     per-file byte sizes, recorded with the row counts
    *                  (from the staged write's own listing, or the
    *                  listing that adopted or built the files): a
    *                  reader plans its scan from them without a stat
    *                  per file ([[fileSizes]]). Absent for the same
    *                  files as `rows`, and in logs written before sizes
    *                  were recorded.
    * @param appended  the live files [[append]] added. Every other commit
    *                  kind (a build, a rewrite, a compaction) adds SEALED
    *                  files, which [[IndexTable]] keeps decoded in memory
    *                  once searched; appended files are small and many,
    *                  stay on disk, and leave the set when a compaction
    *                  or rewrite retires them. A log written before the
    *                  set was recorded has none appended.
    */
  final case class State(files: Seq[String], schemaDdl: String,
      version: Int = 0, batchId: Long = -1L,
      zones: Map[String, Map[String, Zone]] = Map.empty,
      rows: Map[String, Long] = Map.empty,
      dataChange: Boolean = true,
      checkpoint: Int = 0,
      sizes: Map[String, Long] = Map.empty,
      appended: Set[String] = Set.empty) {

    /** Zone skipping, the one rule every pruned read and rewrite
      * applies: keep `file` unless some queried column range is
      * provably disjoint from the file's recorded zone for that
      * column. A file with no zone for a column may hold any value
      * there, so it is kept.
      */
    def mayMatch(file: String, ranges: Map[String, ZoneRange]): Boolean = {
      val zs = zones.getOrElse(file, Map.empty)
      ranges.forall { case (c, r) => zs.get(c).forall(_.overlaps(r)) }
    }
  }

  /** What a writer asks to commit — the payload half of [[State]]
    * (version is assigned by the CAS loop).
    */
  final case class Commit(files: Seq[String], schemaDdl: String,
      batchId: Long = -1L,
      zones: Map[String, Map[String, Zone]] = Map.empty,
      rows: Map[String, Long] = Map.empty,
      dataChange: Boolean = true,
      sizes: Map[String, Long] = Map.empty,
      appended: Set[String] = Set.empty)

  def currentPath(dir: String): String = s"$dir/_files.json"
  private def versionPath(dir: String, v: Int): String = s"$dir/_files.v$v.json"
  private def floorPath(dir: String): String = s"$dir/_files.floor"

  /** Oldest version whose DATA files the last [[vacuum]] pinned (1
    * when never vacuumed — every committed version's data is live).
    * Version RECORDS can survive below this (a delta chain is only
    * materializable with every link from its checkpoint up), but
    * reading such a version's data is best-effort: its files are live
    * only while newer readable versions still reference them. Readers
    * that PROMISE a planning-time typed refusal ([[ManifestScan
    * .changes]], the graftlog reader's time travel) check against
    * this floor instead of record existence.
    */
  def dataFloor(dir: String): Int =
    if (!FsIo.exists(floorPath(dir))) 1
    else try math.max(1, FsIo.readString(floorPath(dir)).trim.toInt)
    catch { case _: NumberFormatException => 1 }

  def exists(dir: String): Boolean =
    FsIo.exists(currentPath(dir)) || versions(dir).nonEmpty

  private def hadoopConf() =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  def versions(spark: SparkSession, dir: String): Seq[Int] = versions(dir)

  private def versions(dir: String): Seq[Int] = {
    listings.incrementAndGet()
    val p = new Path(dir)
    val fs = p.getFileSystem(hadoopConf())
    if (!fs.exists(p)) return Seq.empty
    val re = """_files\.v(\d+)\.json""".r
    fs.listStatus(p).map(_.getPath.getName)
      .collect { case re(n) => n.toInt }.sorted.toSeq
  }

  /** Directory listings performed by [[versions]] — test telemetry
    * for the O(1)-resolve claim below (reads of a pointer-carrying
    * log must never list), harmless in production.
    */
  private[graft] val listings = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Current state, resolved in O(1) — never a directory listing on
    * the common path (the Delta `_last_checkpoint` move, r12 verdict
    * task #4): a long-running streaming sink commits one version per
    * micro-batch, so at 10⁵ commits a read that LISTS to find the
    * newest version pays O(history) per resolve — and every commit
    * itself reads first, making ingest quadratic in history length.
    *
    * Fast path: the `_files.json` pointer (rewritten by every commit)
    * names a version; probe FORWARD from it past any commits that
    * landed since it was written. Sound because [[vacuum]] retains a
    * CONTIGUOUS suffix of versions ending at the newest (newest-K by
    * count plus young-by-grace — both suffixes), so a version that
    * still exists whose successor does not IS the newest. Pointer
    * staleness is bounded by in-flight commits (each commit rewrites
    * it), so the probe is O(1 + racing writers), not O(history).
    *
    * Slow path (pointer missing, legacy pre-version pointer, or
    * pointer's version vacuumed out from under a crashed writer):
    * list, exactly as before.
    */
  def read(dir: String): State = {
    // Bounded retry around the whole resolve+materialize: a grace-0
    // vacuum can reclaim any link of a delta chain between the exists
    // probe and the chain read (the same race the pre-delta fast path
    // degraded to a listing for). Every retry re-resolves from the
    // pointer, which vacuum re-points and every commit rewrites, so a
    // handful of attempts converge under any realistic storm; a chain
    // broken for a NON-race reason (manual deletion) surfaces the raw
    // FileNotFound after the retries, which [[classified]] then types.
    var attempts = 0
    while (true) {
      try return readOnce(dir)
      catch {
        case e: java.io.FileNotFoundException =>
          attempts += 1
          if (attempts > 20) throw e
      }
    }
    sys.error("unreachable")
  }

  private def readOnce(dir: String): State = {
    val ptr = pointer(dir)
    newestFrom(dir, ptr) match {
      // the pointer is a copy of the newest record: a full snapshot
      // needs no further IO, a delta is its own chain's last link
      case Some(v) => ptr match {
        case Some(Snap(st)) if v == st.version =>
          st.copy(checkpoint = st.version)
        case Some(d: Delta) if v == d.version => materialize(dir, d)
        case _ => readVersion(dir, v)
      }
      case None => readByListing(dir, ptr)
    }
  }

  private def pointer(dir: String): Option[Record] =
    try Some(parseRecord(FsIo.readString(currentPath(dir))))
    catch { case _: java.io.IOException => None }

  /** The newest version, probed forward from the pointer's; None when
    * the pointer is missing, legacy or names a vacuumed version.
    */
  private def newestFrom(dir: String, ptr: Option[Record]): Option[Int] = {
    val ptrV = ptr.map(recordVersion).getOrElse(0)
    if (ptrV > 0 && FsIo.exists(versionPath(dir, ptrV))) {
      var v = ptrV
      while (FsIo.exists(versionPath(dir, v + 1))) v += 1
      Some(v)
    } else None
  }

  /** The current version number, resolved like [[read]] (the pointer
    * and a forward probe, a listing only off the fast path) without
    * materializing the state.
    */
  private def currentVersion(dir: String): Int = {
    val ptr = pointer(dir)
    newestFrom(dir, ptr).getOrElse(versions(dir).lastOption.getOrElse(0))
  }

  private def readByListing(dir: String, ptr: Option[Record]): State =
    versions(dir).lastOption match {
      case Some(v) =>
        try readVersion(dir, v)
        catch {
          // lost the race to a concurrent vacuum dropping v: the
          // pointer is rewritten by every commit — if it is a full
          // snapshot it can stand alone; a delta pointer cannot, so
          // rethrow into [[read]]'s retry loop
          case e: java.io.FileNotFoundException =>
            ptr match {
              case Some(Snap(st)) => st.copy(checkpoint = st.version)
              case _ => throw e
            }
        }
      case None => ptr match {
        case Some(Snap(st)) => st.copy(checkpoint = st.version)
        case Some(_: Delta) => throw new java.io.FileNotFoundException(
          s"log under $dir has a delta pointer but no version files")
        case None => // unlogged dir or pointer appeared since: re-read
          parseRecord(FsIo.readString(currentPath(dir))) match {
            case Snap(st) => st.copy(checkpoint = st.version)
            case _: Delta => throw new java.io.FileNotFoundException(
              s"log under $dir has a delta pointer but no version files")
          }
      }
    }

  /** State at version `v`: a checkpoint record reads directly; a delta
    * record materializes by reading its chain's checkpoint and applying
    * every delta up to `v` — at most [[checkpointInterval]] small file
    * reads, never a directory listing.
    */
  def readVersion(dir: String, v: Int): State =
    parseRecord(FsIo.readString(versionPath(dir, v))) match {
      case Snap(st) => st.copy(version = v, checkpoint = v)
      case d: Delta => materialize(dir, d)
    }

  /** The state a delta record describes: its chain's checkpoint, every
    * record after it, then `d` itself — one read per link before `d`.
    */
  private def materialize(dir: String, d: Delta): State = {
    var st = parseRecord(FsIo.readString(versionPath(dir, d.checkpoint))) match {
      case Snap(s) =>
        s.copy(version = d.checkpoint, checkpoint = d.checkpoint)
      case _: Delta => throw new IllegalStateException(
        s"version ${d.checkpoint} of $dir is named as a checkpoint " +
          s"by the delta at version ${d.version} but is itself a delta " +
          "record — corrupt log")
    }
    var i = d.checkpoint + 1
    while (i < d.version) {
      st = parseRecord(FsIo.readString(versionPath(dir, i))) match {
        case Snap(s) => s.copy(version = i, checkpoint = i)
        case dd: Delta => applyDelta(st, dd)
      }
      i += 1
    }
    applyDelta(st, d)
  }

  /** Newest retained version whose exactly-once batch watermark is
    * ≤ `batchId` — the "as of streaming batch B" resolve behind the
    * graftlog reader's `batchAsOf` option. Record-level: a delta
    * record carries its state's watermark verbatim, so the walk reads
    * one small file per probed version and never materializes a chain.
    */
  def versionForBatch(dir: String, batchId: Long): Option[Int] = {
    // candidates start at the data floor: a chain-only record below it
    // parses fine but its data files may be vacuumed — resolving to it
    // would trade the caller's loud "no retained version" refusal for
    // a raw execution-time FileNotFoundException
    val fl = dataFloor(dir)
    val vs = versions(dir).filter(_ >= fl)
    vs.reverseIterator.find { v =>
      val bid = parseRecord(FsIo.readString(versionPath(dir, v))) match {
        case Snap(st) => st.batchId
        case d: Delta => d.batchId
      }
      bid >= 0 && bid <= batchId
    }
  }

  /** One version record: a full snapshot or a delta against its
    * predecessor (see the object doc's "Delta-action records").
    */
  private sealed trait Record
  private final case class Snap(st: State) extends Record
  private final case class Delta(version: Int, checkpoint: Int,
      add: Seq[String], remove: Seq[String], schemaDdl: String,
      batchId: Long, zones: Map[String, Map[String, Zone]],
      rows: Map[String, Long], zoneDrop: Seq[String],
      rowDrop: Seq[String], dataChange: Boolean,
      sizes: Map[String, Long], sizeDrop: Seq[String],
      appended: Seq[String], appendedDrop: Seq[String]) extends Record

  private def recordVersion(r: Record): Int = r match {
    case Snap(st) => st.version
    case d: Delta => d.version
  }

  /** Apply a delta to its predecessor's state. Exactness contract
    * (pinned by the soak spec): for every commit,
    * `applyDelta(prev, renderDelta(prev, c, v))` reconstructs the state
    * a full-snapshot record of `c` would have described, field for
    * field — schema/batchId/dataChange verbatim, file set and zone/row
    * maps via add/remove/drop difference lists.
    */
  private def applyDelta(prev: State, d: Delta): State = {
    val rm = d.remove.toSet
    State(
      files = ((prev.files.toSet -- rm) ++ d.add).toSeq.sorted,
      schemaDdl = d.schemaDdl,
      version = d.version,
      batchId = d.batchId,
      zones = prev.zones -- rm -- d.zoneDrop ++ d.zones,
      rows = prev.rows -- rm -- d.rowDrop ++ d.rows,
      dataChange = d.dataChange,
      checkpoint = d.checkpoint,
      sizes = prev.sizes -- rm -- d.sizeDrop ++ d.sizes,
      appended = prev.appended -- rm -- d.appendedDrop ++ d.appended)
  }

  private def parseRecord(text: String): Record = {
    val m = Json.parse(text).asInstanceOf[Map[String, Any]]
    if (m.contains("files")) Snap(parseState(m))
    else {
      def longOf(k: String, dflt: Long): Long =
        m.get(k).map(Json.asLong).getOrElse(dflt)
      def strs(k: String): Seq[String] =
        m.get(k).map(_.asInstanceOf[Vector[Any]].map(_.asInstanceOf[String]))
          .getOrElse(Vector.empty)
      Delta(
        version = longOf("version", 0L).toInt,
        checkpoint = longOf("checkpoint", 0L).toInt,
        add = strs("add"),
        remove = strs("remove"),
        schemaDdl = m.getOrElse("schema", "").asInstanceOf[String],
        batchId = longOf("batch_id", -1L),
        zones = parseZones(m),
        rows = parseCounts(m, "rows"),
        zoneDrop = strs("zones_drop"),
        rowDrop = strs("rows_drop"),
        dataChange = m.get("data_change").forall(_.asInstanceOf[Boolean]),
        sizes = parseCounts(m, "sizes"),
        sizeDrop = strs("sizes_drop"),
        appended = strs("appended"),
        appendedDrop = strs("appended_drop"))
    }
  }

  private def parseZones(m: Map[String, Any]): Map[String, Map[String, Zone]] =
    m.get("zones").map(_.asInstanceOf[Map[String, Any]].map {
      case (f, zs) => f -> zs.asInstanceOf[Map[String, Any]].map {
        case (c, z) => c -> Zone.fromJson(z.asInstanceOf[Vector[Any]])
      }
    }).getOrElse(Map.empty[String, Map[String, Zone]])

  /** A per-file number map: `rows` (row counts) or `sizes` (bytes). */
  private def parseCounts(m: Map[String, Any], key: String): Map[String, Long] =
    m.get(key).map(_.asInstanceOf[Map[String, Any]].map {
      case (f, n) => f -> Json.asLong(n)
    }).getOrElse(Map.empty[String, Long])

  private def parseState(m: Map[String, Any]): State = {
    def longOf(k: String, dflt: Long): Long =
      m.get(k).map(Json.asLong).getOrElse(dflt)
    val version = longOf("version", 0L).toInt
    State(m("files").asInstanceOf[Vector[Any]].map(_.asInstanceOf[String]),
      m("schema").asInstanceOf[String],
      version = version,
      batchId = longOf("batch_id", -1L),
      zones = parseZones(m),
      rows = parseCounts(m, "rows"),
      dataChange = m.get("data_change")
        .forall(_.asInstanceOf[Boolean]), // absent (pre-r18 log) = true
      checkpoint = version, // a full snapshot is its own checkpoint
      sizes = parseCounts(m, "sizes"),
      appended = m.get("appended") // absent (older log) = none appended
        .fold(Set.empty[String])(_.asInstanceOf[Vector[Any]]
          .map(_.asInstanceOf[String]).toSet))
  }

  private def render(c: Commit, version: Int): String = {
    val base = scala.collection.immutable.ListMap(
      "version" -> version.toLong,
      "schema" -> c.schemaDdl,
      "files" -> c.files.distinct.sorted.toVector)
    val withBatch =
      if (c.batchId >= 0) base + ("batch_id" -> c.batchId) else base
    val withZones =
      if (c.zones.isEmpty) withBatch
      else withBatch + ("zones" -> c.zones.map { case (f, zs) =>
        f -> zs.map { case (col, z) => col -> z.jsonParts } })
    val withRows =
      if (c.rows.isEmpty) withZones
      else withZones + ("rows" -> c.rows)
    val withSizes =
      if (c.sizes.isEmpty) withRows
      else withRows + ("sizes" -> c.sizes)
    val withAppended =
      if (c.appended.isEmpty) withSizes
      else withSizes + ("appended" -> c.appended.toVector.sorted)
    val withChange = // written only when cleared: pre-r18 readers and
      if (c.dataChange) withAppended // logs agree that absent means true
      else withAppended + ("data_change" -> false)
    Json.write(withChange)
  }

  /** Pick the record shape for a commit that knows its predecessor:
    * a DELTA when the chain is short enough and the delta is actually
    * smaller than a snapshot; a full CHECKPOINT otherwise (first
    * commit, adoption states with no known chain, every
    * [[checkpointInterval]]-th version, whole-table rewrites, tiny
    * tables). [[commit]], which never reads its predecessor, always
    * renders checkpoints.
    */
  private def renderRecord(prev: Option[State], c: Commit,
      next: Int): String =
    prev match {
      case Some(p) if p.version == next - 1 && p.checkpoint > 0 &&
          next - p.checkpoint < checkpointInterval =>
        renderDelta(p, c, next).getOrElse(render(c, next))
      case _ => render(c, next)
    }

  /** Delta record against `prev`, or None when it would not be smaller
    * than a full snapshot (by changed-file count — the proxy for the
    * dominant bytes, the file paths and their zone maps).
    */
  private def renderDelta(prev: State, c: Commit,
      next: Int): Option[String] = {
    val nextFiles = c.files.distinct.sorted.toVector
    val prevSet = prev.files.toSet
    val nextSet = nextFiles.toSet
    val add = nextFiles.filterNot(prevSet)
    val remove = prev.files.filterNot(nextSet).sorted.toVector
    // A delta must be SMALLER than the snapshot it replaces: a
    // whole-table rewrite's remove-list, or an emptied table, render
    // as (small) checkpoints instead.
    if (nextFiles.isEmpty || add.size + remove.size >= nextFiles.size)
      return None
    val removeSet = remove.toSet
    val zAdd = c.zones.filter { case (f, zs) =>
      !prev.zones.get(f).contains(zs) }
    val zDrop = prev.zones.keysIterator
      .filter(f => !removeSet(f) && !c.zones.contains(f)).toVector.sorted
    val rAdd = c.rows.filter { case (f, n) =>
      !prev.rows.get(f).contains(n) }
    val rDrop = prev.rows.keysIterator
      .filter(f => !removeSet(f) && !c.rows.contains(f)).toVector.sorted
    val sAdd = c.sizes.filter { case (f, n) =>
      !prev.sizes.get(f).contains(n) }
    val sDrop = prev.sizes.keysIterator
      .filter(f => !removeSet(f) && !c.sizes.contains(f)).toVector.sorted
    val aAdd = c.appended.filterNot(prev.appended).toVector.sorted
    val aDrop = prev.appended
      .filter(f => !removeSet(f) && !c.appended(f)).toVector.sorted
    var m = scala.collection.immutable.ListMap[String, Any](
      "version" -> next.toLong,
      "checkpoint" -> prev.checkpoint.toLong,
      "schema" -> c.schemaDdl,
      "add" -> add,
      "remove" -> remove)
    if (c.batchId >= 0) m += ("batch_id" -> c.batchId)
    if (zAdd.nonEmpty) m += ("zones" -> zAdd.map { case (f, zs) =>
      f -> zs.map { case (col, z) => col -> z.jsonParts } })
    if (zDrop.nonEmpty) m += ("zones_drop" -> zDrop)
    if (rAdd.nonEmpty) m += ("rows" -> rAdd)
    if (rDrop.nonEmpty) m += ("rows_drop" -> rDrop)
    if (sAdd.nonEmpty) m += ("sizes" -> sAdd)
    if (sDrop.nonEmpty) m += ("sizes_drop" -> sDrop)
    if (aAdd.nonEmpty) m += ("appended" -> aAdd)
    if (aDrop.nonEmpty) m += ("appended_drop" -> aDrop)
    if (!c.dataChange) m += ("data_change" -> false)
    Some(Json.write(m))
  }

  /** The one version-claiming loop under every commit kind: `attempt`
    * reads whatever state it derives from and returns the version to
    * claim and the record to write there (None = decline). The record
    * is created exclusively ([[FsIo.writeStringExclusive]]); a lost race
    * re-runs `attempt`, which re-reads and re-derives. Returns the
    * committed version, or −1 if `attempt` declined.
    */
  private def claim(dir: String)(attempt: => Option[(Int, String)]): Int = {
    var attempts = 0
    while (true) {
      attempt match {
        case None => return -1
        case Some((next, json)) =>
          if (FsIo.writeStringExclusive(versionPath(dir, next), json)) {
            FsIo.writeStringAtomic(currentPath(dir), json)
            return next
          }
      }
      attempts += 1
      if (attempts > 1000) throw new ConcurrentCommitException(
        s"gave up committing under $dir after $attempts lost version races")
    }
    -1 // unreachable
  }

  /** The version after `prev` and its record: CAS at EXACTLY
    * prev.version + 1 — never a fresh listing's newest + 1: an
    * interloper committing between the read and the CAS would
    * otherwise be silently overwritten by a state derived from the
    * stale `prev` (TOCTOU caught by the Round17 racing-refresh
    * battery). Targeting prev + 1 turns that interleaving into a CAS
    * loss → re-read and re-derive.
    */
  private def after(prev: Option[State], c: Commit): (Int, String) = {
    val next = prev.map(_.version).getOrElse(0) + 1
    next -> renderRecord(prev, c, next)
  }

  /** Commit a new live file set, unconditionally (retries a lost CAS
    * with the same content — correct ONLY for writers whose content
    * does not depend on the state they read: initial builds and
    * full rewrites that own the directory). Mutation paths use
    * [[append]]/[[transact]] (append-merge) or [[rewrite]]
    * (merge-or-fail). Returns the version number.
    */
  def commit(spark: SparkSession, dir: String, files: Seq[String],
             schemaDdl: String, batchId: Long = -1L,
             zones: Map[String, Map[String, Zone]] = Map.empty,
             rows: Map[String, Long] = Map.empty,
             sizes: Map[String, Long] = Map.empty): Int =
    claim(dir) {
      val next = versions(dir).lastOption.getOrElse(0) + 1
      Some(next -> render(Commit(files, schemaDdl, batchId, zones, rows,
        sizes = sizes), next))
    }

  /** Read-compute-CAS loop for APPEND-shaped writers: `f` receives the
    * current state (None = unlogged directory) and returns the next
    * [[Commit]]; a lost race re-reads and recomputes, so two
    * concurrent appends both land — neither can erase the other's
    * files. Returns the committed version, or −1 if `f` declined to
    * commit (returned None — the idempotent-replay no-op).
    */
  def transact(spark: SparkSession, dir: String)(
      f: Option[State] => Option[Commit]): Int =
    claim(dir) {
      val cur = if (exists(dir)) Some(read(dir)) else None
      f(cur).map(after(cur, _))
    }

  /** What one staged write produced: the created files, each one's row
    * count, and its zones for the layout's zone columns (a file with no
    * usable zone has no entry) — from ONE footer pass ([[footers]]) —
    * and each one's byte size, from the write's own listing.
    */
  final case class Written(files: Seq[String], rows: Map[String, Long],
      zones: Map[String, Map[String, Zone]],
      sizes: Map[String, Long] = Map.empty) {
    def totalRows: Long = rows.values.sum
  }

  /** The write primitive: [[stagedWrite]] `body` into `dir`, then one
    * footer pass over exactly the created files, whose counts, sizes
    * and zones every commit records ([[append]], [[rewrite]]).
    */
  def write(spark: SparkSession, dir: String, zoneCols: Seq[String])(
      body: String => Unit): Written = {
    val staged = stage(spark, dir, body)
    footers(spark, staged.map(_._1), zoneCols).copy(sizes = staged.toMap)
  }

  /** [[footers]] of files found by a listing, with the listed sizes. */
  def listed(spark: SparkSession, files: Seq[(String, Long)],
      zoneCols: Seq[String]): Written =
    footers(spark, files.map(_._1), zoneCols).copy(sizes = files.toMap)

  /** The append primitive: one commit that adds the files `body`
    * writes, with their counts and zones, merged past concurrent
    * appends ([[transact]]'s read-merge-retry).
    *
    *  - `batchId` ≥ 0 is the exactly-once handle of a streaming sink:
    *    a batch at or below the log's watermark is a replay, declined
    *    before writing (and again inside the loop, should a replay
    *    race in); the commit carries the highest folded batch id.
    *  - `evolve` = the table's schema widens to include `schema`'s new
    *    trailing columns ([[evolveSchema]]), checked against the log
    *    before writing, so a refused batch writes no file; otherwise
    *    the commit carries `schema` as is.
    *  - An unlogged directory with data is ADOPTED: its physical
    *    listing (the staged files are outside it by construction)
    *    becomes live next to the batch, so pre-existing rows survive.
    *  - The batch's files are logged as appended ([[State.appended]]).
    *
    * Returns the written files, None when the batch was declined.
    */
  def append(spark: SparkSession, dir: String, schema: StructType,
      zoneCols: Seq[String], batchId: Long = -1L, evolve: Boolean = false)(
      body: String => Unit): Option[Written] = {
    def ddlOver(cur: Option[State]): String =
      cur.map(_.schemaDdl).filter(_.nonEmpty && evolve)
        .map(evolveSchema(_, schema)).getOrElse(schema).toDDL
    if (batchId >= 0 || evolve) { // the only pre-write read, when consulted
      val pre = if (exists(dir)) Some(read(dir)) else None
      if (batchId >= 0 && pre.exists(_.batchId >= batchId))
        return None // replayed batch: already committed
      ddlOver(pre) // a refused schema change throws before any write
    }
    val w = write(spark, dir, zoneCols)(body)
    val own = w.files.toSet
    val v = transact(spark, dir) { cur =>
      val curBid = cur.map(_.batchId).getOrElse(-1L)
      // an unlogged directory's listing, with its sizes, is adopted
      lazy val adopted = dataFiles(spark, dir).filterNot(f => own(f._1))
      if (batchId >= 0 && curBid >= batchId) None // replay raced in
      else Some(Commit(
        cur.map(_.files).getOrElse(adopted.map(_._1)) ++ w.files,
        ddlOver(cur), math.max(batchId, curBid),
        cur.map(_.zones).getOrElse(Map.empty) ++ w.zones,
        cur.map(_.rows).getOrElse(Map.empty) ++ w.rows,
        sizes = cur.map(_.sizes).getOrElse(adopted.toMap) ++ w.sizes,
        appended = cur.map(_.appended).getOrElse(Set.empty) ++ w.files))
    }
    if (v < 0) None else Some(w)
  }

  /** The rewrite primitive: [[commitRewrite]] of a [[write]]'s result,
    * so the replacement files are logged with their counts and zones.
    */
  def rewrite(spark: SparkSession, dir: String, base: State,
      removed: Set[String], written: Written, schemaDdl: String,
      dataChange: Boolean = true,
      readSet: Option[Set[String]] = None): Int =
    commitRewrite(spark, dir, base, removed, written.files, schemaDdl,
      written.zones, written.rows, dataChange, readSet, written.sizes)

  /** Optimistic REWRITE commit (Delta-style conflict detection): the
    * writer derived `added` from snapshot `base` by rewriting exactly
    * the files in `removed`, having READ the files in `readSet`
    * (default: the whole base — the conservative claim). If other
    * commits landed since `base`, they are examined instead of
    * failed on:
    *
    *  - no file of this writer's READ SET was retired ⇒ every
    *    interloper either only appended (part-file names are
    *    job-unique UUIDs, so a retired path never reappears — a
    *    still-live check IS an append-only proof for that file) or
    *    rewrote files this writer never looked at. The rewrite
    *    merges: current files minus `removed` plus `added`, keeping
    *    the interlopers' rows, zones and exactly-once batch
    *    watermark. Both writers land — the add()-races-compact()
    *    case, and (with a declared read set) two FILE-LOCAL rewrites
    *    of disjoint file sets, e.g. deletes in different partitions.
    *  - some read file is gone ⇒ a concurrent REWRITE retired files
    *    this writer's output was derived from — merging could
    *    silently drop that writer's rows, so fail loudly with
    *    [[ConcurrentCommitException]] (re-read and redo the rewrite).
    *
    * Declaring `readSet` is a correctness claim by the caller: the
    * rewrite's output must be a pure function of those files, so it
    * commutes with any concurrent commit that leaves them alone
    * (under snapshot semantics — e.g. a row concurrently upserted
    * into an unread partition survives a delete of its id, exactly
    * like the documented append-races-delete case). Rewrites whose
    * output depends on the whole table (global dedup, clustering)
    * must keep the default. `removed` must be ⊆ `readSet`.
    *
    * Returns the committed version.
    */
  def commitRewrite(spark: SparkSession, dir: String, base: State,
      removed: Set[String], added: Seq[String], schemaDdl: String,
      addedZones: Map[String, Map[String, Zone]] = Map.empty,
      addedRows: Map[String, Long] = Map.empty,
      dataChange: Boolean = true,
      readSet: Option[Set[String]] = None,
      addedSizes: Map[String, Long] = Map.empty): Int = {
    val readFiles = readSet.getOrElse(base.files.toSet)
    require(removed.subsetOf(readFiles),
      "a rewrite's removed files must be inside its declared read set")
    claim(dir) {
      // unlogged dir (adopted base at version 0): the rewrite's commit
      // seeds the log as version 1
      val cur = if (exists(dir)) read(dir) else base
      val curSet = cur.files.toSet
      if (cur.version != base.version &&
          !readFiles.forall(curSet.contains))
        throw new ConcurrentCommitException(
          s"a concurrent rewrite under $dir retired files this rewrite " +
            s"(derived from version ${base.version}) read — cannot merge; " +
            "re-read and retry the operation")
      val files = (curSet -- removed).toSeq ++ added
      val zones = (cur.zones -- removed) ++ addedZones
      val rows = (cur.rows -- removed) ++ addedRows
      val sizes = (cur.sizes -- removed) ++ addedSizes
      // the rewrite's own files are sealed; appends that raced in stay
      // appended
      val appended = cur.appended -- removed
      val batchId = math.max(base.batchId, cur.batchId)
      // The caller's schemaDdl was derived from the STALE base: if an
      // interloping append widened the schema since (evolveSchema),
      // committing the narrow DDL would regress the log and every
      // read resolves files against the logged schema — the evolved
      // column would silently vanish. Commit the UNION of both.
      // The union is sound ONLY under the append-only-widening
      // invariant; enforce it (r13 ADVICE #4): a column present in
      // BOTH the base and the caller's DDL but gone from cur's was
      // DROPPED by an interloper — the union would silently
      // resurrect it, so fail loudly instead (Delta's behavior on
      // concurrent metadata change).
      if (cur.version != base.version && cur.schemaDdl.nonEmpty &&
          base.schemaDdl.nonEmpty && schemaDdl.nonEmpty) {
        val curCols = StructType.fromDDL(cur.schemaDdl).fieldNames.toSet
        val baseCols = StructType.fromDDL(base.schemaDdl).fieldNames.toSet
        val dropped = StructType.fromDDL(schemaDdl).fieldNames
          .filter(c => baseCols(c) && !curCols(c))
        if (dropped.nonEmpty) throw new ConcurrentCommitException(
          s"a concurrent commit under $dir dropped column(s) " +
            s"${dropped.mkString(", ")} this rewrite (derived from " +
            s"version ${base.version}) still carries — merging would " +
            "resurrect them; re-read and retry the operation")
      }
      Some(after(Some(cur), Commit(files, mergeSchemas(schemaDdl, cur.schemaDdl),
        batchId, zones, rows, dataChange, sizes, appended)))
    }
  }

  /** Wider union of two schema DDLs — order-preserving (`a`'s columns
    * first, then `b`'s additions), used by [[commitRewrite]] to keep a
    * concurrently evolved schema when merging past interloping
    * commits. Widening only ever APPENDS columns, so the union is the
    * unique reconciliation; two commits disagreeing on an existing
    * column's TYPE cannot be merged and fail as a concurrent-commit
    * conflict (re-read and redo).
    */
  private def mergeSchemas(a: String, b: String): String = {
    if (a.isEmpty) return b
    if (b.isEmpty || a == b) return a
    val sa = StructType.fromDDL(a)
    val sb = StructType.fromDDL(b)
    val inB = sb.fields.map(f => f.name -> f).toMap
    sa.fields.foreach { f =>
      inB.get(f.name).foreach { g =>
        if (g.dataType != f.dataType) throw new ConcurrentCommitException(
          s"concurrent commits disagree on column '${f.name}' type " +
            s"(${f.dataType.simpleString} vs ${g.dataType.simpleString}) " +
            "— cannot merge schemas; re-read and retry")
      }
    }
    val known = sa.fieldNames.toSet
    StructType(sa.fields ++ sb.fields.filterNot(f => known(f.name))).toDDL
  }

  /** SCHEMA EVOLUTION rule (widening-only, the Delta/Iceberg
    * `mergeSchema` contract): an appended batch must carry every
    * existing column with its exact logged type and may ADD trailing
    * columns; the table's logical schema widens to include them. Files
    * written before the widening simply lack the new columns — every
    * read path resolves files AGAINST THE LOGGED SCHEMA, so parquet's
    * missing-column rule fills them with nulls, no rewrite of
    * historical terabytes. Narrowing or retyping is refused loudly:
    * silently dropping or coercing a column is how long-running
    * pipelines corrupt downstream state.
    */
  private[graft] def evolveSchema(curDdl: String,
      batch: StructType): StructType = {
    val cur = StructType.fromDDL(curDdl)
    val byName = batch.fields.map(f => f.name -> f).toMap
    cur.fields.foreach { f =>
      byName.get(f.name) match {
        case None => throw new IllegalArgumentException(
          s"appended batch is missing existing column '${f.name}' — " +
            "appends may widen the schema, never narrow it")
        case Some(b) if b.dataType != f.dataType =>
          throw new IllegalArgumentException(
            s"appended batch retypes column '${f.name}' " +
              s"(${f.dataType.simpleString} -> ${b.dataType.simpleString}) — " +
              "appends may widen the schema, never retype columns")
        case _ => ()
      }
    }
    val known = cur.fieldNames.toSet
    StructType(cur.fields ++ batch.fields.filterNot(f => known(f.name)))
  }

  /** Every parquet data file physically under `dir` (recursive —
    * partitioned layouts nest bucket/table directories), whether or
    * not the log references it. Files under underscore-prefixed
    * directories (`_staging`, `_versions` handled by their owners) are
    * NOT data files of this table: a crashed [[stagedWrite]] must not
    * be adopted as live data.
    */
  def listDataFiles(spark: SparkSession, dir: String): Seq[String] =
    dataFiles(spark, dir).map(_._1)

  /** [[listDataFiles]] with each file's byte size from the same listing. */
  def dataFiles(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return Seq.empty
    val base = p.toUri.getPath
    val out = Seq.newBuilder[(String, Long)]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val f = st.getPath
      val rel = f.toUri.getPath.stripPrefix(base)
      if (f.getName.endsWith(".parquet") && !f.getName.startsWith("_") &&
          !rel.split('/').exists(_.startsWith("_")))
        out += f.toString -> st.getLen
    }
    out.result().sortBy(_._1)
  }

  /** The footer pass: each file's row count and typed min/max zones for
    * `zoneCols`, from parquet FOOTERS only (metadata I/O, no data
    * pages), read in parallel on the driver — no Spark job. A zone is
    * recorded only when EVERY block carries usable stats for the
    * column: parquet can't distinguish "stats not written" from "all
    * null", so a zone built from a subset of blocks would exclude the
    * uncovered blocks' rows and let a pruned read skip a file that
    * actually matches — silent row loss (r10 ADVICE fix). Unzoned
    * columns keep the file unconditionally.
    */
  def footers(spark: SparkSession, files: Seq[String],
      zoneCols: Seq[String]): Written = {
    val conf = spark.sessionState.newHadoopConf()
    // a wide append commits tasks × partitions files, and a serial loop
    // made the footer pass the measured hot spot of the add path
    // (≈5 ms/footer × hundreds of files per batch)
    val stats = files.asJava.parallelStream().map[(Long, Map[String, Zone])] { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try {
        var rows = 0L
        var blocks = 0L
        val acc = scala.collection.mutable.Map.empty[String, Zone]
        val covered = scala.collection.mutable.Map.empty[String, Long]
        reader.getFooter.getBlocks.forEach { b =>
          rows += b.getRowCount
          blocks += 1
          b.getColumns.forEach { c =>
            val name = c.getPath.toDotString
            if (zoneCols.contains(name)) blockZone(c).foreach { z =>
              acc.updateWith(name) {
                case None => Some(z)
                case Some(prev) => widen(prev, z)
              }
              covered.update(name, covered.getOrElse(name, 0L) + 1)
            }
          }
        }
        (rows, acc.filter { case (k, _) => covered(k) == blocks }.toMap)
      } finally reader.close()
    }.collect(java.util.stream.Collectors.toList[(Long, Map[String, Zone])])
      .asScala.toSeq
    Written(files, files.zip(stats.map(_._1)).toMap,
      files.zip(stats.map(_._2)).filter(_._2.nonEmpty).toMap)
  }

  /** One block-column-chunk's zone, or None when its stats are absent
    * or untrustworthy. INT64 and INT32 (plain ints, epoch-day DATEs)
    * both land as [[Zone.I64]]; DOUBLE/FLOAT as [[Zone.F64]] — except
    * when a bound is NaN (the parquet spec declares float min/max
    * unreliable around NaN, so such files stay unzoned; ±0.0 needs no
    * special-casing because pruning compares with primitive `>=`/`<=`,
    * under which -0.0 == 0.0); UTF8-annotated BINARY as [[Zone.Str]]
    * (Spark writes these with parquet's UNSIGNED byte order, which
    * [[ZoneRange.u8cmp]] mirrors exactly).
    */
  private def blockZone(c: ColumnChunkMetaData): Option[Zone] =
    c.getStatistics match {
      case s: LongStatistics if s.hasNonNullValue =>
        Some(Zone.I64(s.getMin, s.getMax))
      case s: IntStatistics if s.hasNonNullValue =>
        Some(Zone.I64(s.getMin.toLong, s.getMax.toLong))
      case s: DoubleStatistics
          if s.hasNonNullValue && !s.getMin.isNaN && !s.getMax.isNaN =>
        Some(Zone.F64(s.getMin, s.getMax))
      case s: FloatStatistics
          if s.hasNonNullValue && !s.getMin.isNaN && !s.getMax.isNaN =>
        Some(Zone.F64(s.getMin.toDouble, s.getMax.toDouble))
      case s: BinaryStatistics if s.hasNonNullValue &&
          c.getPrimitiveType.getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some(Zone.Str(s.genericGetMin.toStringUsingUTF8,
          s.genericGetMax.toStringUsingUTF8))
      case _ => None
    }

  /** Widen `a` to cover `b` (same kind by parquet schema construction;
    * a mismatch — impossible within one column — drops the zone).
    */
  private def widen(a: Zone, b: Zone): Option[Zone] = (a, b) match {
    case (Zone.I64(l1, h1), Zone.I64(l2, h2)) =>
      Some(Zone.I64(math.min(l1, l2), math.max(h1, h2)))
    case (Zone.F64(l1, h1), Zone.F64(l2, h2)) =>
      Some(Zone.F64(math.min(l1, l2), math.max(h1, h2)))
    case (Zone.Str(l1, h1), Zone.Str(l2, h2)) =>
      Some(Zone.Str(if (ZoneRange.u8cmp(l1, l2) <= 0) l1 else l2,
        if (ZoneRange.u8cmp(h1, h2) >= 0) h1 else h2))
    case _ => None
  }

  /** Row count of each of `files` (live in snapshot `st`), from the
    * counts the log recorded at commit time; footers are opened only
    * for files without one — an adopted unlogged directory's, or a log
    * written before every commit recorded counts. The mutation paths'
    * before/after row accounting and compaction sizing use this
    * instead of count() jobs.
    */
  def fileRows(spark: SparkSession, st: State,
      files: Seq[String]): Map[String, Long] = {
    val (known, missing) = files.partition(st.rows.contains)
    known.map(f => f -> st.rows(f)).toMap ++
      (if (missing.isEmpty) Map.empty else footers(spark, missing, Nil).rows)
  }

  /** Byte size of each of `files` (live in snapshot `st`), from the
    * sizes the log recorded at commit time; only files without one (an
    * adopted directory's, or a log written before sizes were recorded)
    * are stat'ed, once each, in parallel on the driver — never a
    * listing, never a Spark job.
    */
  def fileSizes(spark: SparkSession, st: State,
      files: Seq[String]): Map[String, Long] = {
    val (known, missing) = files.partition(st.sizes.contains)
    known.map(f => f -> st.sizes(f)).toMap ++ (if (missing.isEmpty) Map.empty
    else {
      stats.addAndGet(missing.size.toLong)
      val fs = new Path(missing.head).getFileSystem(
        spark.sessionState.newHadoopConf())
      missing.zip(missing.asJava.parallelStream()
        .map[java.lang.Long](f => fs.getFileStatus(new Path(f)).getLen)
        .collect(java.util.stream.Collectors.toList[java.lang.Long])
        .asScala.map(_.longValue)).toMap
    })
  }

  /** Files [[fileSizes]] had to stat — test telemetry, like [[listings]]:
    * a snapshot whose log records every size resolves with none.
    */
  private[graft] val stats = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Write `df` into `dir`'s partition tree through a writer-unique
    * staging directory and return EXACTLY the created file paths.
    *
    * Two jobs appending straight into one directory share the
    * FileOutputCommitter scratch dir (`dir/_temporary/0`) — the first
    * commit deletes it under the second writer (the failure the
    * Round16 two-writer battery reproduced). Staging gives every
    * writer its own scratch AND its own output listing, so `created`
    * is known without the list-diff the r10 code did — per-mutation
    * cost becomes O(batch files), not O(table files), which is the
    * difference between a cheap and an impossible append on a table
    * with millions of files. Files are MOVED (same-filesystem rename,
    * a metadata op) into the live partition tree; Spark part-file
    * names carry a job-unique UUID, so names can't collide. A crash
    * mid-move leaves unreferenced files that [[vacuum]] reclaims (plus
    * the staging dir itself, swept by age).
    */
  def stagedWrite(spark: SparkSession, dir: String,
      write: String => Unit): Seq[String] =
    stage(spark, dir, write).map(_._1)

  /** [[stagedWrite]], returning each created file with its byte size
    * from the staging listing (a rename keeps the length).
    */
  private def stage(spark: SparkSession, dir: String,
      write: String => Unit): Seq[(String, Long)] = {
    val stageDir = s"$dir/_staging/${java.util.UUID.randomUUID()}"
    write(stageDir)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val stagePath = new Path(stageDir)
    if (!fs.exists(stagePath)) return Seq.empty
    val staged = Seq.newBuilder[(Path, Path, Long)]
    val it = fs.listFiles(stagePath, true)
    val stageBase = stagePath.toUri.getPath
    while (it.hasNext) {
      val st = it.next()
      val f = st.getPath
      if (f.getName.endsWith(".parquet") && !f.getName.startsWith("_")) {
        val rel = f.toUri.getPath.stripPrefix(stageBase)
        // makeQualified: the logged path must be scheme-identical to
        // listDataFiles output, or vacuum's referenced-set arithmetic
        // would treat the just-committed files as orphans
        staged += ((f, fs.makeQualified(new Path(dir + rel)), st.getLen))
      }
    }
    val moves = staged.result()
    // create the destination partition dirs once each, then move in
    // PARALLEL (destinations are distinct; FileSystem is thread-safe)
    // — a ×L-layout micro-batch stages 100+ small files and a serial
    // driver-side rename loop was the measured hot spot of the
    // streaming ingest rows
    moves.map(_._2.getParent).distinct.foreach(fs.mkdirs)
    val failed = new java.util.concurrent.atomic.AtomicReference[String](null)
    moves.asJava.parallelStream().forEach { case (f, dest, _) =>
      if (!fs.rename(f, dest)) failed.compareAndSet(null, s"$f -> $dest")
      else {
        // Stamp MOVE time: rename preserves the staging-write mtime, so
        // a write phase longer than the vacuum grace would land files
        // already "old" — unreferenced (pre-commit) yet past the grace,
        // i.e. deletable by a concurrent vacuum before the log commit
        // referencing them (the ADVICE r11 orphan-grace hazard). The
        // grace clock must start when the file enters the live tree.
        try fs.setTimes(dest, System.currentTimeMillis(), -1)
        catch { case _: java.io.IOException => () } // stats-only FS: keep going
      }
    }
    if (failed.get() != null)
      throw new java.io.IOException(s"staging move ${failed.get()} failed")
    fs.delete(stagePath, true)
    moves.map(m => m._2.toString -> m._3).sortBy(_._1)
  }

  /** Run an EAGER read action (a collect/count over a frame resolved
    * from this log) with vacuum-race classification: the current
    * version is pinned before `body` runs, and a failure whose root
    * cause is a vanished file while the log has moved past that pin is
    * rethrown as [[SnapshotVacuumedException]]. This is how the typed
    * contract is actually delivered — the stores wrap their internal
    * materialization points (coarse-candidate collects, re-rank input
    * collects, facade searches) in it, and callers holding a raw
    * DataFrame from a store can wrap their own actions the same way
    * (`store.classified { df.collect() }`).
    */
  def classified[T](dir: String)(body: => T): T = {
    val pin = currentVersion(dir) // no listing on the fast path
    try body
    catch { case e: Throwable => throw classifyReadFailure(dir, pin, e) }
  }

  /** Rethrow helper for scans over a pinned snapshot: if a task failed
    * because a referenced file disappeared AND the log has moved past
    * the snapshot the scan pinned, the snapshot was vacuumed — surface
    * the typed error instead of the raw FileNotFound. Wired into the
    * stores' eager actions via [[classified]]; lazily returned
    * DataFrames surface the raw error unless the caller wraps the
    * action (documented on each store's `classified`).
    */
  def classifyReadFailure(dir: String, snapshotVersion: Int,
      e: Throwable): Throwable = {
    val fnf = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .exists { c =>
        c.isInstanceOf[java.io.FileNotFoundException] ||
          Option(c.getMessage).exists(_.contains("FileNotFoundException"))
      }
    val moved = versions(dir).lastOption.exists(_ > snapshotVersion)
    if (fnf && moved)
      new SnapshotVacuumedException(
        s"snapshot v$snapshotVersion of $dir was vacuumed while a scan " +
          "was reading it (retention too aggressive for the reader's " +
          "runtime); re-read the current version", e)
    else e
  }

  /** Drop history: retain the newest `retainLast` version logs AND any
    * version younger than `graceMs` (so an in-flight reader holding a
    * recent snapshot keeps its files — the vacuum-grace contract the
    * r10 battery's retried FileNotFound races asked for), delete older
    * ones, then delete every data file no surviving log (or the
    * current pointer) references — set arithmetic, never timestamps,
    * except the grace clock on the version FILES themselves. Returns
    * the number of data files deleted.
    */
  def vacuum(spark: SparkSession, dir: String, retainLast: Int,
      graceMs: Long = 0L): Int = {
    require(retainLast >= 1, "must retain at least the current version")
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val vs = versions(dir)
    val now = System.currentTimeMillis()
    val (dropByCount, keep) = vs.splitAt(math.max(0, vs.size - retainLast))
    val (dropCand, keptByAge) = dropByCount.partition { v =>
      graceMs <= 0L ||
        now - fs.getFileStatus(new Path(versionPath(dir, v)))
          .getModificationTime > graceMs
    }
    // Versions promised readable (pin their data files): newest-K by
    // count plus young-by-grace, exactly as before. Version RECORDS
    // additionally survive down to the oldest such version's checkpoint
    // base — a delta chain is only materializable with every link from
    // its checkpoint up, so dropping a mid-chain record would break
    // every newer survivor. Those chain-only records do NOT pin data
    // files: reading a version below the readable set can still hit
    // vacuumed files and surfaces as [[SnapshotVacuumedException]],
    // the same contract as a dropped snapshot.
    val survivors = keptByAge ++ keep
    // Persist the data floor BEFORE any deletion (monotone max: a
    // later vacuum with a larger retainLast sees chain-only records
    // below the previous floor — their data is already gone, so the
    // floor can never move down). Planning-time refusals (changes,
    // graftlog time travel) consult this instead of record existence,
    // which the delta log decoupled from data retention.
    survivors.headOption.foreach { v0 =>
      val f = math.max(dataFloor(dir), v0)
      FsIo.writeStringAtomic(floorPath(dir), f.toString)
    }
    val chainFloor = survivors.headOption.map { v0 =>
      parseRecord(FsIo.readString(versionPath(dir, v0))) match {
        case Snap(_) => v0
        case d: Delta => d.checkpoint
      }
    }.getOrElse(0)
    val drop = dropCand.filter(_ < chainFloor)
    // Replay the retained record range once, newest-checkpoint-first,
    // unioning live files over the READABLE versions only — O(retained
    // records) small reads instead of O(survivors × chain) chain walks.
    val readable = survivors.toSet
    var referenced = Set.empty[String]
    var prevState: Option[State] = None
    vs.filter(_ >= chainFloor).foreach { v =>
      val st = prevState match {
        case Some(p) if p.version == v - 1 =>
          parseRecord(FsIo.readString(versionPath(dir, v))) match {
            case Snap(s) => s.copy(version = v, checkpoint = v)
            case d: Delta => applyDelta(p, d)
          }
        case _ => readVersion(dir, v)
      }
      if (readable(v)) referenced ++= st.files
      prevState = Some(st)
    }
    referenced ++= read(dir).files
    drop.foreach(v => FsIo.delete(versionPath(dir, v)))
    val orphans = listDataFiles(spark, dir).filterNot(referenced.contains)
      .filter { f =>
        graceMs <= 0L || // young unreferenced files may be a commit in flight
          now - fs.getFileStatus(new Path(f)).getModificationTime > graceMs
      }
    orphans.foreach(f => fs.delete(new Path(f), false))
    // sweep staging leftovers from crashed writers (never referenced by
    // any log version; age-guarded so an in-flight stagedWrite
    // survives). The age of a staging dir is the NEWEST mtime anywhere
    // inside it, not the directory's own: a UUID dir's mtime reflects
    // creation, so a long multi-file write would look "old" while its
    // writer is still streaming — an active write keeps touching file
    // mtimes, which keeps the dir young until graceMs after the last
    // byte (ADVICE r11).
    val staging = new Path(s"$dir/_staging")
    if (fs.exists(staging)) {
      def newestMtime(p: Path): Long = {
        val st = fs.getFileStatus(p)
        if (!st.isDirectory) st.getModificationTime
        else (st.getModificationTime +:
          fs.listStatus(p).map(c => newestMtime(c.getPath)).toSeq).max
      }
      fs.listStatus(staging).foreach { st =>
        if (graceMs <= 0L || now - newestMtime(st.getPath) > graceMs)
          fs.delete(st.getPath, true)
      }
    }
    // Pointer hygiene for the O(1) fast path: crashed writers can
    // leave `_files.json` several commits behind, and if this vacuum
    // just reclaimed the version it names, every future [[read]]
    // would fall back to a directory listing. Re-point it at the
    // newest surviving version (atomic replace; a racing commit's
    // pointer write is newer and last-wins — harmless either way,
    // the forward probe tolerates any still-live pointer). Also
    // migrates legacy pointer-less logs onto the fast path.
    survivors.lastOption.foreach { newest =>
      val ptrLive =
        try FsIo.exists(versionPath(dir,
          recordVersion(parseRecord(FsIo.readString(currentPath(dir))))))
        catch { case _: java.io.IOException => false }
      if (!ptrLive)
        FsIo.writeStringAtomic(currentPath(dir),
          FsIo.readString(versionPath(dir, newest)))
    }
    orphans.length
  }
}
