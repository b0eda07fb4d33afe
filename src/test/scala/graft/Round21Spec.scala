package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.store.{FileLog, Zone}
import graft.util.FsIo

/** Round-21 delta-action commit log batteries (the r14 verdict's one
  * remaining scale-killer: every version file was a FULL snapshot, so
  * every commit — including every streaming micro-batch — wrote
  * O(table-files) metadata and a long-running sink's cumulative log IO
  * was quadratic in batch count).
  *
  *  1. SOAK: a 600-commit micro-batch-shaped append stream keeps
  *     per-commit record bytes O(batch) — flat while the table grows
  *     300× — with periodic checkpoints carrying the O(table) cost at
  *     1/interval amortization.
  *  2. Exactness: the state materialized through a delta chain equals
  *     the state a full snapshot would have described, at the head and
  *     at arbitrary time-travel versions, including zones/rows/
  *     watermark/schema.
  *  3. Bounded cold-read: a cold [[FileLog.read]] after the soak
  *     touches at most checkpoint-interval+2 sidecar records and never
  *     lists the directory.
  *  4. Vacuum: chain records below the readable window are retained
  *     exactly down to the oldest survivor's checkpoint (contiguity of
  *     the record suffix preserved), drops land below it, and reads/
  *     time travel over the survivors keep working.
  */
class Round21Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fresh(tag: String): String =
    graft.util.TempDirs.create(s"graft_r21_$tag").toString

  private def vBytes(dir: String, v: Int): Long =
    java.nio.file.Files.size(
      java.nio.file.Paths.get(s"$dir/_files.v$v.json"))

  /** One micro-batch-shaped commit: append `perBatch` files with a
    * zone and a row count each, bump the watermark.
    */
  private def appendCommit(dir: String, i: Int, perBatch: Int): Unit = {
    FileLog.transact(spark, dir) { cur =>
      val newFiles = (0 until perBatch).map(j => f"$dir/part-b$i%05d-$j.parquet")
      val c = cur
      Some(FileLog.Commit(
        c.map(_.files).getOrElse(Seq.empty) ++ newFiles,
        "id BIGINT,grp STRING",
        batchId = i.toLong,
        zones = c.map(_.zones).getOrElse(Map.empty) ++
          newFiles.map(f => f -> Map[String, Zone](
            "id" -> Zone.I64(i.toLong * 10, i.toLong * 10 + 9))),
        rows = c.map(_.rows).getOrElse(Map.empty) ++
          newFiles.map(f => f -> 10L)))
    }
    ()
  }

  test("soak: 600 micro-batch commits write O(batch) bytes per record " +
      "while the table grows 300x") {
    val dir = fresh("soak")
    val n = 600
    val perBatch = 2
    (1 to n).foreach(i => appendCommit(dir, i, perBatch))

    val interval = FileLog.checkpointInterval
    val sizes = (1 to n).map(v => v -> vBytes(dir, v)).toMap
    // classify records by shape (a checkpoint carries "files")
    def isCheckpoint(v: Int): Boolean =
      FsIo.readString(s"$dir/_files.v$v.json").contains("\"files\"")
    val (ckpts, deltas) = (1 to n).partition(isCheckpoint)
    assert(ckpts.size >= n / interval - 1 && ckpts.size <= n / interval + 2,
      s"expected ~${n / interval} checkpoints, got ${ckpts.size}")
    assert(ckpts.contains(1), "the first commit must be a checkpoint")

    // O(batch) claim: an early delta and a late delta are the same
    // size even though the table grew 300x in between. Allow 2x for
    // path-length jitter; the pre-delta behavior would be ~300x.
    val early = deltas.filter(v => v > 5 && v <= 60).map(sizes)
    val late = deltas.filter(_ > n - 50).map(sizes)
    assert(early.nonEmpty && late.nonEmpty)
    val earlyMed = early.sorted.apply(early.size / 2)
    val lateMed = late.sorted.apply(late.size / 2)
    assert(lateMed <= earlyMed * 2,
      s"late delta records ($lateMed B) should match early ones " +
        s"($earlyMed B) — per-commit bytes must be O(batch), not O(table)")
    // and the late checkpoint really is O(table): the amortized cost
    // the deltas avoid paying per commit
    val lastCkpt = ckpts.max
    assert(sizes(lastCkpt) > lateMed * 20,
      s"checkpoint at v$lastCkpt (${sizes(lastCkpt)} B) should dwarf a " +
        s"delta ($lateMed B) — otherwise the soak proves nothing")

    // cumulative log bytes: deltas keep the stream's total metadata IO
    // linear in batch count; full snapshots would have been quadratic
    // (sum of growing snapshots ~ n/2 * finalSnapshot)
    val total = sizes.values.sum
    val fullSnapshotEstimate = n.toLong / 2 * sizes(lastCkpt)
    assert(total < fullSnapshotEstimate / 5,
      s"cumulative log bytes ($total) should be far below the " +
        s"full-snapshot regime (~$fullSnapshotEstimate)")
  }

  test("exactness: delta-chain materialization equals the committed " +
      "state at head and at time-travel versions") {
    val dir = fresh("exact")
    (1 to 47).foreach(i => appendCommit(dir, i, 2))
    val head = FileLog.read(dir)
    assert(head.version == 47)
    assert(head.batchId == 47L)
    assert(head.files.size == 94)
    assert(head.rows.size == 94 && head.rows.values.forall(_ == 10L))
    assert(head.zones.size == 94)
    assert(head.zones(f"$dir/part-b${33}%05d-1.parquet")("id") ==
      Zone.I64(330L, 339L))
    assert(head.schemaDdl == "id BIGINT,grp STRING")
    // time travel to a mid-chain version reconstructs that snapshot
    val mid = FileLog.readVersion(dir, 31)
    assert(mid.version == 31 && mid.batchId == 31L && mid.files.size == 62)
    assert(mid.files.forall(f => !f.contains("part-b00032")))
    assert(mid.zones.size == 62 && mid.rows.size == 62)
    // a checkpoint version reads directly
    val ckptV = (1 to 47).filter(v =>
      FsIo.readString(s"$dir/_files.v$v.json").contains("\"files\"")).max
    val atCkpt = FileLog.readVersion(dir, ckptV)
    assert(atCkpt.files.size == ckptV * 2 && atCkpt.checkpoint == ckptV)

    // a REWRITE mid-stream (delete one early file) flows through the
    // delta exactly: removed file, its zones and rows all gone
    val victim = head.files.head
    FileLog.commitRewrite(spark, dir, head, removed = Set(victim),
      added = Seq.empty, schemaDdl = head.schemaDdl,
      readSet = Some(Set(victim)))
    val after = FileLog.read(dir)
    assert(after.version == 48 && after.files.size == 93)
    assert(!after.files.contains(victim))
    assert(!after.zones.contains(victim) && !after.rows.contains(victim))
    assert(after.batchId == 47L, "rewrite must carry the watermark")
  }

  test("bounded cold-read: head resolve touches <= interval+3 records " +
      "and never lists") {
    val dir = fresh("coldread")
    (1 to 200).foreach(i => appendCommit(dir, i, 1))
    val listingsBefore = FileLog.listings.get()
    val readsBefore = FsIo.reads.get()
    val st = FileLog.read(dir)
    val readCost = FsIo.reads.get() - readsBefore
    assert(st.version == 200 && st.files.size == 200)
    assert(FileLog.listings.get() == listingsBefore,
      "cold read listed the directory")
    assert(readCost <= FileLog.checkpointInterval + 3,
      s"cold read touched $readCost records — materialization must be " +
        "bounded by the checkpoint interval")
  }

  test("vacuum: retains the chain down to the oldest survivor's " +
      "checkpoint, drops below it, reads keep working") {
    val dir = fresh("vac")
    (1 to 50).foreach(i => appendCommit(dir, i, 1))
    // survivors by count: v48..v50 (deltas); their chain floor is the
    // newest checkpoint <= 48
    FileLog.vacuum(spark, dir, retainLast = 3)
    val left = FileLog.versions(spark, dir)
    val floor = left.min
    assert(FsIo.readString(s"$dir/_files.v$floor.json").contains("\"files\""),
      "the oldest retained record must be the chain's checkpoint")
    assert(left == (floor to 50),
      "retained records must be a contiguous suffix (plus chain floor)")
    assert(floor <= 48 && 50 - floor < 2 * FileLog.checkpointInterval)
    // the promised-readable versions still materialize
    assert(FileLog.read(dir).version == 50)
    assert(FileLog.readVersion(dir, 48).files.size == 48)
    // chain-only records below the readable window still materialize
    // RECORD-wise (their data files are simply no longer pinned)
    assert(FileLog.readVersion(dir, floor).files.size == floor)
  }

  // ------------------------------------------- format("graftlog")

  test("graftlog reader: planned file set equals the zone-surviving " +
      "list; answers match the direct read") {
    val sess = spark
    import sess.implicits._
    val dir = fresh("reader")
    val rows = (0L until 400L).map(i => (i, s"g${i % 4}", i * 2))
    graft.sources.ManifestScan.appendBatch(spark, dir,
      rows.toDF("id", "grp", "v"),
      Seq("id", "grp"), 0L,
      shape = df => df.repartitionByRange(8, org.apache.spark.sql.functions.col("id"))
        .sortWithinPartitions("id"))
    val df = spark.read.format("graftlog").load(dir)
      .where($"id" >= 100L && $"id" <= 149L)
    val got = df.select($"id", $"v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (100L to 149L).map(i => (i, i * 2)).toSet)
    val (kept, total) = graft.sources.GraftLogSource.lastPlanned.get()
    assert(total == 8 && kept >= 1 && kept <= 2,
      s"a 50-id range over 8 range-clustered files should plan 1-2 " +
        s"files, planned $kept/$total")
    // the planned set is EXACTLY the zone-surviving list
    val st = graft.store.FileLog.read(dir)
    val surviving = st.files.count { f =>
      st.zones(f)("id").overlaps(graft.store.ZoneRange.I64R(100L, 149L))
    }
    assert(kept == surviving)
    // string equality predicates prune too (two-sided only)
    val byGrp = spark.read.format("graftlog").load(dir)
      .where($"grp" === "g1" && $"id" < 50L)
    assert(byGrp.count() == 13) // ids 1,5,...,49
    val (kept2, _) = graft.sources.GraftLogSource.lastPlanned.get()
    assert(kept2 == 1, s"id<50 should keep exactly the first file, got $kept2")
  }

  test("graftlog reader: versionAsOf and batchAsOf pin snapshots; " +
      "evolved columns read as null on old files") {
    val sess = spark
    import sess.implicits._
    val dir = fresh("asof")
    graft.sources.ManifestScan.appendBatch(spark, dir,
      Seq((1L, "a"), (2L, "a")).toDF("id", "grp").coalesce(1),
      Seq("id"), 0L)
    val v1 = graft.store.FileLog.read(dir).version
    graft.sources.ManifestScan.appendBatch(spark, dir,
      Seq((3L, "b", 30L), (4L, "b", 40L)).toDF("id", "grp", "extra")
        .coalesce(1), Seq("id"), 1L) // widens the schema
    // current read: evolved schema, old rows null in `extra`
    val cur = spark.read.format("graftlog").load(dir)
    assert(cur.columns.toSeq == Seq("id", "grp", "extra"))
    assert(cur.where($"extra".isNull).select($"id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // versionAsOf: the narrow snapshot, with its own (narrow) schema
    val asOf = spark.read.format("graftlog")
      .option("versionAsOf", v1.toString).load(dir)
    assert(asOf.columns.toSeq == Seq("id", "grp"))
    assert(asOf.count() == 2)
    // batchAsOf resolves the exactly-once watermark
    assert(spark.read.format("graftlog").option("batchAsOf", "0")
      .load(dir).count() == 2)
    assert(spark.read.format("graftlog").option("batchAsOf", "7")
      .load(dir).count() == 4)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graftlog").option("batchAsOf", "-5").load(dir)
    }
    assert(e.getMessage.contains("batch watermark"))
  }

  test("bloom zones: attachBlooms prunes unclustered point probes " +
      "that min/max zones cannot, never losing rows") {
    val sess = spark
    import sess.implicits._
    val dir = fresh("bloom")
    // ids deliberately SCATTERED across files: cluster by grp, so
    // every file's id-zone spans most of the space
    val rows = (0L until 800L).map(i => (i, s"g${(i % 8)}", i * 3))
    graft.sources.ManifestScan.appendBatch(spark, dir,
      rows.toDF("id", "grp", "v"), Seq("id", "grp"), 0L,
      shape = df => df.repartitionByRange(8,
        org.apache.spark.sql.functions.col("grp"),
        org.apache.spark.sql.functions.col("id"))
        .sortWithinPartitions("grp", "id"))
    assert(graft.sources.ManifestScan.attachBlooms(spark, dir, "id") > 0)
    // idempotent: files already bloomed are skipped
    assert(graft.sources.ManifestScan.attachBlooms(spark, dir, "id") == 0)
    val st = graft.store.FileLog.read(dir)
    val probe = graft.store.ZoneRange.I64Set(Seq(8L, 16L)) // grp g0 only
    val keptBloom = st.files.count { f =>
      st.zones(f)("id").overlaps(probe)
    }
    val keptRange = st.files.count { f =>
      st.zones(f)("id").overlaps(graft.store.ZoneRange.I64R(8L, 16L))
    }
    assert(keptBloom < keptRange,
      s"bloom kept $keptBloom, envelope kept $keptRange — no win")
    assert(keptBloom >= 1)
    // through the public reader: planned files = bloom-surviving list,
    // and the answer is exactly the probed rows
    val df = spark.read.format("graftlog").load(dir)
      .where($"id".isin(8L, 16L))
    val got = df.select($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((8L, 24L), (16L, 48L)))
    val (planned, _) = graft.sources.GraftLogSource.lastPlanned.get()
    assert(planned == keptBloom)
    // range queries still prune through the embedded min/max
    val zs = st.zones.values.flatMap(_.get("id")).toSeq
    assert(zs.forall(_.isInstanceOf[graft.store.Zone.BloomI64]))
    assert(zs.exists(!_.overlaps(graft.store.ZoneRange.I64R(5000L, 6000L))))
  }

  // --------------------------- recall-curve hardening (r14 items)

  private def embRows(n: Int) = embRowsBetween(0, n)

  private def embRowsBetween(lo: Int, hi: Int) =
    graft.Tables.embeddings(spark, TestSpark.sf)
      .where(org.apache.spark.sql.functions.col("vec_id") >= lo &&
        org.apache.spark.sql.functions.col("vec_id") < hi)
      .select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        org.apache.spark.sql.functions.col("embedding")
          .cast("array<double>").as("embedding"))

  test("curve sidecar writes are atomic: a reader racing the audit " +
      "loop sees old-curve or new-curve, never a torn parse") {
    import graft.store.{QuantConfig, QuantIndex, QuantTier}
    val idx = QuantIndex.build(spark, embRows(200),
      fresh("curve_race") + "/index", QuantConfig())
    val panel = (0L until 3L)
      .map(graft.queries.VectorQueries.qvec(spark, TestSpark.sf, _))
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0L)
    idx.auditAdcRecallCurve(panel, k = 10, tier = QuantTier.Pq,
      depths = Seq(5, 50, 200))
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val auditor = new Thread(() =>
      try (1 to 6).foreach { _ =>
        idx.auditAdcRecallCurve(panel, k = 10, tier = QuantTier.Pq,
          depths = Seq(5, 50, 200))
        idx.auditRecallCurve(panel, k = 10)
      } catch { case t: Throwable => failure.compareAndSet(null, t) }
      finally stop.set(true))
    val poller = new Thread(() =>
      try while (!stop.get()) {
        // every observed curve must PARSE (old or new — never torn);
        // the targeted search must never crash on a curve read
        idx.adcRecallCurve(QuantTier.Pq).foreach { case (k, c) =>
          assert(k == 10 && c.nonEmpty)
        }
        idx.coarseNForRecall(0.5, 10, QuantTier.Pq)
        val (_, n) = idx.searchAdcAtRecall(q, 10, 0.0, QuantTier.Pq)
        assert(n == -1 || n >= 10)
      } catch { case t: Throwable => failure.compareAndSet(null, t) })
    auditor.start(); poller.start()
    auditor.join(); poller.join()
    assert(failure.get() == null,
      s"racing curve reader crashed: ${failure.get()}")
  }

  test("recall curves certify only their audited k: any other k " +
      "falls back to exact/probe-everything on every surface") {
    import graft.store.{QuantConfig, QuantIndex, QuantTier}
    val idx = QuantIndex.build(spark, embRows(200),
      fresh("curve_k") + "/index", QuantConfig())
    val panel = (0L until 3L)
      .map(graft.queries.VectorQueries.qvec(spark, TestSpark.sf, _))
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0L)
    idx.auditAdcRecallCurve(panel, k = 10, tier = QuantTier.Pq,
      depths = Seq(5, 50, 200))
    idx.auditRecallCurve(panel, k = 10)
    // k == audited k: certified by the curve
    val (_, n10) = idx.searchAdcAtRecall(q, 10, 0.0, QuantTier.Pq)
    assert(n10 > 0)
    // k BELOW the audited k: recall@5 at a fixed budget is NOT bounded
    // below by recall@10 (misses can concentrate in the top 5) — the
    // r14 ADVICE under-delivery; must fall back to exact
    val (df5, n5) = idx.searchAdcAtRecall(q, 5, 0.0, QuantTier.Pq)
    assert(n5 == -1 && df5.count() == 5)
    // k above: already exact (pinned in Round20Spec, re-pinned here)
    assert(idx.searchAdcAtRecall(q, 50, 0.0, QuantTier.Pq)._2 == -1)
    // the facade knob: a curve audited at k=10 prices k=10 requests,
    // and answers any other k with probe-everything
    val adapter = new graft.server.StoreAdapter.Quant(spark, idx)
    assert(adapter.probesFor(0.0, 10) <= adapter.maxProbes)
    assert(adapter.probesFor(0.0, 5) == adapter.maxProbes)
    assert(adapter.probesFor(0.0, 50) == adapter.maxProbes)
  }

  test("vacuum persists a data floor: feeds and graftlog time travel " +
      "refuse below it with the typed error at PLANNING time") {
    import org.apache.spark.sql.functions._
    import graft.sources.ManifestScan
    import graft.store.{SnapshotVacuumedException, ZoneRange}
    val dir = fresh("floor")
    def batch(i: Int) = spark.range(i * 10L, (i + 1) * 10L)
      .select(col("id"), (col("id") * 2).as("v")).coalesce(1)
    (0 to 4).foreach(i =>
      ManifestScan.appendBatch(spark, dir, batch(i), Seq("id"), i.toLong))
    // a delete retires batch 0's file, so below-floor data GENUINELY
    // vanishes once vacuumed (the raw-FNF trap the floor closes)
    ManifestScan.delete(spark, dir,
      Map("id" -> ZoneRange.I64R(0L, 5L)), Seq("id"))
    val head = FileLog.read(dir).version
    FileLog.vacuum(spark, dir, retainLast = 2, graceMs = 0L)
    val floor = FileLog.dataFloor(dir)
    assert(floor == head - 1, s"floor $floor, head $head")
    // chain-only records below the floor still EXIST (delta-chain
    // materialization needs them) — exactly the record-present/
    // data-vacuumed state that used to pass the old existence check
    assert(FileLog.versions(spark, dir).min < floor)
    // 1. change-feed planning refuses (no .count() needed: the check
    //    runs before any job)
    val e = intercept[SnapshotVacuumedException](
      ManifestScan.changes(spark, dir, floor - 1, head))
    assert(e.getMessage.contains("change feed"))
    // the data-pinned window still feeds: the delete's rows arrive
    val feed = ManifestScan.changes(spark, dir, floor, head).collect()
    assert(feed.nonEmpty && feed.forall(
      _.getAs[String]("_change_type") == "delete"))
    // 2. graftlog versionAsOf below the floor refuses with the same
    //    typed error; at/above it reads
    intercept[SnapshotVacuumedException](
      spark.read.format("graftlog")
        .option("versionAsOf", (floor - 1).toString).load(dir))
    assert(spark.read.format("graftlog")
      .option("versionAsOf", head.toString).load(dir).count() == 44L)
    // 3. batchAsOf resolves only to data-pinned versions: a watermark
    //    that lives below the floor gets the loud refusal, not a raw
    //    executor FileNotFoundException
    intercept[IllegalArgumentException](
      spark.read.format("graftlog").option("batchAsOf", "1").load(dir))
    assert(spark.read.format("graftlog").option("batchAsOf", "4")
      .load(dir).count() == 44L)
  }

  test("maintain: cell-scoped compaction rewrites exactly the " +
      "over-threshold cells and leaves cold files untouched") {
    import org.apache.spark.sql.functions._
    import graft.store.{MaintenancePolicy, QuantConfig, QuantIndex, QuantTier}
    val dir = fresh("maint_compact") + "/index"
    val idx = QuantIndex.build(spark, embRows(300), dir,
      QuantConfig(tiers = Set(QuantTier.Pq)))
    // two single-row adds: each fragments exactly the ONE cell the
    // row quantizes into, so cold cells provably exist
    idx.add(embRowsBetween(300, 301))
    idx.add(embRowsBetween(301, 302))
    val before = FileLog.read(dir)
    val cellRe = """/cell=(\d+)/""".r
    def byCell(fs: Seq[String]): Map[Int, Seq[String]] =
      fs.groupBy(f => cellRe.findFirstMatchIn(f).get.group(1).toInt)
    val hotExpected = byCell(before.files).filter(_._2.size > 1).keySet
    assert(hotExpected.nonEmpty, "adds fragmented no cell")
    val coldFiles = before.files.filterNot(f =>
      hotExpected(cellRe.findFirstMatchIn(f).get.group(1).toInt)).toSet
    assert(coldFiles.nonEmpty, "no cold cell left to pin region scoping")

    val (rep, kept) = idx.maintain(MaintenancePolicy(
      maxFilesPerCell = 1, vacuumGraceMs = 0L))
    assert(kept eq idx, "no retrain ran: maintain must return this")
    assert(rep.compactedCells.toSet == hotExpected,
      s"compacted ${rep.compactedCells} != hot $hotExpected")
    assert(!rep.retrained && rep.measuredRecall.isEmpty &&
      rep.recallAfterRetrain.isEmpty)
    assert(rep.curveStale, "fresh build has no persisted curve")

    val after = FileLog.read(dir)
    // region-scoped: every cold file survives BY PATH; hot cells
    // collapse to one file each
    assert(coldFiles.subsetOf(after.files.toSet),
      "a cold cell's file was rewritten")
    hotExpected.foreach(c => assert(byCell(after.files)(c).size == 1,
      s"hot cell $c not healed"))
    assert(rep.filesAfter == after.files.size.toLong)
    assert(rep.filesAfter < rep.filesBefore)
    assert(idx.indexDf.count() == 302, "compaction lost rows")
    // converged: a second pass has nothing to do
    val (rep2, _) = idx.maintain(MaintenancePolicy(
      maxFilesPerCell = 1, vacuumGraceMs = 0L))
    assert(rep2.compactedCells.isEmpty && rep2.filesAfter == rep2.filesBefore)
  }

  test("maintain: a below-target fresh audit retrains on the current " +
      "corpus and re-audits; both triggers fire in one pass") {
    import org.apache.spark.sql.functions._
    import graft.store.{MaintenancePolicy, QuantConfig, QuantIndex,
      QuantTier, VectorStore}
    val dir = fresh("maint_retrain") + "/index"
    val idx = QuantIndex.build(spark, embRows(300), dir,
      QuantConfig(tiers = Set(QuantTier.Pq)))
    idx.add(embRowsBetween(300, 302)) // arm the compaction trigger too
    // deterministic retrain trigger: panel queries whose exact top-10
    // spans >= 2 cells — at nprobe = 1 at most 9 of the 10 can live in
    // the single probed cell, so recall@10 <= 0.9 < the 1.0 target
    def spansTwoCells(q: Array[Double]): Boolean =
      idx.indexDf.select(col("cell"),
          graft.functions.VectorFunctions.l2sqLit(col("embedding"), q)
            .as("dd"))
        .orderBy(col("dd"), col("id")).limit(10)
        .agg(countDistinct(col("cell"))).head.getLong(0) >= 2
    val panel = (0L until 20L)
      .map(graft.queries.VectorQueries.qvec(spark, TestSpark.sf, _))
      .filter(spansTwoCells).take(4)
    assert(panel.nonEmpty, "no panel query spans two cells")

    val (rep, freshIdx) = idx.maintain(MaintenancePolicy(
      maxFilesPerCell = 1, auditPanel = panel, auditK = 10,
      auditNprobe = 1, minRecall = 1.0, vacuumGraceMs = 0L))
    assert(rep.compacted, "compaction trigger must fire")
    assert(rep.measuredRecall.exists(_ < 1.0),
      s"panel construction guarantees recall < 1.0: ${rep.measuredRecall}")
    assert(rep.retrained, "audit below target must retrain")
    assert(rep.recallAfterRetrain.exists(r => r >= 0.0 && r <= 1.0))
    assert(freshIdx ne idx)
    assert(freshIdx.dataDir != idx.dataDir,
      "retrain must produce a fresh versioned snapshot")
    assert(freshIdx.indexDf.count() == 302, "retrain lost rows")
    // the maintained index answers exactly: full-probe search equals
    // the flat exact scan over the raw source
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0L)
    val viaFresh = freshIdx
      .search(q, 10, freshIdx.model.cfg.ivfCells)
      .collect().map(_.getLong(0)).toSeq
    val flat = VectorStore.searchIn(embRows(302), q, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(viaFresh == flat, "maintained index diverged from the corpus")
  }

  test("a two-writer race on the delta log: both appends land " +
      "(read-merge-retry preserved across record shapes)") {
    val dir = fresh("race")
    (1 to 25).foreach(i => appendCommit(dir, i, 1)) // cross a checkpoint
    val t = (1 to 2).map { w =>
      new Thread(() => (1 to 30).foreach { i =>
        FileLog.transact(spark, dir) { cur =>
          val c = cur.get
          Some(FileLog.Commit(c.files :+ s"$dir/w$w-$i.parquet",
            c.schemaDdl, c.batchId, c.zones, c.rows))
        }
      })
    }
    t.foreach(_.start()); t.foreach(_.join())
    val st = FileLog.read(dir)
    assert(st.version == 85, s"60 raced commits on 25: got v${st.version}")
    assert(st.files.size == 85, "a raced append erased another writer's file")
    (1 to 2).foreach { w =>
      (1 to 30).foreach { i =>
        assert(st.files.contains(s"$dir/w$w-$i.parquet"))
      }
    }
  }
}
