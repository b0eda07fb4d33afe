package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.lsh.LshConfig
import graft.store.{QuantConfig, QuantIndex, VectorStore}

/** Round-12 pins: crash-safe retrain (versioned snapshots) and the
  * concurrent-mutation battery — readers racing writers must observe
  * pre- or post-state, never a torn index.
  */
class Round12Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def embRows(n: Int) = {
    val sess = spark
    import sess.implicits._
    Tables.embeddings(spark, TestSpark.sf)
      .where(col("vec_id") < n)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("embedding"))
  }

  // ------------------------------------------- crash-safe retrain

  test("crashed retrain leaves a complete index; next retrain supersedes") {
    val dir = graft.util.TempDirs.create("graft_crash").toString + "/index"
    val idx = QuantIndex.build(spark, embRows(300), dir, QuantConfig())
    val rows = idx.indexDf.count()
    assert(rows == 300)

    // Simulate a retrain killed mid-write: a version directory with
    // data files but NO _quant_model.json (the marker is written last,
    // atomically — a crash at any earlier instant looks like this; a
    // crash during the marker write itself leaves only the .tmp).
    val orphan = new java.io.File(s"$dir/_versions/v1")
    assert(orphan.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(orphan, "part-00000.parquet").toPath, "torn bytes")
    java.nio.file.Files.writeString(
      new java.io.File(orphan, "_quant_model.json.tmp").toPath, "{partial")

    // open() must ignore the orphan and serve the committed flat layout
    val reopened = QuantIndex.open(spark, dir)
    assert(reopened.dataDir == dir)
    assert(reopened.indexDf.count() == rows)
    assert(reopened.searchTwoStage(graft.store.QuantTier.Sq8, 
      graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0), 10).count() == 10)

    // A subsequent retrain skips the orphan's version number (never
    // half-overwrites a directory a reader might be probing) and
    // commits v2; the flat layout is cleaned up after commit
    // (vacuumGraceMs = 0 opts out of the in-flight-reader grace so the
    // immediate-reclamation contract stays pinned).
    val retrained = reopened.retrain(vacuumGraceMs = 0L)
    assert(retrained.dataDir == s"$dir/_versions/v2", retrained.dataDir)
    assert(retrained.indexDf.count() == rows)
    assert(new java.io.File(s"$dir/_versions/v2/_quant_model.json").exists())
    assert(!new java.io.File(s"$dir/_quant_model.json").exists())
    assert(!new java.io.File(dir).listFiles().exists(
      f => f.isDirectory && f.getName.startsWith("cell=")))
    // reopen resolves the committed snapshot, ignoring the v1 orphan
    val again = QuantIndex.open(spark, dir)
    assert(again.dataDir == s"$dir/_versions/v2")
    assert(again.searchIvfPqResidual(
      graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 1), 10).count() == 10)

    // retrain-of-a-retrain: versions keep monotonically increasing and
    // the superseded snapshot directory is removed post-commit
    val third = again.retrain(vacuumGraceMs = 0L)
    assert(third.dataDir == s"$dir/_versions/v3")
    assert(third.indexDf.count() == rows)
    assert(!new java.io.File(s"$dir/_versions/v2").exists())
  }

  test("retrain result searches equal a fresh build's (same corpus, same model shape)") {
    val dir = graft.util.TempDirs.create("graft_rt_eq").toString + "/index"
    val idx = QuantIndex.build(spark, embRows(400), dir, QuantConfig())
    val retrained = idx.retrain()
    val dir2 = graft.util.TempDirs.create("graft_rt_eq2").toString + "/index"
    val fresh = QuantIndex.build(spark, embRows(400), dir2, QuantConfig())
    // identical corpus + seeded training → identical model → identical
    // search results at every tier
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 3)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSeq
    assert(ids(retrained.searchTwoStage(graft.store.QuantTier.Sq8, q, 10)) == ids(fresh.searchTwoStage(graft.store.QuantTier.Sq8, q, 10)))
    assert(ids(retrained.search(q, 10, 2)) == ids(fresh.search(q, 10, 2)))
    assert(ids(retrained.searchIvfPqResidual(q, 10)) ==
      ids(fresh.searchIvfPqResidual(q, 10)))
  }

  // ------------------------- multi-table recall-targeted search (v22)

  test("MultiTableStore recall curve: monotone, minimal probe choice, exact fallback") {
    import graft.store.MultiTableStore
    val sess = spark
    import sess.implicits._
    val dir = graft.util.TempDirs.create("graft_mtrc").toString + "/index"
    val store = MultiTableStore.build(spark, embRows(500), dir,
      LshConfig(numHashFunctions = 4, numHashTables = 4, dim = 64,
        seed = 42L, multiTable = true))
    val panel = (0L until 6L)
      .map(i => graft.queries.VectorQueries.qvec(spark, TestSpark.sf, i))
    val curve = store.auditRecallCurve(panel, k = 10)
    assert(curve.length == 16) // default maxProbes = L·k = 4·4
    // candidate lists are prefix-closed, so the curve is monotone
    curve.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-12, s"curve not monotone: $curve")
    }
    // minimal choice wherever a target is reachable
    val mid = curve.last * 0.6
    store.depthForRecall(mid, 10) match {
      case Some(p) =>
        assert(curve(p - 1) >= mid && (p == 1 || curve(p - 2) < mid))
        val q = panel.head
        val viaKnob = store.searchAtRecall(q, 10, mid)
          .collect().map(_.getLong(0)).toSeq
        val direct = store.search(q, 10, p)
          .collect().map(_.getLong(0)).toSeq
        assert(viaKnob == direct)
      case None => fail(s"target $mid under curve max ${curve.last} must resolve")
    }
    // unreachable target (or no curve) degenerates to EXACT, because
    // informed probing cannot promise full coverage on this layout
    val q = panel.head
    val exactIds = store.search(q, 10, store.maxDepth).collect()
      .map(_.getLong(0)).toSeq
    assert(store.searchAtRecall(q, 10, 1.01)
      .collect().map(_.getLong(0)).toSeq == exactIds)
    // mutation invalidates the persisted curve
    store.add(Seq((9999L, Seq.fill(64)(0.25))).toDF("id", "embedding"))
    assert(store.recallCurve().isEmpty)
    assert(store.depthForRecall(0.1, 10).isEmpty)
    store.delete(Seq(9999L))
  }

  // -------------------------------------- concurrent mutation battery

  /** Run `reader` in a loop on background threads while `mutate`
    * executes on the caller thread. Readers classify every successful
    * observation via `check` (returning an error string on a torn
    * state); reads that lose the file-listing race to an in-flight
    * commit (FileNotFound / "underlying files have been updated" —
    * raw-parquet commit is not snapshot-isolated; a table format adds
    * that at scale) are retried, not failed.
    */
  private def battery(readers: Int)(reader: () => Option[String])
                     (mutate: => Unit): Unit = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until readers).map { _ =>
      new Thread(() => {
        while (!stop.get()) {
          try reader().foreach(errors.add)
          catch {
            case e: Exception =>
              // walk the cause chain: a lost file-listing race surfaces
              // as FileNotFound / "does not exist" / REFRESH TABLE in
              // assorted wrappers depending on which stage hit it
              val msgs = Iterator.iterate(e: Throwable)(_.getCause)
                .takeWhile(_ != null).take(10)
                .map(t => t.getClass.getName + ": " + String.valueOf(t.getMessage))
                .mkString(" <- ")
              if (msgs.contains("FileNotFound") ||
                  msgs.contains("does not exist") ||
                  msgs.contains("REFRESH TABLE") ||
                  msgs.contains("PATH_NOT_FOUND") ||
                  msgs.contains("underlying files") ||
                  // losing the race to retrain's post-commit deletion
                  // of the SUPERSEDED snapshot surfaces as failed
                  // schema inference on the vanishing directory — the
                  // documented reopen/GC grace-period caveat, same
                  // class as the FileNotFound listing race
                  msgs.contains("UNABLE_TO_INFER_SCHEMA"))
                retries.incrementAndGet()
              else errors.add(s"unexpected reader failure: $msgs")
          }
        }
      })
    }
    threads.foreach(_.start())
    try mutate finally {
      stop.set(true)
      threads.foreach(_.join(60000))
    }
    assert(errors.isEmpty, s"torn reads: ${errors.toArray.mkString("; ")}")
  }

  test("VectorStore: searches during delete/upsert/compact see pre- or post-state") {
    val dir = graft.util.TempDirs.create("graft_mut_vs").toString + "/index"
    val store = VectorStore.build(spark, embRows(200), dir,
      LshConfig(numHashTables = 3, dim = 64, seed = 42L))
    val sess = spark
    import sess.implicits._
    val qv = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0)
    // the probe id toggles between two embeddings (different buckets
    // whenever the LSH signs differ) or is absent — every consistent
    // state has exactly 0 or 1 rows for it, and base ids are never lost
    val probeId = 5000L
    def embOf(seed: Int) = Seq.tabulate(64)(i =>
      math.sin(seed * 31 + i).toDouble)
    battery(readers = 2)(reader = () => {
      val n = store.indexDf.where(col("id") === probeId).count()
      if (n > 1) Some(s"probe id duplicated: $n rows (torn upsert)")
      else {
        val base = store.indexDf.where(col("id") < 200).count()
        if (base != 200) Some(s"base rows lost: $base != 200 (torn rewrite)")
        else {
          // search stays well-formed mid-mutation: k rows, distinct ids
          val ids = store.search(qv, 5, 3)
            .collect().map(_.getLong(0)).toSeq
          if (ids.distinct.size != ids.size) Some(s"dup ids in search: $ids")
          else None
        }
      }
    }) {
      (0 until 4).foreach { round =>
        store.upsert(Seq((probeId, embOf(2 * round))).toDF("id", "embedding"))
        store.upsert(Seq((probeId, embOf(2 * round + 1))).toDF("id", "embedding"))
        assert(store.delete(Seq(probeId)) == 1L)
        store.compact(targetRowsPerFile = 64)
      }
    }
    // final state: base corpus intact, probe gone
    assert(store.indexDf.count() == 200)
    assert(store.indexDf.where(col("id") === probeId).count() == 0)
  }

  test("MultiTableStore: searches during add/delete/compact see pre- or post-state") {
    import graft.store.MultiTableStore
    val dir = graft.util.TempDirs.create("graft_mut_mt").toString + "/index"
    val store = MultiTableStore.build(spark, embRows(200), dir,
      LshConfig(numHashFunctions = 4, numHashTables = 4, dim = 64,
        seed = 42L, multiTable = true))
    val L = 4L
    val sess = spark
    import sess.implicits._
    val qv = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0)
    val probeId = 5000L
    def embOf(seed: Int) = Seq.tabulate(64)(i =>
      math.sin(seed * 41 + i).toDouble)
    battery(readers = 2)(reader = () => {
      // each id lives in exactly L tables when fully committed; an
      // append becomes visible file-by-file (raw-parquet caveat), so
      // mid-add a reader may see [0, L] copies — but NEVER more than
      // L (that would be a duplicated add), and the base corpus must
      // always be complete in every table
      val n = store.indexDf.where(col("id") === probeId).count()
      if (n > L) Some(s"probe id over-replicated: $n > $L copies")
      else {
        val base = store.indexDf.where(col("id") < 200).count()
        if (base != 200 * L) Some(s"base copies lost: $base != ${200 * L}")
        else {
          val ids = store.search(qv, 5, 4)
            .collect().map(_.getLong(0)).toSeq
          if (ids.distinct.size != ids.size) Some(s"dup ids in search: $ids")
          else None
        }
      }
    }) {
      (0 until 3).foreach { round =>
        store.add(Seq((probeId, embOf(round))).toDF("id", "embedding"))
        assert(store.delete(Seq(probeId)) == 1L)
        store.compact(targetRowsPerFile = 64)
      }
    }
    assert(store.indexDf.count() == 200 * L)
    assert(store.indexDf.where(col("id") === probeId).count() == 0)
  }

  test("QuantIndex: open+search during delete/upsert/retrain never sees a torn index") {
    val dir = graft.util.TempDirs.create("graft_mut_qi").toString + "/index"
    QuantIndex.build(spark, embRows(200), dir, QuantConfig())
    val sess = spark
    import sess.implicits._
    val qv = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0)
    val probeId = 5000L
    def embOf(seed: Int) = Seq.tabulate(64)(i =>
      math.sin(seed * 37 + i).toDouble)
    battery(readers = 2)(reader = () => {
      // reopen per read: currentDataDir must ALWAYS name a complete
      // snapshot, whatever instant of the retrain we land on
      val idx = QuantIndex.open(spark, dir)
      val n = idx.indexDf.where(col("id") === probeId).count()
      if (n > 1) Some(s"probe id duplicated: $n rows (torn upsert)")
      else {
        val base = idx.indexDf.where(col("id") < 200).count()
        if (base != 200) Some(s"base rows lost: $base != 200")
        else {
          val ids = idx.searchTwoStage(graft.store.QuantTier.Sq8, qv, 5).collect().map(_.getLong(0)).toSeq
          if (ids.distinct.size != ids.size) Some(s"dup ids in search: $ids")
          else None
        }
      }
    }) {
      var idx = QuantIndex.open(spark, dir)
      (0 until 2).foreach { round =>
        idx.upsert(Seq((probeId, embOf(round))).toDF("id", "embedding"))
        assert(idx.delete(Seq(probeId)) == 1L)
        idx = idx.retrain()
      }
    }
    val fin = QuantIndex.open(spark, dir)
    assert(fin.indexDf.count() == 200)
    assert(fin.indexDf.where(col("id") === probeId).count() == 0)
  }
}
