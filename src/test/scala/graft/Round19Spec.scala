package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.ManifestScan
import graft.store.{FileLog, ZoneRange}

/** Round-19 commit-layer hardening batteries (the round-12 ADVICE
  * items):
  *
  *  1. DELETE keeps NULL-predicate rows (SQL/Delta three-valued
  *     logic): a file predating a schema widening reads the evolved
  *     column as NULL and is conservatively zone-matched, so a delete
  *     ranged on that column must RETAIN its rows, not erase them.
  *  2. commitRewrite's merge path keeps a CONCURRENTLY EVOLVED
  *     schema: a delete racing a widening append must not regress the
  *     logged schema to its stale base's DDL (reads resolve files
  *     against the logged schema — regression silently drops the new
  *     column from every read).
  *  3. changes(dir, 0, 0) is a valid empty feed (a consumer bootstrapped
  *     before the table exists), not a StructType.fromDDL("") crash.
  *  4. upsert with an explicit `seqCol` picks a DETERMINISTIC winner
  *     among duplicate keys regardless of the batch's partition
  *     layout.
  */
class Round19Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Cols = Seq("id", "grp")

  private def fresh(tag: String): String =
    graft.util.TempDirs.create(s"graft_r19_$tag").toString

  test("delete on an evolved column RETAINS pre-evolution NULL rows") {
    val sess = spark
    import sess.implicits._
    val dir = fresh("nulldel")
    ManifestScan.appendBatch(spark, dir,
      Seq((1L, "a"), (2L, "a")).toDF("id", "grp").coalesce(1),
      Cols, 0L) // v1: narrow — rows read v as NULL after the widening
    ManifestScan.appendBatch(spark, dir,
      Seq((3L, "b", 30L), (4L, "b", 999L)).toDF("id", "grp", "v")
        .coalesce(1), Cols, 1L) // v2: widened with v
    // ranged on the EVOLVED column: the narrow file has no zone for v
    // (conservatively matched), its rows evaluate the predicate to
    // NULL and must survive; only v=30 actually matches
    val n = ManifestScan.delete(spark, dir,
      Map("v" -> ZoneRange.I64R(0L, 100L)), Cols)
    assert(n == 1L) // the count must not include the NULL rows either
    val rows = ManifestScan.readPrunedRanges(spark, dir, Map.empty)._1
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows == Set((1L, -1L), (2L, -1L), (4L, 999L)))
  }

  test("a rewrite merging past a widening append keeps the WIDE schema") {
    val sess = spark
    import sess.implicits._
    val dir = fresh("schemarace")
    ManifestScan.appendBatch(spark, dir,
      Seq((1L, "a"), (2L, "a")).toDF("id", "grp").coalesce(1),
      Cols, 0L) // v1: narrow
    val base = FileLog.read(dir) // the rewriter's STALE snapshot
    ManifestScan.appendBatch(spark, dir,
      Seq((3L, "b", 30L)).toDF("id", "grp", "v").coalesce(1),
      Cols, 1L) // v2: interloping append widens the schema
    val wideDdl = FileLog.read(dir).schemaDdl
    assert(wideDdl.contains("v"))
    // file-local rewrite of v1's file, derived from the stale base —
    // commits the stale (narrow) DDL; the merge must widen it back
    val a = base.files.head
    val created = FileLog.stagedWrite(spark, dir, stage =>
      spark.read.parquet(a).where(col("id") =!= 1L)
        .write.mode("overwrite").parquet(stage))
    FileLog.commitRewrite(spark, dir, base,
      removed = Set(a), added = created, schemaDdl = base.schemaDdl,
      readSet = Some(Set(a))) // v3
    assert(FileLog.read(dir).schemaDdl == wideDdl) // NOT regressed
    // the evolved column is still visible to reads, v1 row id=1 gone
    val rows = ManifestScan.readPrunedRanges(spark, dir, Map.empty)._1
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows == Set((2L, -1L), (3L, 30L)))
  }

  test("changes(dir, 0, 0) is an empty feed, not a schema-parse crash") {
    val dir = fresh("feed00")
    val feed = ManifestScan.changes(spark, dir, 0, 0)
    assert(feed.columns.toSeq ==
      Seq("_change_type", "_commit_version"))
    assert(feed.count() == 0)
  }

  test("upsert with seqCol picks the highest-sequence duplicate " +
      "regardless of partition layout") {
    val sess = spark
    import sess.implicits._
    val dir = fresh("seqcol")
    ManifestScan.appendBatch(spark, dir,
      Seq((1L, "a", 10L, 0L)).toDF("id", "grp", "v", "seq").coalesce(1),
      Seq("id"), 0L)
    // one key, many duplicates, scattered over 8 partitions: without
    // seqCol the winner would be partition-layout-dependent
    val updates = (1L to 64L).map(s => (1L, "a", s * 100L, s))
      .toDF("id", "grp", "v", "seq").repartition(8)
    val (replaced, inserted) = ManifestScan.upsert(
      spark, dir, updates, "id", Seq("id"), seqCol = Some("seq"))
    assert(replaced == 1L && inserted == 0L)
    val row = ManifestScan.readPrunedRanges(spark, dir, Map.empty)._1
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(row.toSeq == Seq((1L, 6400L, 64L))) // seq=64 won
  }

  // -------------------------------------- cross-process commit races

  test("cross-PROCESS two-writer battery: concurrent CAS appends all " +
      "land; rewrite/rewrite races fail loudly") {
    val dir = fresh("mproc")
    FileLog.commit(spark, dir, Seq("seed.parquet"), "id BIGINT") // v1
    def fork(args: String*): (Int, String) = {
      val cmd = Seq("java", "-cp", sys.props("java.class.path"),
        "graft.McWorker") ++ args
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val done = p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
      val out = new String(p.getInputStream.readAllBytes, "UTF-8")
      if (!done) { p.destroyForcibly(); fail(s"worker timed out: $out") }
      (p.exitValue(), out)
    }
    def forkAll(argss: Seq[Seq[String]]): Seq[(Int, String)] = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(
        Future.sequence(argss.map(a => Future(fork(a: _*)))), 200.seconds)
    }
    // three OS processes, 80 CAS appends each, one shared table
    val n = 80
    val appends = forkAll(
      Seq("a", "b", "c").map(id => Seq("append", dir, id, n.toString)))
    appends.foreach { case (code, out) =>
      assert(code == 0 && out.contains(s"APPENDED $n"), out)
    }
    val st = FileLog.read(dir)
    val expected = (for (id <- Seq("a", "b", "c"); i <- 0 until n)
      yield s"w$id-$i.parquet").toSet + "seed.parquet"
    assert(st.files.toSet == expected, "a concurrent commit was LOST")
    assert(st.version == 1 + 3 * n) // every commit its own version
    // rewrite-vs-rewrite across processes: both retire the same read
    // file — exactly one may win, the loser must get the typed
    // conflict, and the winner's retire must not be doubled
    val rewrites = forkAll(
      Seq("x", "y").map(id => Seq("rewrite", dir, id, "0")))
    rewrites.foreach { case (code, out) => assert(code == 0, out) }
    val outs = rewrites.map(_._2)
    assert(outs.count(_.contains("REWRITE_OK")) == 1, outs.toString)
    assert(outs.count(_.contains("REWRITE_CCE")) == 1, outs.toString)
    val fin = FileLog.read(dir)
    assert(!fin.files.contains("seed.parquet"))
    assert(fin.files.count(_.startsWith("rw")) == 1)
  }

  // ------------------------------------------------------- OPQ tier

  test("OPQ: rotation is orthogonal, model round-trips, and the " +
      "audit shows mse(opq) <= mse(pq)") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val dir = fresh("opq")
    val idx = graft.store.QuantIndex.build(spark, emb, s"$dir/index")
    val m = idx.model
    assert(m.opqEnabled)
    // R·Rᵀ = I (Procrustes output is a product of orthogonal factors)
    val dim = m.dim
    (0 until dim).foreach { i =>
      (0 until dim).foreach { j =>
        val dot = (0 until dim).map(k => m.opqRot(i)(k) * m.opqRot(j)(k)).sum
        assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9,
          s"R·Rᵀ[$i][$j] = $dot")
      }
    }
    // persistence round-trip (rotation + books exact via %.17e)
    val re = graft.store.QuantIndex.open(spark, idx.path)
    assert(re.model.opqRot.flatten.toSeq == m.opqRot.flatten.toSeq)
    assert(re.model.opqBooks.flatten.flatten.toSeq ==
      m.opqBooks.flatten.flatten.toSeq)
    // the audit's point: the trained rotation never LOSES to plain PQ
    // at the same code budget (iteration 0 IS plain PQ and the best
    // iterate is kept, so this is structural at full-sample sf)
    val errs = SparkEntry.queries("e15_quant_error")(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(errs("opq") <= errs("pq"),
      s"mse(opq)=${errs("opq")} > mse(pq)=${errs("pq")}")
    // searchOpq returns the exact metric on the re-ranked rows: top-1
    // for a stored vector's own embedding is itself at distance 0
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 7L)
    val top = idx.searchTwoStage(graft.store.QuantTier.Opq, q, 3).collect()
    assert(top.head.getLong(0) == 7L && top.head.getDouble(1) == 0.0)
  }

  test("OPQ: codegen rotation kernel matches the driver-side rotate") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val m = graft.store.QuantModel.train(emb, graft.store.QuantConfig())
    val row = emb.where(col("id") === 3L)
      .select(m.opqRotateCol(col("embedding"))).head.getSeq[Double](0)
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 3L)
    assert(row == m.opqRotate(q).toSeq) // bit-identical fold
  }

  // ------------------------------------- O(1) version-log resolution

  test("log resolve after 10k commits is pointer-probed, never a " +
      "directory listing") {
    val sess = spark
    import sess.implicits._
    val dir = fresh("ckpt")
    ManifestScan.appendBatch(spark, dir,
      Seq((1L, "a")).toDF("id", "grp").coalesce(1), Seq("id"), 0L) // v1
    // 10⁴ synthetic CAS commits — the long-running streaming sink's
    // one-version-per-micro-batch shape. Each transact itself read()s
    // first, so this loop is ALSO the quadratic-ingest regression
    // test: with listing-based resolve it would do 10⁴ listings of an
    // ever-growing directory.
    (1 to 10000).foreach { i =>
      FileLog.transact(spark, dir) { cur =>
        val c = cur.get
        Some(FileLog.Commit(c.files, c.schemaDdl, i.toLong,
          c.zones, c.rows))
      }
    }
    val listingsBefore = FileLog.listings.get()
    (1 to 100).foreach { _ =>
      val st = FileLog.read(dir)
      assert(st.version == 10001 && st.batchId == 10000L)
    }
    assert(FileLog.listings.get() == listingsBefore,
      "read() listed the directory — resolve is O(history), not O(1)")
    // a STALE pointer (in-flight commits since it was written) still
    // resolves to the newest version by forward probing, listing-free
    val stale = graft.util.FsIo.readString(
      FileLog.currentPath(dir)) // capture pointer at 10001
    FileLog.transact(spark, dir) { cur =>
      val c = cur.get
      Some(FileLog.Commit(c.files, c.schemaDdl, 10001L, c.zones, c.rows))
    } // v10002
    graft.util.FsIo.writeStringAtomic(FileLog.currentPath(dir), stale)
    val b2 = FileLog.listings.get()
    assert(FileLog.read(dir).version == 10002)
    assert(FileLog.listings.get() == b2)
  }

  test("vacuum re-points a dangling pointer at the newest survivor") {
    val dir = fresh("ptrfix")
    (1 to 12).foreach { i =>
      FileLog.transact(spark, dir) { cur =>
        Some(FileLog.Commit(
          cur.map(_.files).getOrElse(Seq.empty) :+ s"f$i.parquet",
          "id BIGINT", -1L,
          cur.map(_.zones).getOrElse(Map.empty),
          cur.map(_.rows).getOrElse(Map.empty)))
      }
    }
    // simulate crashed pointer writes: pointer stuck at v2
    graft.util.FsIo.writeStringAtomic(FileLog.currentPath(dir),
      graft.util.FsIo.readString(s"$dir/_files.v2.json"))
    FileLog.vacuum(spark, dir, retainLast = 3) // drops v1..v9 incl. v2
    // the pointer was refreshed, so reads are pointer-probed again
    val before = FileLog.listings.get()
    val st = FileLog.read(dir)
    assert(st.version == 12 && st.files.size == 12)
    assert(FileLog.listings.get() == before,
      "dangling pointer forced a listing fallback after vacuum")
  }

  // --------------------------------------------- distributed delete

  test("frame delete: a million-id purge never routes ids through " +
      "the driver") {
    val dir = fresh("bigdel")
    val dim = 8
    val corpus = spark.range(20000).select(col("id"),
      transform(sequence(lit(0), lit(dim - 1)),
        j => (hash(col("id"), j).cast("double") / lit(2147483648.0))
          .cast("float")).as("embedding"))
    val store = graft.store.VectorStore.build(spark, corpus,
      s"$dir/index", graft.lsh.LshConfig(dim = dim, seed = 42L))
    // measure every byte of task results returned to the driver while
    // the delete runs — the direct form of the "ids never transit the
    // driver" claim (a driver max-result guard is context-level conf,
    // unavailable on the shared test session; this measures the same
    // quantity the guard would trip on)
    val resultBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          resultBytes.addAndGet(e.taskMetrics.resultSize)
    }
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    // Force the AT-SCALE plan shape: under the 10 MB threshold Spark
    // legitimately broadcasts the 1M-id side (a driver round-trip —
    // fine at this size, impossible at 10⁸ ids where the threshold
    // stops it and the join shuffles). Disabling auto-broadcast here
    // makes the test measure the plan a GDPR-scale purge would get.
    // Restore by UNSET, not re-set: TestSpark never sets these, and
    // writing the adaptive threshold explicitly would break its
    // fallback to autoBroadcastJoinThreshold for later suites
    // (Round4Spec's skew test sets only the non-adaptive one).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      // 10⁶ delete ids, of which 10k exist (ids 10000..19999)
      val dels = spark.range(10000, 1010000).toDF("id")
      val removed = store.delete(dels, "id")
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      assert(removed == 10000L)
      // the raw id set is ≥8 MB; any stage collect()ing it would push
      // driver-bound result bytes past that. The legitimate returns
      // (bucket ids, counts, write-commit metadata) stay ≪ 4 MB.
      assert(resultBytes.get() < 4L * 1024 * 1024,
        s"driver received ${resultBytes.get()} B of task results")
      assert(store.indexDf.count() == 10000L)
      assert(store.indexDf.agg(max("id")).head.getLong(0) == 9999L)
    } finally {
      spark.sparkContext.removeSparkListener(l)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("frame delete on the quantized and multi-table layouts") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val qd = graft.store.QuantIndex.build(spark, emb,
      fresh("qdel") + "/index")
    val dels = spark.range(0, 3).toDF("id")
    assert(qd.delete(dels, "id") == 3L)
    assert(qd.delete(dels, "id") == 0L) // idempotent
    assert(qd.indexDf.where(col("id") < 3).count() == 0)
    val mt = graft.store.MultiTableStore.build(spark, emb,
      fresh("mtdel") + "/index",
      graft.lsh.LshConfig(numHashFunctions = 4, numHashTables = 4,
        dim = 64, seed = 42L, multiTable = true))
    assert(mt.delete(spark.range(0, 5).toDF("id"), "id") == 5L)
    assert(mt.indexDf.where(col("id") < 5).count() == 0)
  }
}
