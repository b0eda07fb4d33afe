package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lsh.LshConfig
import graft.server.StoreAdapter
import graft.store.{FileLog, IndexTable, MaintenancePolicy, MultiTableStore,
  PreparedScan, QuantConfig, QuantIndex, QuantTier, VectorStore}
import graft.util.FsIo

/** Spark jobs per store operation, on all three index layouts. At
  * micro-batch volumes every job costs its scheduling floor, so the
  * job count is the noise-free cost model of the write and read paths;
  * this spec pins each (layout, operation) count at or below its
  * recorded ceiling, so a refactor of the shared kernel cannot add a
  * job unnoticed. Lower a ceiling when a change removes a job.
  */
class JobsPerOpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Dim = 16

  /** Deterministic (id, embedding) rows for ids in [lo, hi), shifted
    * by `shift` so an upsert can move an id to another partition.
    */
  private def rows(lo: Long, hi: Long, shift: Double = 0.0): DataFrame =
    spark.range(lo, hi).select(col("id"),
      transform(sequence(lit(0), lit(Dim - 1)),
        j => (hash(col("id"), j).cast("double") / lit(2147483648.0) +
          lit(shift)).cast("float")).as("embedding"))

  /** A change-feed window in [[graft.sources.ManifestScan.changes]]'s
    * shape: `ups` as inserts, `dels` as deletes, all at one version.
    */
  private def feed(ups: DataFrame, dels: Seq[Long]): DataFrame = {
    val sess = spark
    import sess.implicits._
    val d = dels.toDF("id").select(col("id"),
      lit(null).cast("array<float>").as("embedding"))
    ups.unionByName(d)
      .withColumn("_change_type",
        when(col("embedding").isNull, lit("delete")).otherwise(lit("insert")))
      .withColumn("_commit_version", lit(1L))
  }

  private val jobs = new AtomicLong(0L)
  private val tasks = new AtomicLong(0L)
  private val sqlRuns = new AtomicLong(0L)
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        tasks.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqlRuns.incrementAndGet()
        case _ => ()
      }
    }
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    l
  }

  private def counted(body: => Any): Long = countedAll(body)._1

  /** (jobs, tasks, SQL executions) that `body` started. */
  private def countedAll(body: => Any): (Long, Long, Long) = {
    listener
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    val (j0, t0, s0) = (jobs.get(), tasks.get(), sqlRuns.get())
    body
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    (jobs.get() - j0, tasks.get() - t0, sqlRuns.get() - s0)
  }

  /** (layout, operation) → the most jobs it may take. */
  private val Ceiling = Map(
    ("lsh", "add") -> 2L,
    ("lsh", "delete") -> 8L,
    ("lsh", "upsert") -> 8L,
    ("lsh", "applyChanges upsert") -> 10L,
    ("lsh", "applyChanges delete") -> 10L,
    ("lsh", "compact") -> 2L,
    ("multi", "add") -> 2L,
    ("multi", "delete") -> 8L,
    ("multi", "upsert") -> 8L,
    ("multi", "applyChanges upsert") -> 10L,
    ("multi", "applyChanges delete") -> 10L,
    ("multi", "compact") -> 2L,
    ("quant", "add") -> 2L,
    ("quant", "delete") -> 8L,
    ("quant", "upsert") -> 8L,
    ("quant", "applyChanges upsert") -> 10L,
    ("quant", "applyChanges delete") -> 10L,
    ("quant", "compact") -> 2L,
    ("quant", "maintain") -> 2L,
    ("lsh", "search probed") -> 1L,
    ("lsh", "search exact") -> 1L,
    ("lsh", "auditRecallCurve") -> 4L,
    ("lsh", "searchAtRecall") -> 1L,
    ("multi", "search probed") -> 2L,
    ("multi", "search exact") -> 1L,
    ("multi", "auditRecallCurve") -> 5L,
    ("multi", "searchAtRecall") -> 2L,
    ("quant", "search probed") -> 1L,
    ("quant", "search exact") -> 1L,
    ("quant", "auditRecallCurve") -> 4L,
    ("quant", "searchAtRecall") -> 1L,
    ("quant", "auditAdcRecallCurve") -> 4L,
    ("quant", "searchAdcAtRecall") -> 2L,
    ("lsh", "facade search probed") -> 1L,
    ("lsh", "facade search exact") -> 1L,
    ("lsh", "add + totalVectors") -> 2L,
    ("multi", "facade search probed") -> 1L,
    ("multi", "facade search exact") -> 1L,
    ("multi", "add + totalVectors") -> 2L,
    ("quant", "facade search probed") -> 1L,
    ("quant", "facade search exact") -> 1L,
    ("quant", "add + totalVectors") -> 2L,
    ("lsh", "resolve 40-file snapshot") -> 0L,
    ("lsh", "delete >32 files") -> 8L,
    ("lsh", "upsert >32 files") -> 8L,
    ("manifest", "appendBatch") -> 1L,
    ("manifest", "refreshManifest") -> 0L,
    ("manifest", "delete") -> 1L,
    ("manifest", "upsert") -> 6L,
    ("manifest", "compact") -> 3L,
    ("manifest", "compactWhere") -> 3L)

  /** The shared mutation script: every operation on one store, each
    * counted in isolation. `upsert` is None for a layout without it.
    */
  private def script(layout: String,
      add: DataFrame => Any,
      delete: Seq[Long] => Any,
      upsert: Option[DataFrame => Any],
      applyChanges: DataFrame => Any,
      compact: () => Any): Seq[((String, String), Long)] = {
    val out = Seq.newBuilder[((String, String), Long)]
    def rec(op: String)(body: => Any): Unit = {
      val n = counted(body)
      info(f"$layout%-6s $op%-22s $n%2d jobs")
      out += (layout, op) -> n
    }
    rec("add")(add(rows(2000, 2200)))
    rec("delete")(delete(100L until 150L))
    upsert.foreach(u => rec("upsert")(u(rows(150, 250, shift = 0.5)
      .unionByName(rows(2200, 2250)))))
    rec("applyChanges upsert")(applyChanges(
      feed(rows(250, 300, shift = 0.5).unionByName(rows(2250, 2300)), Nil)))
    rec("applyChanges delete")(applyChanges(feed(
      rows(0, 0), (300L until 350L))))
    rec("compact")(compact())
    out.result()
  }

  private def check(counts: Seq[((String, String), Long)]): Unit =
    counts.foreach { case (key, n) =>
      assert(n <= Ceiling(key), s"$key took $n jobs, ceiling ${Ceiling(key)}")
    }

  test("jobs per mutation: LSH VectorStore") {
    val dir = graft.util.TempDirs.create("jobs_lsh").toString
    val st = VectorStore.build(spark, rows(0, 2000), s"$dir/index",
      LshConfig(dim = Dim, seed = 7L))
    check(script("lsh", st.add(_), st.delete(_), Some(st.upsert(_)),
      st.applyChanges(_), () => st.compact(vacuumGraceMs = 0L)))
  }

  test("jobs per mutation: MultiTableStore") {
    val dir = graft.util.TempDirs.create("jobs_multi").toString
    val st = MultiTableStore.build(spark, rows(0, 2000), s"$dir/index",
      LshConfig(numHashFunctions = 2, numHashTables = 3, dim = Dim,
        seed = 7L, multiTable = true))
    check(script("multi", st.add(_), st.delete(_), Some(st.upsert(_)),
      st.applyChanges(_), () => st.compact(vacuumGraceMs = 0L)))
  }

  test("jobs per mutation: QuantIndex, including maintain on hot cells") {
    val dir = graft.util.TempDirs.create("jobs_quant").toString
    val idx = QuantIndex.build(spark, rows(0, 2000), s"$dir/index",
      QuantConfig(ivfCells = 8))
    check(script("quant", idx.add(_), idx.delete(_), Some(idx.upsert(_)),
      idx.applyChanges(_), () => idx.compact(vacuumGraceMs = 0L)))
    // two more appends give the touched cells 3 live files each
    idx.add(rows(3000, 3100))
    idx.add(rows(3100, 3200))
    val n = counted {
      val (rep, _) = idx.maintain(MaintenancePolicy(maxFilesPerCell = 1,
        vacuumGraceMs = 0L))
      assert(rep.compacted)
    }
    info(f"quant  maintain               $n%2d jobs")
    check(Seq(("quant", "maintain") -> n))
  }

  test("jobs per mutation: ManifestScan table") {
    import graft.sources.ManifestScan
    import graft.store.ZoneRange
    val dir = graft.util.TempDirs.create("jobs_manifest").toString + "/tbl"
    val cols = Seq("id")
    ManifestScan.appendBatch(spark, dir, rows(0, 2000), cols, 0L)
    val out = Seq.newBuilder[((String, String), Long)]
    def rec(op: String)(body: => Any): Unit = {
      val n = counted(body)
      info(f"manifest $op%-20s $n%2d jobs")
      out += ("manifest", op) -> n
    }
    rec("appendBatch")(
      ManifestScan.appendBatch(spark, dir, rows(2000, 2200), cols, 1L))
    // files landed outside the log, for the refresh to index
    rows(2200, 2300).write.mode("append").parquet(s"$dir/extra")
    rec("refreshManifest")(ManifestScan.refreshManifest(spark, dir, cols))
    rec("delete")(ManifestScan.delete(spark, dir,
      Map("id" -> ZoneRange.I64R(100L, 149L)), cols))
    rec("upsert")(ManifestScan.upsert(spark, dir,
      rows(150, 250, shift = 0.5).unionByName(rows(2300, 2350)), "id", cols))
    rec("compact")(ManifestScan.compact(spark, dir, "id", 4, cols))
    ManifestScan.appendBatch(spark, dir, rows(2350, 2400), cols, 2L)
    rec("compactWhere")(ManifestScan.compactWhere(spark, dir,
      Map("id" -> ZoneRange.I64R(2000L, 2400L)), "id", 2, cols))
    check(out.result())
  }

  /** Query vector of stored id `i`, read before any counting. */
  private def vec(i: Long): Array[Double] =
    rows(i, i + 1).head.getSeq[Float](1).map(_.toDouble).toArray

  /** The shared read script on a freshly built table: a probed and an
    * exact search, the probe-depth audit and the recall-targeted search
    * it certifies (k = 10 on both), each counted in isolation.
    */
  private def readScript(layout: String, t: IndexTable,
      extra: Seq[(String, () => Any)] = Nil): Seq[((String, String), Long)] = {
    val q = vec(7L)
    val panel = (0L until 4L).map(vec)
    (Seq[(String, () => Any)](
      "search probed" -> (() => t.search(q, 10, 2).collect()),
      "search exact" -> (() => t.search(q, 10, t.maxDepth).collect()),
      "auditRecallCurve" -> (() => t.auditRecallCurve(panel, 10)),
      "searchAtRecall" -> (() => t.searchAtRecall(q, 10, 0.5).collect())) ++
      extra.map { case (op, f) => op -> f }).map { case (op, body) =>
        val n = counted(body())
        info(f"$layout%-6s $op%-22s $n%2d jobs")
        (layout, op) -> n
      }
  }

  test("jobs per read: all three layouts") {
    val dir = graft.util.TempDirs.create("jobs_read").toString
    val lsh = VectorStore.build(spark, rows(0, 2000), s"$dir/lsh",
      LshConfig(dim = Dim, seed = 7L))
    val mt = MultiTableStore.build(spark, rows(0, 2000), s"$dir/multi",
      LshConfig(numHashFunctions = 2, numHashTables = 3, dim = Dim,
        seed = 7L, multiTable = true))
    val qi = QuantIndex.build(spark, rows(0, 2000), s"$dir/quant",
      QuantConfig(ivfCells = 8))
    val q = vec(7L)
    val panel = (0L until 4L).map(vec)
    check(readScript("lsh", lsh) ++ readScript("multi", mt) ++
      readScript("quant", qi, Seq(
        "auditAdcRecallCurve" -> (() =>
          qi.auditAdcRecallCurve(panel, 10, QuantTier.Pq)),
        "searchAdcAtRecall" -> (() =>
          qi.searchAdcAtRecall(q, 10, 0.5, QuantTier.Pq)._1.collect()))))
  }

  /** The facade's read path on one layout: `/search` is `topK`
    * (which types its own vacuum failures) and `/add_vectors` is `add`
    * then `totalVectors`. `cells(p)` is the number of grid cells a
    * depth-p search reads; `t` is the hosted table, at `dir`.
    */
  private def facadeScript(layout: String, a: StoreAdapter, t: IndexTable,
      dir: String, cells: Int => Int, from: Long): Seq[((String, String), Long)] = {
    val q = vec(7L)
    val par = spark.sparkContext.defaultParallelism
    val added = counted {
      a.add(rows(from, from + 20))
      assert(a.totalVectors() == 2020L)
    }
    info(f"$layout%-6s add + totalVectors       $added%2d jobs")
    // the table's reader was planned before the add: the first search
    // after a commit plans nothing, and neither do 10 more commits
    val p0 = PreparedScan.planned.get()
    a.topK(q, 10, a.maxProbes)
    (0 until 10).foreach { i =>
      a.add(rows(from + 100 + i * 5, from + 105 + i * 5))
      a.topK(q, 10, a.maxProbes)
    }
    val plans = PreparedScan.planned.get() - p0
    assert(plans == 0L, s"$layout: searches after 11 commits planned $plans scans")
    val searches =
      Seq("facade search probed" -> 2, "facade search exact" -> a.maxProbes)
        .map { case (op, probes) =>
          val p1 = PreparedScan.planned.get()
          val l1 = FileLog.listings.get()
          val logRead = reads(FileLog.read(dir))
          val r1 = FsIo.reads.get()
          val (j, tasks, sql) = countedAll(a.topK(q, 10, probes))
          val searchReads = FsIo.reads.get() - r1
          info(f"$layout%-6s $op%-22s $j%2d jobs, $tasks%2d tasks, $sql SQL runs, " +
            s"$searchReads log reads")
          assert(PreparedScan.planned.get() == p1, s"$layout $op re-planned")
          assert(FileLog.listings.get() == l1, s"$layout $op listed the table")
          // the log is resolved once: the pointer and its delta chain
          assert(searchReads == logRead,
            s"$layout $op read $searchReads log files, one FileLog.read $logRead")
          assert(sql == 0L, s"$layout $op ran $sql SQL executions")
          assert(tasks <= math.min(cells(probes), par).toLong,
            s"$layout $op ran $tasks tasks over ${cells(probes)} cells")
          (layout, op) -> j
        }
    // a whole-table compaction commits a checkpoint record, so the
    // pointer alone resolves the snapshot: 1 read per search (the
    // `classified` pin around the search used to add a second)
    t.compact()
    val atCheckpoint = reads(a.topK(q, 10, a.maxProbes))
    info(f"$layout%-6s facade search at a checkpoint: $atCheckpoint log reads")
    assert(atCheckpoint == 1L, s"$layout read $atCheckpoint log files")
    ((layout, "add + totalVectors") -> added) +: searches
  }

  /** `FsIo.reads` (log and sidecar files parsed) that `body` made. */
  private def reads(body: => Any): Long = {
    val r0 = FsIo.reads.get()
    body
    FsIo.reads.get() - r0
  }

  test("jobs per facade search and add: all three layouts") {
    val dir = graft.util.TempDirs.create("jobs_facade").toString
    val lsh = VectorStore.build(spark, rows(0, 2000), s"$dir/lsh",
      LshConfig(numHashTables = 6, dim = Dim, seed = 7L))
    val mt = MultiTableStore.build(spark, rows(0, 2000), s"$dir/multi",
      LshConfig(numHashFunctions = 2, numHashTables = 3, dim = Dim,
        seed = 7L, multiTable = true))
    val qi = QuantIndex.build(spark, rows(0, 2000), s"$dir/quant",
      QuantConfig(ivfCells = 8))
    def upTo(n: Int)(p: Int): Int = math.min(p, n)
    // plan each table's reader, as the facade's warm-up search does
    val q = vec(7L)
    Seq[IndexTable](lsh, mt, qi).foreach(_.topK(q, 10, 1))
    check(
      facadeScript("lsh", new StoreAdapter.Lsh(spark, lsh), lsh, lsh.path,
        upTo(6), 5000) ++
      // the exact multi-table search reads table 0's 4 buckets
      facadeScript("multi", new StoreAdapter.Multi(spark, mt), mt, mt.path,
        p => if (p >= mt.maxDepth) 4 else p, 5000) ++
      facadeScript("quant", new StoreAdapter.Quant(spark, qi), qi, qi.dataDir,
        upTo(8), 5000))
  }

  test("snapshots resolve from the log: no job or file stat at 40 files; " +
      "delete and upsert past the 32-file listing threshold") {
    val dir = graft.util.TempDirs.create("jobs_snap").toString + "/lsh"
    val st = VectorStore.build(spark, rows(0, 2000), dir,
      LshConfig(numHashTables = 8, dim = Dim, seed = 7L))
    var next = 2000L
    while (FileLog.read(dir).files.size < 40) {
      st.add(rows(next, next + 100)); next += 100
    }
    val files = FileLog.read(dir).files
    val stats0 = FileLog.stats.get()
    val resolve = counted(st.indexDf.queryExecution.executedPlan)
    info(f"lsh    resolve ${files.size}-file snapshot $resolve%2d jobs, " +
      s"${FileLog.stats.get() - stats0} file stats")
    assert(FileLog.stats.get() == stats0, "resolving the snapshot stat'ed files")
    // the directory read it replaces lists > 32 paths with a Spark job
    val listing = counted(spark.read.parquet(files: _*))
    info(f"lsh    directory read of ${files.size} files $listing%2d jobs")
    assert(listing >= 1L)
    val del = counted(st.delete(0L until 50L))
    info(f"lsh    delete >32 files           $del%2d jobs")
    val ups = counted(st.upsert(rows(50, 150, shift = 0.5)))
    info(f"lsh    upsert >32 files           $ups%2d jobs")
    check(Seq(("lsh", "resolve 40-file snapshot") -> resolve,
      ("lsh", "delete >32 files") -> del, ("lsh", "upsert >32 files") -> ups))
  }
}
