package graft

import java.lang.Double.doubleToRawLongBits

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.lsh.LshConfig
import graft.sources.{GraftLogFileIndex, ManifestScan}
import graft.store.{FileLog, IndexTable, MultiTableStore, PreparedScan,
  QuantConfig, QuantIndex, QuantTier, SnapshotVacuumedException, VectorStore}

/** Snapshot reads through the log-backed file index
  * ([[GraftLogFileIndex]]): every logged snapshot reads the same frame
  * a directory read of its files under the logged schema gives — schema
  * (column order and nullability), rows and input files — on every
  * layout and table shape; `topK` over the reused reader equals the
  * DataFrame search through every kind of commit.
  */
class SnapshotReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Dim = 8

  private def vecs(lo: Long, hi: Long, seed: Long): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (lo until hi).map(id => (id, Array.fill(Dim)(rnd.nextGaussian().toFloat)))
  }

  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame = {
    val sess = spark
    import sess.implicits._
    rows.toDF("id", "embedding")
  }

  private def dir(name: String): String =
    graft.util.TempDirs.create(name).toString + "/index"

  /** How every snapshot was read before the log-backed index: a
    * directory read of its files under the logged schema.
    */
  private def directoryRead(d: String, st: FileLog.State): DataFrame =
    spark.read.schema(StructType.fromDDL(st.schemaDdl))
      .option("basePath", d).parquet(st.files: _*)

  private def sameFrame(label: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema, s"$label: schema")
    // a listing reports `file:///x` where the log records `file:/x`
    def norm(df: DataFrame) =
      df.inputFiles.map(f => new java.net.URI(f).getPath).sorted.toSeq
    assert(norm(got) == norm(want), s"$label: input files")
    assert(got.count() == want.count(), s"$label: rows")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"$label: rows differ")
  }

  /** Build, add and delete on a store, then check its frame and the
    * `graftlog` reader's against the directory read, partition by
    * partition.
    */
  private def layoutCase(label: String, d: String, t: IndexTable,
      partCol: String): Unit = {
    t.add(frame(vecs(300, 360, 2L)))
    t.delete((0L until 300L by 9).toSeq)
    val st = FileLog.read(d)
    assert(st.files.forall(st.sizes.contains), s"$label: unlogged sizes")
    val want = directoryRead(d, st)
    sameFrame(s"$label indexDf", t.indexDf, want)
    val viaReader = spark.read.format("graftlog").load(d)
    sameFrame(s"$label graftlog", viaReader, want)
    def perPartition(df: DataFrame) =
      df.groupBy(col(partCol)).count().collect()
        .map(r => (r.get(0), r.getLong(1))).toSet
    val counts = perPartition(t.indexDf)
    assert(!counts.exists(_._1 == null), s"$label: null $partCol")
    assert(perPartition(viaReader) == counts, s"$label graftlog partitions")
  }

  test("the log-backed frame equals the directory read on all three " +
      "layouts, and graftlog reads their partition columns") {
    val lsh = dir("snap_lsh")
    layoutCase("lsh", lsh, VectorStore.build(spark, frame(vecs(0, 300, 1L)),
      lsh, LshConfig(numHashFunctions = 3, numHashTables = 4, dim = Dim,
        seed = 3L)), "bucket")
    val multi = dir("snap_multi")
    layoutCase("multi", multi, MultiTableStore.build(spark,
      frame(vecs(0, 300, 1L)), multi, LshConfig(numHashFunctions = 2,
        numHashTables = 3, dim = Dim, seed = 3L, multiTable = true)), "table")
    val quant = dir("snap_quant")
    layoutCase("quant", quant, QuantIndex.build(spark, frame(vecs(0, 300, 1L)),
      quant, QuantConfig(pqSubspaces = 4, ivfCells = 6,
        tiers = Set(QuantTier.Pq))), "cell")
  }

  test("a log with no sizes stats each file once and reads the same frame") {
    val d = dir("snap_nosizes")
    val st0 = VectorStore.build(spark, frame(vecs(0, 300, 1L)), d,
      LshConfig(numHashFunctions = 3, numHashTables = 3, dim = Dim, seed = 3L))
    val logged = FileLog.read(d)
    // a log written before sizes were recorded: files and schema only
    FileLog.commit(spark, d, logged.files, logged.schemaDdl)
    val st = FileLog.read(d)
    assert(st.sizes.isEmpty)
    val stats0 = FileLog.stats.get()
    val store = VectorStore.open(spark, d)
    sameFrame("no sizes", store.indexDf, directoryRead(d, st))
    assert(FileLog.stats.get() - stats0 == st.files.size.toLong)
    val q = vecs(0, 1, 1L).head._2.map(_.toDouble)
    assert(store.topK(q, 5, store.maxDepth).toSeq ==
      store.search(q, 5, store.maxDepth).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assert(st0.numVectors() == 300L)
  }

  test("an adopted flat directory and an evolved schema read the same " +
      "frame as the directory read") {
    val sess = spark
    import sess.implicits._
    val d = graft.util.TempDirs.create("snap_flat").toString + "/tbl"
    // an unlogged flat directory, then an append that adopts it
    Seq((1L, "a"), (2L, "b")).toDF("id", "grp").coalesce(1)
      .write.parquet(d)
    assert(!FileLog.exists(d))
    ManifestScan.appendBatch(spark, d,
      Seq((3L, "c"), (4L, "d")).toDF("id", "grp").coalesce(1), Seq("id"), 0L)
    val adopted = FileLog.read(d)
    assert(adopted.files.size == 2 && adopted.files.forall(adopted.sizes.contains))
    sameFrame("adopted", spark.read.format("graftlog").load(d),
      directoryRead(d, adopted))
    sameFrame("adopted manifest", ManifestScan.readPrunedRanges(spark, d,
      Map.empty)._1, directoryRead(d, adopted))
    // a batch that widens the schema: older files read `extra` as null
    ManifestScan.appendBatch(spark, d,
      Seq((5L, "e", 50L)).toDF("id", "grp", "extra").coalesce(1), Seq("id"), 1L)
    val evolved = FileLog.read(d)
    val got = spark.read.format("graftlog").load(d)
    sameFrame("evolved", got, directoryRead(d, evolved))
    assert(got.where($"extra".isNull).count() == 4L)
    assert(GraftLogFileIndex.read(spark, d, evolved).columns.toSeq ==
      Seq("id", "grp", "extra"))
  }

  private def agree(label: String, t: IndexTable, qs: Seq[Array[Double]]): Unit =
    for (q <- qs; k <- Seq(1, 10, 100); depth <- Seq(1, 2, t.maxDepth)) {
      val want = t.search(q, k, depth).collect()
        .map(r => (r.getLong(0), doubleToRawLongBits(r.getDouble(1)))).toSeq
      val got = t.topK(q, k, depth).map(x => (x._1, doubleToRawLongBits(x._2))).toSeq
      assert(got == want, s"$label k=$k depth=$depth")
    }

  test("topK over the reused reader equals search through add, delete, " +
      "upsert, compact and a rebuild that changes ivfCells") {
    val d = dir("snap_topk")
    val base = vecs(0, 300, 7L)
    val qs = base.take(3).map(_._2.map(_.toDouble)) :+
      Array.fill(Dim)(0.25)
    def cfg(cells: Int) = QuantConfig(pqSubspaces = 4, ivfCells = cells,
      tiers = Set(QuantTier.Pq))
    val idx = QuantIndex.build(spark, frame(base), d, cfg(6))
    agree("build", idx, qs)
    val plans = PreparedScan.planned.get()
    idx.add(frame(vecs(300, 340, 8L)))
    agree("add", idx, qs)
    idx.delete((0L until 340L by 5).toSeq)
    agree("delete", idx, qs)
    idx.upsert(frame(vecs(1, 40, 9L)))
    agree("upsert", idx, qs)
    idx.compact(targetRowsPerFile = 64, vacuumGraceMs = 0L)
    agree("compact", idx, qs)
    // one reader for the table's schema: later snapshots plan nothing
    assert(PreparedScan.planned.get() == plans, "a commit re-planned the scan")
    val rebuilt = QuantIndex.build(spark, frame(base), d, cfg(4))
    assert(rebuilt.maxDepth == 4)
    agree("rebuilt", QuantIndex.open(spark, d), qs)
  }

  test("a reader racing an ungraced vacuum gets SnapshotVacuumedException") {
    val d = dir("snap_vacuum")
    val st = VectorStore.build(spark, frame(vecs(0, 200, 3L)), d,
      LshConfig(numHashFunctions = 3, numHashTables = 3, dim = Dim, seed = 5L))
    st.add(frame(vecs(200, 220, 4L)))
    val q = vecs(0, 1, 3L).head._2.map(_.toDouble)
    st.topK(q, 3, st.maxDepth) // the reader is planned
    val pinned = FileLog.read(d)
    st.compact(vacuumGraceMs = 0L)
    // a snapshot the memo never held, built from the log now; the
    // search types the failure against the version it pinned
    intercept[SnapshotVacuumedException](
      st.topKAt(pinned.copy(files = pinned.files.reverse), q, 3, st.maxDepth))
  }
}
