package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lsh.LshConfig
import graft.server.StoreAdapter
import graft.store.{FileLog, IndexTable, MultiTableStore, QuantConfig,
  QuantIndex, QuantTier, RecallCurves, VectorStore}

/** The shared index-table kernel seen through the multi-table layout
  * (the one that gained `upsert` from it), the one recall-curve sidecar
  * format every layout persists, and the one certification rule every
  * depth picker applies.
  */
class IndexTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Dim = 16

  private def rows(lo: Long, hi: Long, shift: Double = 0.0): DataFrame =
    spark.range(lo, hi).select(col("id"),
      transform(sequence(lit(0), lit(Dim - 1)),
        j => (hash(col("id"), j).cast("double") / lit(2147483648.0) +
          lit(shift)).cast("float")).as("embedding"))

  private val L = 3

  private def multi(name: String): MultiTableStore =
    MultiTableStore.build(spark, rows(0, 500),
      graft.util.TempDirs.create(name).toString + "/index",
      LshConfig(numHashFunctions = 3, numHashTables = L, dim = Dim,
        seed = 11L, multiTable = true))

  /** (table, bucket) partitions of `id`, read from the partition columns. */
  private def partsOf(st: MultiTableStore, id: Long): Set[(Int, Int)] =
    st.indexDf.where(col("id") === id)
      .select(col("table").cast("int"), col("bucket").cast("int"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet

  test("MultiTableStore.upsert moves an id: exactly L copies, none left behind") {
    val st = multi("it_mt_upsert")
    // an id whose new embedding changes its bucket in at least one table
    val moved = (0L until 500L).find { id =>
      val before = partsOf(st, id)
      val after = MultiTableStore.testEncode(rows(id, id + 1, shift = 0.7),
        st.model).select(col("table").cast("int"), col("bucket").cast("int"))
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      before != after
    }.get
    val v0 = FileLog.read(st.path).version
    st.upsert(rows(moved, moved + 1, shift = 0.7).unionByName(rows(900, 901)))
    assert(FileLog.read(st.path).version == v0 + 1, "upsert is one commit")
    val want = MultiTableStore.testEncode(rows(moved, moved + 1, shift = 0.7),
      st.model).select(col("table").cast("int"), col("bucket").cast("int"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(st.indexDf.where(col("id") === moved).count() == L)
    assert(partsOf(st, moved) == want)
    assert(st.indexDf.where(col("id") === 900L).count() == L)
    assert(st.indexDf.count() == 501L * L)
    // the stored embedding is the new one in every copy
    val q = rows(moved, moved + 1, shift = 0.7).head.getSeq[Float](1)
      .map(_.toDouble).toArray
    assert(st.search(q, 1, st.maxDepth).head.getLong(0) == moved)
  }

  test("MultiTableStore.applyChanges: an insert-only window is one commit") {
    val st = multi("it_mt_feed")
    val feed = rows(100, 110, shift = 0.3).unionByName(rows(700, 720))
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(1L))
    val v0 = FileLog.read(st.path).version
    assert(st.applyChanges(feed) == ((30L, 0L)))
    assert(FileLog.read(st.path).version == v0 + 1)
    assert(st.indexDf.count() == 520L * L)
    assert(st.indexDf.select("id").distinct().count() == 520L)
  }

  test("recall-curve sidecar: round trip, and the exact text of the format") {
    val dir = graft.util.TempDirs.create("it_curve").toString
    // curve files already on disk must keep parsing, and rewrites
    // must reproduce them byte for byte
    val legacy = """{"k":10,"panel":3,"recall":[""" +
      """5.00000000000000000e-01,7.50000000000000000e-01,""" +
      """1.00000000000000000e+00]}"""
    val c = RecallCurves.parse(legacy)
    assert(c == RecallCurves.Curve(10, 3, Nil, Seq(0.5, 0.75, 1.0)))
    assert(RecallCurves.render(c) == legacy)
    val adc = """{"k":5,"panel":2,"depths":[10,25],"recall":[""" +
      """2.50000000000000000e-01,1.00000000000000000e+00]}"""
    assert(RecallCurves.parse(adc) ==
      RecallCurves.Curve(5, 2, Seq(10, 25), Seq(0.25, 1.0)))
    assert(RecallCurves.render(RecallCurves.parse(adc)) == adc)
    val path = s"$dir/_recall_curve.json"
    assert(RecallCurves.read(path).isEmpty)
    val odd = RecallCurves.Curve(10, 7, Nil, Seq(1.0 / 3, 2.0 / 3, 0.1 + 0.2))
    RecallCurves.write(path, odd)
    assert(RecallCurves.read(path).contains(odd)) // %.17e is exact
  }

  test("recall-curve sidecar: a curve deleted while it is read reads as " +
      "None, never as an error") {
    val path = graft.util.TempDirs.create("it_curve_race").toString +
      "/_recall_curve.json"
    val c = RecallCurves.Curve(10, 1, Nil, Seq(1.0))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // a commit's invalidation racing the audit that rewrites the curve
    val churn = new Thread(() =>
      while (!stop.get()) {
        RecallCurves.write(path, c)
        graft.util.FsIo.delete(path)
      })
    churn.start()
    try {
      val t0 = System.nanoTime()
      var seen = Set.empty[Option[RecallCurves.Curve]]
      while (System.nanoTime() - t0 < 1500000000L)
        seen += RecallCurves.read(path)
      assert(seen.subsetOf(Set(None, Some(c))))
    } finally { stop.set(true); churn.join() }
  }

  test("multi-table recall audit: one corpus scan, curve persisted and invalidated") {
    val st = multi("it_mt_audit")
    val panel = (0L until 4L).map(i =>
      rows(i, i + 1).head.getSeq[Float](1).map(_.toDouble).toArray)
    val frame = st.auditFrame(panel, 5)
    val scans = frame.queryExecution.optimizedPlan.collectLeaves()
      .count(_.isInstanceOf[LogicalRelation])
    assert(scans == 1, frame.queryExecution.optimizedPlan.treeString)
    val curve = st.auditRecallCurve(panel, k = 5)
    assert(curve.size == L * 3 && curve.zip(curve.tail).forall(p => p._1 <= p._2))
    assert(st.recallCurve().contains((5, curve)))
    st.delete(Seq(0L))
    assert(st.recallCurve().isEmpty, "a data change drops the curve")
  }

  private def vec(i: Long): Array[Double] =
    rows(i, i + 1).head.getSeq[Float](1).map(_.toDouble).toArray

  private def hits(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("a curve audited at k=10 certifies no depth at k=5, on every layout") {
    val dir = graft.util.TempDirs.create("it_kaware").toString
    val lsh = VectorStore.build(spark, rows(0, 500), s"$dir/lsh",
      LshConfig(dim = Dim, seed = 11L))
    val qi = QuantIndex.build(spark, rows(0, 500), s"$dir/quant",
      QuantConfig(ivfCells = 4, tiers = Set(QuantTier.Pq)))
    val panel = (0L until 4L).map(vec)
    val q = panel.head
    Seq[IndexTable](lsh, multi("it_kaware_mt"), qi).foreach { t =>
      t.auditRecallCurve(panel, 10)
      assert(t.depthForRecall(0.0, 10).contains(1))
      assert(t.depthForRecall(0.0, 5).isEmpty, t.getClass.getSimpleName)
      assert(hits(t.searchAtRecall(q, 5, 0.0)) == hits(t.search(q, 5, t.maxDepth)))
    }
    assert(new StoreAdapter.Lsh(spark, lsh).probesFor(0.0, 5) == lsh.maxDepth)
    qi.auditAdcRecallCurve(panel, 10, QuantTier.Pq, Seq(10, 50))
    assert(qi.coarseNForRecall(0.0, 10, QuantTier.Pq).contains(10))
    assert(qi.coarseNForRecall(0.0, 5, QuantTier.Pq).isEmpty)
    assert(qi.searchAdcAtRecall(q, 5, 0.0, QuantTier.Pq)._2 == -1)
  }
}
