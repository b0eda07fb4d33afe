package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.store.{QuantConfig, QuantIndex, QuantModel, QuantTier, VectorStore}
import graft.queries.VectorQueries
import graft.lsh.LshConfig

/** Round-4 index-shape guarantees: the quantized tiers are INDEXES —
  * codes persist at build, searches scan codes, and only the bounded
  * re-rank reads the float vectors.
  */
class QuantIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val idx: QuantIndex = {
    val dir = java.nio.file.Files.createTempDirectory("graft_quant_spec").toString
    QuantIndex.build(spark,
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")),
      s"$dir/index", QuantConfig())
  }

  private lazy val q: Array[Double] = VectorQueries.qvec(spark, TestSpark.sf, 0)

  private def readFields(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.queryExecution.executedPlan.collectLeaves()
      .collect { case f: FileSourceScanExec => f.requiredSchema.fieldNames.toSet }
      .foldLeft(Set.empty[String])(_ ++ _)

  test("build persists codes + cell partitions; reopen round-trips the model") {
    assert(idx.indexDf.columns.toSet ==
      Set("id", "embedding", "sq8", "i4", "pq", "sig", "pqr", "opq", "cell"))
    assert(idx.indexDf.count() == 500)
    val cells = new java.io.File(idx.path).listFiles
      .count(_.getName.startsWith("cell="))
    assert(cells > 1 && cells <= 16, s"unexpected cell partition count $cells")
    val re = QuantIndex.open(spark, idx.path)
    assert(re.model.mins.toSeq == idx.model.mins.toSeq)
    assert(re.model.pqBooks.flatten.flatten.toSeq ==
      idx.model.pqBooks.flatten.flatten.toSeq)
    assert(re.model.pqrBooks.flatten.flatten.toSeq ==
      idx.model.pqrBooks.flatten.flatten.toSeq)
    assert(re.model.ivfCentroids.flatten.toSeq ==
      idx.model.ivfCentroids.flatten.toSeq)
  }

  test("residual ivfpq prunes partitions, reads only residual codes, " +
    "and matches plain ivfpq recall") {
    val c = idx.coarseIvfPqResidual(q, nprobe = 2, n = 100)
    assert(readFields(c) == Set("id", "pqr"))
    val plan = c.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
    val scannedParts = c.queryExecution.executedPlan.collectLeaves()
      .collect { case f: FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters).size }
      .sum
    assert(scannedParts == 2, s"expected 2 probed cells, scanned $scannedParts")
    val got = idx.searchIvfPqResidual(q, 10).collect().map(_.getLong(0))
    assert(got.length == 10 && got.head == 0L)
    // residual codes should not recall fewer of the exact top-10 than
    // the raw-vector codes at the same byte budget on this corpus
    val exact = VectorStore.searchIn(
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")), q, 10)
      .collect().map(_.getLong(0)).toSet
    val plain = idx.searchTwoStage(QuantTier.Pq, q, 10, nprobe = 2).collect().map(_.getLong(0)).toSet
    assert((got.toSet intersect exact).size >= (plain intersect exact).size,
      s"residual recall ${(got.toSet intersect exact).size} < " +
        s"plain ${(plain intersect exact).size}")
  }

  test("coarse scans read ONLY the code columns, never the embeddings") {
    assert(readFields(idx.coarse(QuantTier.Sq8, q, 100)) == Set("id", "sq8"))
    assert(readFields(idx.coarse(QuantTier.Int4, q, 100)) == Set("id", "i4"))
    assert(readFields(idx.coarse(QuantTier.Pq, q, 100)) == Set("id", "pq"))
  }

  test("re-rank reads embeddings under a pushed id filter") {
    val cand = idx.candidateIds(idx.coarse(QuantTier.Pq, q, 100))
    assert(cand.size == 100)
    val rr = idx.exactDist(cand, q)
    assert(readFields(rr) == Set("id", "embedding"))
    val plan = rr.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(id"), plan)
  }

  test("ivf search prunes to nprobe cell partitions") {
    val s = idx.search(q, 10, 2)
    val plan = s.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
    val scannedParts = s.queryExecution.executedPlan.collectLeaves()
      .collect { case f: FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters).size }
      .sum
    assert(scannedParts == 2, s"expected 2 probed cells, scanned $scannedParts")
  }

  test("the IVF probe ranking is prefix-stable: nprobe p probes the " +
      "first p cells of the full ranking") {
    val m = idx.model
    val n = m.cfg.ivfCells
    val rnd = new scala.util.Random(17L)
    (q +: Seq.fill(20)(Array.fill(m.dim)(rnd.nextGaussian()))).foreach { v =>
      val full = m.ivfNearestCells(v, n)
      assert(full.sorted == (0 until n))
      (1 to n).foreach(p =>
        assert(m.ivfNearestCells(v, p) == full.take(p), s"nprobe=$p"))
    }
  }

  test("ivfpq coarse pass prunes partitions AND reads only code columns") {
    val c = idx.coarse(QuantTier.Pq, q, 100, nprobe = 2)
    assert(readFields(c) == Set("id", "pq"))
    val plan = c.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
    val scannedParts = c.queryExecution.executedPlan.collectLeaves()
      .collect { case f: FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters).size }
      .sum
    assert(scannedParts == 2, s"expected 2 probed cells, scanned $scannedParts")
    val got = idx.searchTwoStage(QuantTier.Pq, q, 10, nprobe = 2).collect().map(_.getLong(0))
    assert(got.length == 10 && got.head == 0L)
  }

  test("add encodes against the trained model and appended rows are searchable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_quant_add").toString
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val q2 = QuantIndex.build(spark, emb.where(col("id") < 400),
      s"$dir/index", QuantConfig())
    assert(q2.indexDf.count() == 400)
    q2.add(emb.where(col("id") >= 400)
      .select((col("id") + 10000).as("id"), col("embedding")))
    assert(q2.indexDf.count() == 500)
    // a duplicate of the query vector appended under a new id must be
    // found by every tier at distance 0
    val probe = emb.where(col("id") === 0)
      .select(lit(99999L).as("id"), col("embedding"))
    q2.add(probe)
    for ((name, df) <- Seq("sq8" -> q2.searchTwoStage(QuantTier.Sq8, q, 2),
                           "pq" -> q2.searchTwoStage(QuantTier.Pq, q, 2),
                           "ivf" -> q2.search(q, 2, 2))) {
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(_._1).toSet == Set(0L, 99999L) &&
        got.forall(_._2 == 0.0),
        s"$name should find both zero-distance copies: $got")
    }
  }

  test("delete rewrites only affected cells and removed ids vanish from every tier") {
    val dir = java.nio.file.Files.createTempDirectory("graft_quant_del").toString
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val qd = QuantIndex.build(spark, emb, s"$dir/index", QuantConfig())
    // vec 0 is its own nearest neighbor everywhere; delete it
    assert(qd.delete(Seq(0L, 1L, 2L)) == 3L)
    assert(qd.indexDf.count() == 497)
    assert(qd.delete(Seq(0L)) == 0L, "idempotent")
    for ((name, df) <- Seq("sq8" -> qd.searchTwoStage(QuantTier.Sq8, q, 10),
                           "pq" -> qd.searchTwoStage(QuantTier.Pq, q, 10),
                           "ivf" -> qd.search(q, 10, 2),
                           "ivfpq" -> qd.searchTwoStage(QuantTier.Pq, q, 10, nprobe = 2))) {
      val got = df.collect().map(_.getLong(0)).toSet
      assert(!got.exists(Set(0L, 1L, 2L)), s"$name returned a deleted id: $got")
    }
  }

  test("upsert replaces ids across cells; every tier sees the new embedding") {
    val dir = java.nio.file.Files.createTempDirectory("graft_quant_up").toString
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val qu = QuantIndex.build(spark, emb, s"$dir/index", QuantConfig())
    // re-embed ids 50..99 with the QUERY vector (cells change for most)
    val dup = emb.where(col("id") === 0).select(col("embedding")).head
      .getSeq[Float](0)
    import spark.implicits._
    val batch = (50L until 100L).map(i => (i, dup)).toDF("id", "embedding")
    qu.upsert(batch)
    assert(qu.indexDf.count() == 500, "pure replacement keeps the count")
    assert(qu.indexDf.groupBy("id").count()
      .where(col("count") > 1).count() == 0, "no duplicate ids")
    // all 50 replacements + vec 0 itself are at distance 0 from q
    val top = qu.searchTwoStage(QuantTier.Sq8, q, 51, coarseN = 200).collect()
    assert(top.length == 51 && top.forall(_.getDouble(1) == 0.0),
      s"expected 51 zero-distance rows, got ${top.count(_.getDouble(1) == 0.0)}")
  }

  test("quantized searches recall most of the exact top-10 and are deterministic") {
    val exact = VectorStore.searchIn(
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")), q, 10)
      .collect().map(_.getLong(0)).toSet
    for ((name, df) <- Seq("sq8" -> idx.searchTwoStage(QuantTier.Sq8, q, 10),
                           "int4" -> idx.searchTwoStage(QuantTier.Int4, q, 10),
                           "pq" -> idx.searchTwoStage(QuantTier.Pq, q, 10))) {
      val got = df.collect().map(_.getLong(0))
      assert(got.length == 10)
      assert((got.toSet intersect exact).size >= 6,
        s"$name recall too low: ${(got.toSet intersect exact).size}/10")
      assert(got.head == 0L, s"$name should return the query vector first")
    }
    val a = idx.searchTwoStage(QuantTier.Pq, q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = idx.searchTwoStage(QuantTier.Pq, q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("512-D vectors (reference dim) through quant build → search and " +
    "LSH store build → search → delete → upsert") {
    // Deterministic synthetic 512-D corpus: 64 clustered vectors.
    val dim = 512
    val rnd = new scala.util.Random(7L)
    val base = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = (0 until 64).map { i =>
      val b = base(i % 8)
      (i.toLong, b.map(x => (x + 0.01 * rnd.nextGaussian()).toFloat).toSeq)
    }
    import spark.implicits._
    val df = rows.toDF("id", "embedding")
    val qv = rows.head._2.map(_.toDouble).toArray

    val qdir = java.nio.file.Files.createTempDirectory("graft_q512").toString
    val q512 = QuantIndex.build(spark, df, s"$qdir/index",
      QuantConfig(pqSubspaces = 8, ivfCells = 8, sampleCap = 64))
    assert(q512.model.dim == dim && q512.model.sub == 64)
    val hits = q512.searchTwoStage(QuantTier.Pq, qv, 5, coarseN = 32).collect().map(_.getLong(0))
    assert(hits.head == 0L, s"512-D PQ search should find the query first: ${hits.toSeq}")
    assert(q512.search(qv, 5, 2).collect().map(_.getLong(0)).head == 0L)

    val sdir = java.nio.file.Files.createTempDirectory("graft_s512").toString
    val store = VectorStore.build(spark, df, s"$sdir/index",
      LshConfig(dim = dim, seed = 42L))
    assert(store.search(qv, 3, 3).collect().map(_.getLong(0)).head == 0L)
    assert(store.delete(Seq(1L, 2L)) == 2L)
    assert(store.indexDf.count() == 62)
    // upsert: replace id 3 with a copy of the query vector, add id 100
    val up = Seq((3L, rows.head._2), (100L, rows.head._2)).toDF("id", "embedding")
    store.upsert(up)
    assert(store.indexDf.count() == 63)
    val top = store.search(qv, 3, store.model.numBuckets)
      .collect().map(_.getLong(0)).toSet
    assert(top.contains(3L) && top.contains(100L),
      s"upserted 512-D duplicates of the query should lead: $top")
  }
  test("compact merges per-cell small files; searches unchanged") {
    val spark2 = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft_quant_cpt").toString
    val emb = Tables.embeddings(spark2, TestSpark.sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val i2 = QuantIndex.build(spark2, emb.where(col("id") < 200),
      s"$dir/index", QuantConfig())
    (1 to 3).foreach { b =>
      i2.add(emb.where(col("id") >= b * 100 + 100 && col("id") < b * 100 + 200))
    }
    val before10 = i2.searchTwoStage(QuantTier.Sq8, q, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (fBefore, fAfter) = i2.compact()
    assert(fAfter < fBefore, s"compaction did not reduce files: $fBefore -> $fAfter")
    val after10 = i2.searchTwoStage(QuantTier.Sq8, q, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after10 == before10)
    assert(i2.indexDf.count() == 500)
  }

  test("the coarseN audit and the coarse search agree on every ADC tier") {
    val (k, n) = (10, 15)
    val exact = VectorStore.searchIn(idx.indexDf, q, k)
      .collect().map(_.getLong(0)).toSet
    Seq(QuantTier.Sq8, QuantTier.Int4, QuantTier.Pq, QuantTier.Opq,
        QuantTier.Bitq).foreach { tier =>
      val found = idx.candidateIds(idx.coarse(tier, q, n)).toSet
      val recall = (found intersect exact).size.toDouble / k
      assert(idx.auditAdcRecallCurve(Seq(q), k, tier, Seq(n)) == Seq(n -> recall),
        s"tier $tier")
    }
  }
}
