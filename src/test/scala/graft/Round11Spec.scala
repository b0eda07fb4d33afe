package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-11 pins: Avro corrupt-container quarantine, quantizer
  * retraining on drift, recall-targeted search.
  */
class Round11Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // ------------------------------------------------------- avrograft

  private def stageCorruptAvroDir(): (String, Long) = {
    val sess = spark
    import sess.implicits._
    val dir = graft.util.TempDirs.create("graft_avro_q").toString
    (0L until 100L).map(i => (i, s"doc$i")).toDF("id", "name")
      .coalesce(1).write.mode("overwrite").format("avrograft")
      .option("syncInterval", "256").save(dir)
    val clean = spark.read.format("avrograft").load(dir).count()
    assert(clean == 100)
    // a container truncated mid-block (valid header, torn data): the
    // first 70% of a valid file's bytes
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    java.nio.file.Files.write(
      new java.io.File(dir, "part-zz-truncated.avro").toPath,
      java.util.Arrays.copyOfRange(bytes, 0, bytes.length * 7 / 10))
    // a container whose header itself is garbage — and it SORTS FIRST,
    // so permissive schema inference must skip past it too
    java.nio.file.Files.write(
      new java.io.File(dir, "part-aa-garbage.avro").toPath,
      Array.fill[Byte](256)(0x5A))
    (dir, clean)
  }

  test("avrograft FAILFAST (default) dies loudly on a corrupt container") {
    val (dir, _) = stageCorruptAvroDir()
    intercept[Exception] {
      spark.read.format("avrograft").load(dir).count()
    }
  }

  test("avrograft PERMISSIVE quarantines corrupt containers, keeps clean rows") {
    val (dir, clean) = stageCorruptAvroDir()
    val perm = spark.read.format("avrograft")
      .option("mode", "permissive").load(dir)
    val n = perm.count()
    // all clean rows + a (possibly empty) decoded prefix of the
    // truncated container; the garbage-header file contributes zero
    assert(n >= clean && n < 2 * clean,
      s"expected [$clean, ${2 * clean}) rows, got $n")
    // every clean id survived (the truncated file can only duplicate a
    // prefix of them, never remove any)
    val counts = perm.groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until clean).foreach { i =>
      assert(counts.getOrElse(i, 0L) >= 1L, s"clean id $i lost")
    }
    // prefix semantics: duplicated ids (from the truncated copy) are a
    // contiguous prefix of the clean id order written above
    val dup = counts.filter(_._2 > 1).keys.toSeq.sorted
    assert(dup == (0L until dup.length.toLong),
      s"truncated container must yield a record PREFIX, got $dup")
  }

  // ------------------------------------------------ quantizer retrain

  test("retrain on a drifted corpus strictly improves 1-probe recall@10") {
    import graft.store.{QuantConfig, QuantIndex}
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val dir = graft.util.TempDirs.create("graft_retrain").toString + "/index"
    // Base corpus: the embedding distribution squashed to 1% spread —
    // the coarse centroids all train inside a tiny blob, so their
    // Voronoi boundaries slice the FULL-scale space arbitrarily.
    val base = emb.where(col("vec_id") < 400)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x * 0.01 AS DOUBLE))")
          .as("embedding"))
    val idx = QuantIndex.build(spark, base, dir, QuantConfig())
    // Drift: the full-scale distribution arrives as new rows. add()
    // encodes them against the STALE model (FAISS add-after-train
    // semantics) — exactly the situation the e18 audit measures.
    idx.add(emb.where(col("vec_id") < 500)
      .select((col("vec_id") + 10000L).as("id"),
        col("embedding").cast("array<double>").as("embedding")))
    val panel = (0L until 15L)
      .map(i => graft.queries.VectorQueries.qvec(spark, TestSpark.sf, i))
    val pre = idx.recallAtK(panel, k = 10, nprobe = 1)
    val retrained = idx.retrain()
    val post = retrained.recallAtK(panel, k = 10, nprobe = 1)
    assert(retrained.indexDf.count() == 900, "retrain must not lose rows")
    assert(pre < 0.9,
      f"fixture broken: stale-model recall should be poor, got $pre%.3f")
    assert(post > pre,
      f"retrain must improve drifted recall: pre=$pre%.3f post=$post%.3f")
    // the retrained index still serves every search tier
    assert(retrained.searchTwoStage(graft.store.QuantTier.Sq8, panel.head, 10).count() == 10)
    assert(retrained.searchIvfPqResidual(panel.head, 10).count() == 10)
    // and reopens from disk with the NEW model
    val reopened = QuantIndex.open(spark, dir)
    assert(reopened.model.ivfCentroids.flatten.toSeq ==
      retrained.model.ivfCentroids.flatten.toSeq)
  }

  // ------------------------------------------- recall-targeted search

  test("recall curve is measured, persisted, monotone; probe choice pinned") {
    import graft.lsh.LshConfig
    import graft.store.VectorStore
    val dir = graft.util.TempDirs.create("graft_sar").toString + "/index"
    val store = VectorStore.build(spark,
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")),
      dir, LshConfig(numHashTables = 16, dim = 64, seed = 42L))
    val panel = (0L until 8L)
      .map(i => graft.queries.VectorQueries.qvec(spark, TestSpark.sf, i))
    val curve = store.auditRecallCurve(panel, k = 10)
    assert(curve.length == 16)
    // candidate sets grow as prefixes, so measured recall is monotone
    // nondecreasing in probes, and all-bucket probing is exact
    curve.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-12, s"curve not monotone: $curve")
    }
    assert(math.abs(curve.last - 1.0) < 1e-12,
      s"probes=numBuckets must be exact, curve=$curve")
    // persisted and reloaded
    val reopened = VectorStore.open(spark, dir)
    val (k, loaded) = reopened.recallCurve().get
    assert(k == 10 && loaded.size == 16)
    loaded.zip(curve).foreach { case (l, c) => assert(math.abs(l - c) < 1e-12) }
    // probe choice: smallest p whose MEASURED recall meets the target
    Seq(0.2, 0.5, 0.9).foreach { target =>
      val p = reopened.depthForRecall(target, 10).getOrElse(reopened.maxDepth)
      assert(curve(p - 1) >= target, s"chosen p=$p misses $target")
      assert(p == 1 || curve(p - 2) < target,
        s"p=$p not minimal for $target on $curve")
    }
    // an unachievable target degenerates to exact search, and a store
    // with no persisted audit does too (never under-deliver)
    assert(reopened.depthForRecall(1.1, 10).getOrElse(reopened.maxDepth) == 16)
    val q0 = panel.head
    val exact = store.search(q0, 10, 16)
      .collect().map(_.getLong(0)).toSeq
    assert(reopened.searchAtRecall(q0, 10, 1.0)
      .collect().map(_.getLong(0)).toSeq == exact)
    val unaudited = VectorStore.build(spark,
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")),
      graft.util.TempDirs.create("graft_sar2").toString + "/index",
      LshConfig(numHashTables = 16, dim = 64, seed = 42L))
    assert(unaudited.depthForRecall(0.5, 10).getOrElse(unaudited.maxDepth) == 16)
  }

  test("avrograft PERMISSIVE on clean files matches default mode exactly") {
    val sess = spark
    import sess.implicits._
    val dir = graft.util.TempDirs.create("graft_avro_clean").toString
    (0L until 50L).map(i => (i, i * 2.5)).toDF("id", "x")
      .write.mode("overwrite").format("avrograft").save(dir)
    val a = spark.read.format("avrograft").load(dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val b = spark.read.format("avrograft").option("mode", "permissive")
      .load(dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(a == b)
  }
}
