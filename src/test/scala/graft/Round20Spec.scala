package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.store.{FileLog, QuantConfig, QuantIndex, QuantModel, QuantTier,
  VectorStore}
import graft.lsh.LshConfig

/** Round-20 pins (the r13 verdict tasks + ADVICE items):
  *
  *  1. TIER-SELECTIVE quant builds: an unselected tier trains
  *     nothing, writes no column, and its search refuses with a
  *     rebuild hint; the selected tiers' searches are bit-identical
  *     to an all-tiers build's (selection changes cost, never
  *     results). Model persistence round-trips the selection.
  *  2. e15's audit frame gates the opq row on the trained tier
  *     instead of throwing on the missing column.
  *  3. `seqCol` on the index-store upserts picks a deterministic
  *     winner among duplicate ids regardless of the batch's
  *     partition layout (the ManifestScan.upsert contract, ported).
  *  4. FileLog.read never surfaces a raw FileNotFoundException under
  *     a racing commit+grace-0-vacuum loop (the fast-path probe's
  *     vacuum window, r13 ADVICE #1).
  *  5. commitRewrite refuses to resurrect a column a concurrent
  *     commit dropped (the schema-union merge's blind spot, r13
  *     ADVICE #4) while still merging past widenings.
  */
class Round20Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fresh(tag: String): String =
    graft.util.TempDirs.create(s"graft_r20_$tag").toString

  private def embRows(n: Int) = {
    Tables.embeddings(spark, TestSpark.sf)
      .where(col("vec_id") < n)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("embedding"))
  }

  // ------------------------------------ 1. tier-selective builds

  test("pq-only build stores only the pq code column and matches the " +
      "all-tiers build's pq search") {
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0L)
    val all = QuantIndex.build(spark, embRows(300),
      fresh("tiers_all") + "/index", QuantConfig())
    val pqOnly = QuantIndex.build(spark, embRows(300),
      fresh("tiers_pq") + "/index",
      QuantConfig(tiers = Set(QuantTier.Pq)))

    // schema: exactly the base columns + pq + the (always-on)
    // partition column — no sq8/i4/sig/pqr/opq encode passes ran
    assert(pqOnly.indexDf.columns.toSet ==
      Set("id", "embedding", "pq", "cell"))
    assert(all.indexDf.columns.toSet ==
      Set("id", "embedding", "sq8", "i4", "pq", "sig", "cell", "pqr", "opq"))

    // training skipped the unselected models entirely
    assert(!pqOnly.model.sq8Enabled && !pqOnly.model.pqrEnabled &&
      !pqOnly.model.opqEnabled)
    assert(pqOnly.model.pqEnabled)

    // identical results where the tier exists: same codebooks (same
    // seed, same sample), same search
    val a = all.searchTwoStage(QuantTier.Pq, q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = pqOnly.searchTwoStage(QuantTier.Pq, q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.toSeq == b.toSeq)

    // an unselected tier refuses with a rebuild hint, not a plan error
    val e1 = intercept[IllegalArgumentException](pqOnly.searchTwoStage(QuantTier.Sq8, q, 10))
    assert(e1.getMessage.contains("sq8"))
    val e2 = intercept[IllegalArgumentException](pqOnly.searchTwoStage(QuantTier.Bitq, q, 10))
    assert(e2.getMessage.contains("sig"))
    val e3 = intercept[IllegalArgumentException](
      pqOnly.searchIvfPqResidual(q, 10))
    assert(e3.getMessage.contains("pqr"))
    // IVF search needs no code column — always available
    assert(pqOnly.search(q, 10, 2).count() == 10)
  }

  test("i4-only build derives nibble codes without storing sq8; " +
      "persistence round-trips the tier selection") {
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 1L)
    val dir = fresh("tiers_i4") + "/index"
    val i4Only = QuantIndex.build(spark, embRows(256), dir,
      QuantConfig(tiers = Set(QuantTier.Int4)))
    assert(i4Only.indexDf.columns.toSet == Set("id", "embedding", "i4", "cell"))
    // the SQ8 STATS are trained (i4 derives from the grid) but the
    // sq8 column is not stored
    assert(i4Only.model.sq8Enabled)

    val all = QuantIndex.build(spark, embRows(256),
      fresh("tiers_i4_all") + "/index", QuantConfig())
    val a = all.searchTwoStage(QuantTier.Int4, q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = i4Only.searchTwoStage(QuantTier.Int4, q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.toSeq == b.toSeq)

    // reopen from disk: the selection survives the model JSON
    val reopened = QuantIndex.open(spark, dir)
    assert(reopened.model.cfg.tiers == Set(QuantTier.Int4))
    assert(reopened.model.sq8Enabled && !reopened.model.pqEnabled)
    val c = reopened.searchTwoStage(QuantTier.Int4, q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(c.toSeq == a.toSeq)
  }

  test("unknown tier names are rejected at config construction") {
    val e = intercept[IllegalArgumentException](
      QuantConfig(tiers = Set("pq", "hnsw")))
    assert(e.getMessage.contains("hnsw"))
  }

  test("build phases telemetry decomposes the last build") {
    QuantIndex.build(spark, embRows(128), fresh("phases") + "/index",
      QuantConfig(tiers = Set(QuantTier.Pq)))
    val phases = QuantIndex.lastBuildPhases.toMap
    assert(phases.keySet == Set("train", "encode"))
    assert(phases.values.forall(_ > 0.0))
  }

  test("columnMb reports per-tier stored bytes from the footers") {
    val dir = fresh("colmb") + "/index"
    val idx = QuantIndex.build(spark, embRows(300), dir, QuantConfig())
    val mb = QuantIndex.columnMb(spark, idx.dataDir)
    // every stored column accounted for, embedding dominates the codes
    assert(Set("id", "embedding", "sq8", "i4", "pq", "sig", "pqr", "opq")
      .subsetOf(mb.keySet))
    assert(mb("embedding") > mb("pq"))
    assert(mb("embedding") > mb("sig"))
    assert(mb.values.forall(_ > 0.0))
  }

  // ---------------------------------------- 2. e15 gating on opq

  test("quantErrorFrame reports 4 tiers on an opq-less index, 5 with") {
    val noOpq = QuantIndex.build(spark, embRows(200),
      fresh("e15_noopq") + "/index",
      QuantConfig(tiers = QuantTier.All - QuantTier.Opq))
    val rows = graft.queries.Round6cQueries.quantErrorFrame(noOpq).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("i4", "pq", "pqr", "sq8"))

    val withOpq = QuantIndex.build(spark, embRows(200),
      fresh("e15_opq") + "/index", QuantConfig())
    val rows2 = graft.queries.Round6cQueries.quantErrorFrame(withOpq).collect()
    assert(rows2.map(_.getString(0)).toSeq ==
      Seq("i4", "opq", "pq", "pqr", "sq8"))
    // and the opq tier still beats plain pq on the same corpus
    val m2 = rows2.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m2("opq") <= m2("pq"))
  }

  // ---------------------- 3. seqCol determinism on store upserts

  private def dupBatch(parts: Int) = {
    val sess = spark
    import sess.implicits._
    // 40 ids, each with 3 candidate rows; the seq column says which
    // must win (seq = 2 ⇒ embedding marker value id*10 + 2)
    val rows = for (id <- 0L until 40L; s <- 0 to 2) yield
      (id, s.toLong, Array.fill(64)((id * 10 + s).toDouble))
    rows.toDF("id", "seq", "embedding").repartition(parts)
  }

  private def survivorsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.select(col("id"), element_at(col("embedding"), 1).cast("double"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("VectorStore.upsert with seqCol picks identical winners at any " +
      "partition count") {
    val winners = Seq(1, 7).map { parts => // 7: prime, multi-partition
      val dir = fresh(s"vs_seq_$parts") + "/index"
      // the store keeps metadata columns, so its schema must already
      // carry the batch's `seq` column (the upsert contract)
      VectorStore.build(spark, embRows(50).withColumn("seq", lit(0L)),
        dir, LshConfig(dim = 64, seed = 7L))
      val st = VectorStore.open(spark, dir)
      st.upsert(dupBatch(parts), "id", "embedding", seqCol = Some("seq"))
      survivorsOf(st.indexDf.where(col("id") < 40))
    }
    assert(winners.head == winners(1))
    // the highest-seq row won: marker value = id*10 + 2
    assert(winners.head.forall { case (id, v) => v == id * 10 + 2 })
  }

  test("QuantIndex.upsert with seqCol picks identical winners at any " +
      "partition count") {
    val winners = Seq(1, 7).map { parts =>
      val dir = fresh(s"qi_seq_$parts") + "/index"
      val idx = QuantIndex.build(spark, embRows(50), dir,
        QuantConfig(tiers = Set(QuantTier.Pq)))
      idx.upsert(dupBatch(parts), "id", "embedding", seqCol = Some("seq"))
      survivorsOf(idx.indexDf.where(col("id") < 40))
    }
    assert(winners.head == winners(1))
    assert(winners.head.forall { case (id, v) => v == id * 10 + 2 })
  }

  // ------------------- 3b. recall-vs-coarseN curve (the ADC knob)

  test("adc recall curve is monotone-measured, drives coarseNForRecall, " +
      "and mutations invalidate it") {
    val idx = QuantIndex.build(spark, embRows(300),
      fresh("adc_curve") + "/index", QuantConfig())
    val panel = (0L until 6L)
      .map(graft.queries.VectorQueries.qvec(spark, TestSpark.sf, _))
    val depths = Seq(5, 25, 100, 300)
    val curve = idx.auditAdcRecallCurve(panel, k = 10,
      tier = QuantTier.Opq, depths = depths)
    assert(curve.map(_._1) == depths)
    // deeper coarse budgets can only add candidates: recall is
    // non-decreasing in depth, and depth ≥ corpus size is exact
    assert(curve.map(_._2) == curve.map(_._2).sorted)
    assert(curve.last._2 == 1.0) // 300 candidates of 300 rows = exact
    assert(curve.forall { case (_, r) => r >= 0.0 && r <= 1.0 })

    // persisted + reparsed
    val loaded = idx.adcRecallCurve(QuantTier.Opq)
    assert(loaded.exists(_._2 == curve))

    // the picker returns the smallest measured depth meeting the
    // target, and None above the curve's reach only if nothing does
    val pick = idx.coarseNForRecall(curve.head._2, 10, QuantTier.Opq)
    assert(pick.contains(depths.head))
    assert(idx.coarseNForRecall(1.0, 10, QuantTier.Opq).contains(
      curve.find(_._2 >= 1.0).get._1))

    // the targeted search replays the picked budget; at target 1.0
    // the result equals exact top-k
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0L)
    val (df, n) = idx.searchAdcAtRecall(q, 10, 1.0, QuantTier.Opq)
    assert(n == curve.find(_._2 >= 1.0).get._1)
    val exact = idx.indexDf.select(col("id"),
        graft.functions.VectorFunctions.l2sqLit(col("embedding"), q).as("dist"))
      .orderBy(col("dist"), col("id")).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(df.collect().map(_.getLong(0)).toSeq == exact)

    // a measured depth below the requested k clamps UP to k (the
    // re-rank must be able to fill k rows; recall is non-decreasing
    // in depth so the measured point still holds)
    val (dfClamp, nClamp) =
      idx.searchAdcAtRecall(q, 10, curve.head._2, QuantTier.Opq)
    assert(nClamp == 10 && dfClamp.count() == 10)

    // a request for MORE results than the curve was audited at is NOT
    // certified by it — exact fallback, never a silent under-fill
    val (dfBig, nBig) = idx.searchAdcAtRecall(q, 50, 0.01, QuantTier.Opq)
    assert(nBig == -1 && dfBig.count() == 50)

    // a mutation drops the curve → the picker degenerates to None
    // (the caller's exact fallback) instead of serving a stale curve
    idx.delete(Seq(299L))
    assert(idx.adcRecallCurve(QuantTier.Opq).isEmpty)
    assert(idx.coarseNForRecall(0.1, 10, QuantTier.Opq).isEmpty)
    val (df2, n2) = idx.searchAdcAtRecall(q, 10, 0.1, QuantTier.Opq)
    assert(n2 == -1 && df2.count() == 10) // exact fallback
  }

  test("adc recall curve covers the integer tiers (sq8/i4/bitq) and " +
      "drives their targeted searches; pqr refuses with the joint-knob hint") {
    val idx = QuantIndex.build(spark, embRows(300),
      fresh("adc_int") + "/index", QuantConfig())
    val panel = (0L until 5L)
      .map(graft.queries.VectorQueries.qvec(spark, TestSpark.sf, _))
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0L)
    val exact = idx.indexDf.select(col("id"),
        graft.functions.VectorFunctions.l2sqLit(col("embedding"), q).as("dist"))
      .orderBy(col("dist"), col("id")).limit(10)
      .collect().map(_.getLong(0)).toSeq
    Seq(QuantTier.Sq8, QuantTier.Int4, QuantTier.Bitq).foreach { tier =>
      val curve = idx.auditAdcRecallCurve(panel, k = 10, tier = tier,
        depths = Seq(10, 50, 300))
      assert(curve.map(_._2) == curve.map(_._2).sorted, s"tier $tier")
      assert(curve.last._2 == 1.0, s"tier $tier") // 300 of 300 = exact
      val (df, n) = idx.searchAdcAtRecall(q, 10, 1.0, tier)
      assert(n == curve.find(_._2 >= 1.0).get._1, s"tier $tier")
      assert(df.collect().map(_.getLong(0)).toSeq == exact, s"tier $tier")
    }
    val e = intercept[IllegalArgumentException](
      idx.auditAdcRecallCurve(panel, 10, QuantTier.Pqr))
    assert(e.getMessage.contains("nprobe"))
  }

  // --------------------------- 3c. operator catalog completeness

  test("docs/OPERATORS.md names every registered query id") {
    val doc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("docs/OPERATORS.md")), "UTF-8")
    val missing = graft.queries.Registry.all.map(_.name)
      .filterNot(doc.contains)
    assert(missing.isEmpty,
      s"query ids missing from docs/OPERATORS.md: ${missing.mkString(", ")}")
  }

  // ------------------- 4. read() under racing commit + grace-0 vacuum

  test("FileLog.read never surfaces a raw FileNotFoundException under " +
      "a commit + grace-0 vacuum storm") {
    val dir = fresh("fnf_race")
    FileLog.commit(spark, dir, Seq(s"$dir/f0.parquet"), "id BIGINT")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reader = new Thread(() => {
      var last = 0
      while (!stop.get()) {
        try {
          val st = FileLog.read(dir)
          // versions move forward only
          assert(st.version >= last, s"went back: $last -> ${st.version}")
          last = st.version
        } catch {
          case t: Throwable => failure.compareAndSet(null, t); stop.set(true)
        }
      }
    })
    reader.start()
    val sess = spark
    for (i <- 1 to 200) {
      FileLog.commit(sess, dir, Seq(s"$dir/f$i.parquet"), "id BIGINT")
      // reclaim EVERYTHING but the newest, immediately — the widest
      // possible vacuum window against the reader's forward probe
      FileLog.vacuum(sess, dir, retainLast = 1, graceMs = 0L)
    }
    stop.set(true)
    reader.join(30000)
    if (failure.get() != null) {
      val t = failure.get()
      fail(s"reader surfaced ${t.getClass.getName}: ${t.getMessage}")
    }
    assert(FileLog.read(dir).version >= 200)
  }

  // ------------------------- 5. dropped-column rewrite conflict

  test("commitRewrite fails loudly instead of resurrecting a column a " +
      "concurrent commit dropped; widenings still merge") {
    val dir = fresh("drop_conflict")
    FileLog.commit(spark, dir, Seq(s"$dir/a.parquet"), "id BIGINT,tag STRING")
    val base = FileLog.read(dir)

    // widening interloper merges fine (the documented invariant)
    FileLog.commit(spark, dir, Seq(s"$dir/a.parquet", s"$dir/b.parquet"),
      "id BIGINT,tag STRING,extra INT")
    val v = FileLog.commitRewrite(spark, dir, base,
      removed = Set(s"$dir/a.parquet"), added = Seq(s"$dir/c.parquet"),
      schemaDdl = base.schemaDdl)
    assert(v == 3)
    val merged = org.apache.spark.sql.types.StructType
      .fromDDL(FileLog.read(dir).schemaDdl).fieldNames.toSet
    assert(merged == Set("id", "tag", "extra"))

    // dropping interloper: the rewrite's stale DDL still carries the
    // dropped column — resurrecting it via the union would be wrong
    val base2 = FileLog.read(dir)
    FileLog.commit(spark, dir, base2.files, "id BIGINT,extra INT")
    val e = intercept[graft.store.ConcurrentCommitException] {
      FileLog.commitRewrite(spark, dir, base2,
        removed = Set(s"$dir/c.parquet"), added = Seq(s"$dir/d.parquet"),
        schemaDdl = base2.schemaDdl)
    }
    assert(e.getMessage.contains("tag"))
  }
}
