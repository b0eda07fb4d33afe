package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}

/** Round-6 additions: binary quantization (sign-pack + Hamming),
  * duplicate-passage detection, Gopher rules, DSIR weighting, and the
  * bucketed co-located join. Value equality is the driver's DuckDB
  * gate; here we pin semantics and the plans that survive 100×.
  */
class Round6Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf
  def run(name: String) = SparkEntry.queries(name)(spark, sf)
  def plan(name: String): String =
    run(name).queryExecution.executedPlan.toString

  test("signPack packs (x > 0) bits 64-per-long, little-endian") {
    val s = spark
    import s.implicits._
    // dims 0, 2, 64 positive → word0 = 0b101, word1 = 1
    val v = Array.fill(65)(-1.0)
    v(0) = 0.5; v(2) = 2.0; v(64) = 1e-9
    val sig = Seq(v).toDF("e")
      .select(VF.signPack(col("e"))).head.getSeq[Long](0)
    assert(sig == Seq(5L, 1L))
    // zero is NOT positive (sign bit off), matching the oracle's x > 0
    val z = Seq(Array(0.0, 1.0)).toDF("e")
      .select(VF.signPack(col("e"))).head.getSeq[Long](0)
    assert(z == Seq(2L))
  }

  test("hamming64 equals the per-dimension sign-mismatch count") {
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sf).limit(32)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val q = emb(0L)
    val rows = Tables.embeddings(spark, sf).where(col("vec_id") < 32)
      .select(col("vec_id"),
        VF.hamming64(VF.signPack(col("embedding")),
          typedLit(VF.signPackS(q))).as("h"))
      .collect()
    assert(rows.length == 32)
    rows.foreach { r =>
      val v = emb(r.getLong(0))
      val brute = v.indices.count(i => (v(i) > 0) != (q(i) > 0))
      assert(r.getInt(1) == brute, s"vec ${r.getLong(0)}")
    }
  }

  test("e12 finds the query vector itself at Hamming 0, distance 0") {
    val top = run("e12_bitq_hamming").head
    assert(top.getLong(0) == 0L)
    assert(top.getInt(1) == 0)
    assert(top.getDouble(2) == 0.0)
  }

  test("e12 candidate generation plans as pushed top-k, not a sort") {
    val p = plan("e12_bitq_hamming")
    assert(p.contains("TakeOrderedAndProject"),
      s"hamming top-k not pushed:\n$p")
  }

  test("x20 bucketed join shuffles neither fact table") {
    // The ONLY exchanges allowed are the 5-row aggregate (hash) and
    // the final sort (range): both join inputs come pre-partitioned
    // from the bucketed layout. A third exchange means bucket
    // co-location broke and each join re-shuffles 100 TB.
    val p = plan("x20_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"no sort-merge join:\n$p")
    val n = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(n == 2, s"expected 2 exchanges (agg + sort), found $n:\n$p")
  }

  test("d19 span-duplication counts are bounded and non-trivial") {
    val rows = run("d19_dup_ngram_spans").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1); val dup = r.getLong(2); val ratio = r.getDouble(3)
      assert(dup >= 0 && dup <= n)
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    assert(rows.map(_.getLong(2)).sum > 0, "no cross-doc spans found")
  }

  test("d20 keep agrees with its component rules") {
    val rows = run("d20_gopher_rules").collect()
    val kept = rows.count(_.getInt(6) == 1)
    assert(kept > 0 && kept < rows.length, s"degenerate keep: $kept")
    rows.filter(_.getInt(6) == 1).foreach { r =>
      assert(r.getLong(1) >= 50 && r.getLong(1) <= 100000)  // n_words
      assert(r.getLong(4) >= 2)                             // n_stop_distinct
    }
  }

  test("d22 fluency is bounded and keep splits the corpus at the mean") {
    val rows = run("d22_bigram_fluency").collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      // smoothed P(b|a) is a probability: 0 < µ-value < 1e6
      assert(r.getLong(2) > 0 && r.getLong(2) < 1000000L,
        s"doc ${r.getLong(0)} fluency ${r.getLong(2)}")
    }
    val kept = rows.count(_.getInt(3) == 1)
    assert(kept > 0 && kept < rows.length, s"degenerate keep: $kept")
    // keep is exactly "fluency above the corpus bigram-occurrence
    // mean": docs above the max non-kept fluency must all be kept
    val maxDropped = rows.filter(_.getInt(3) == 0).map(_.getLong(2)).max
    val minKept = rows.filter(_.getInt(3) == 1).map(_.getLong(2)).min
    assert(minKept > maxDropped,
      s"keep is not a threshold cut: minKept=$minKept maxDropped=$maxDropped")
  }

  test("p10 funnel is monotone with all four stages populated") {
    val rows = run("p10_curation_funnel").collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("0_all", "1_gopher", "2_dsir", "3_dup_span"))
    val docs = rows.map(_.getLong(1))
    val toks = rows.map(_.getLong(2))
    assert(docs.zip(docs.tail).forall { case (a, b) => a >= b },
      s"doc counts not monotone: ${docs.toSeq}")
    assert(toks.zip(toks.tail).forall { case (a, b) => a >= b },
      s"token counts not monotone: ${toks.toSeq}")
    assert(docs.last > 0, "funnel ran dry — final stage kept nothing")
  }

  test("r75 injects a bloom runtime filter into the fact scan") {
    // The query materializes under localCheckpoint, so the optimized
    // join plan is not visible from its returned DataFrame; rebuild
    // the same join under the same conf deltas and inspect it.
    val s = spark
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val j = Tables.lineitem(s, sf)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .join(Tables.orders(s, sf)
          .where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"no bloom runtime filter in plan:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  test("x21 z-order clusters BOTH rectangle dimensions per file") {
    val s = spark
    val dir = graft.util.TempDirs.create("graft_x21_spec").toString
    graft.queries.Round6bQueries.zorderWrite(s, sf, dir)
    val spans = s.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg((max("user_id") - min("user_id")).as("uspan"),
        (max("hour_bucket") - min("hour_bucket")).as("hspan"))
      .agg(avg("uspan").as("u"), avg("hspan").as("h"),
        count(lit(1)).as("nf")).head
    val ev = Tables.events(s, sf)
      .select(col("user_id"), expr("ts div 3600000000000").as("hb"))
      .agg((max("user_id") - min("user_id")).as("ur"),
        (max("hb") - min("hb")).as("hr")).head
    assert(spans.getLong(2) > 4, "expected a multi-file layout")
    // A single-column sort clusters one dimension and leaves the other
    // at ~full span per file; Morton clustering must bound BOTH below
    // 75% of their global ranges on average.
    assert(spans.getDouble(0) < 0.75 * ev.getLong(0),
      s"user_id not clustered: avg span ${spans.getDouble(0)} of ${ev.getLong(0)}")
    assert(spans.getDouble(1) < 0.75 * ev.getLong(1),
      s"hour not clustered: avg span ${spans.getDouble(1)} of ${ev.getLong(1)}")
  }

  test("e13 coarse BQ pass scans only (id, sig) from the index") {
    val idx = graft.queries.QuantCache.forDir(spark, sf)
    val q = graft.queries.VectorQueries.qvec(spark, sf, 0L)
    val p = idx.coarse(graft.store.QuantTier.Bitq, q, 50).queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"top-k not pushed:\n$p")
    val read = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("sig"), s"sig column not in scan: $read")
    assert(!read.contains("embedding"),
      s"coarse pass must not read the float vectors: $read")
  }

  test("e13 persisted-index BQ agrees with the inline e12 top-k") {
    val a = run("e13_bitq_index").collect().map(r =>
      (r.getLong(0), r.getDouble(1)))
    val b = run("e12_bitq_hamming").collect().map(r =>
      (r.getLong(0), r.getDouble(2)))
    assert(a.toSeq == b.toSeq, s"index path diverged: ${a.toSeq} vs ${b.toSeq}")
  }

  test("searchBitq returns k rows with the stored query vector first") {
    val idx = graft.queries.QuantCache.forDir(spark, sf)
    val q = graft.queries.VectorQueries.qvec(spark, sf, 0L)
    val rows = idx.searchTwoStage(graft.store.QuantTier.Bitq, q, 10).collect()
    assert(rows.length == 10)
    // vec 0 has Hamming 0 to itself, so it always survives the coarse
    // cut, and the exact re-rank must put it first at distance 0
    assert(rows.head.getLong(0) == 0L)
    assert(rows.head.getDouble(1) == 0.0)
  }

  test("d21 keeps target-language documents at a higher rate") {
    val docs = Tables.documents(spark, sf).select("doc_id", "lang")
    val joined = run("d21_dsir_weights").join(docs, "doc_id")
      .groupBy(col("lang") === "en")
      .agg(avg(col("keep")).as("rate")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(joined(true) > joined(false),
      s"en keep rate ${joined(true)} !> other ${joined(false)}")
  }

  test("r76 pagerank covers every graph node, floors at the damping " +
    "base, and concentrates rank on the supplier side") {
    val rows = run("r76_pagerank").collect()
    val custs = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    val supps = Tables.lineitem(spark, sf).select("l_suppkey").distinct().count()
    assert(rows.length == custs + supps,
      s"${rows.length} nodes vs $custs customers + $supps suppliers")
    assert(rows.forall(_.getLong(2) >= 150000L), "rank below (1-d) base")
    // suppliers are ~10× rarer than customers, so the same edge mass
    // concentrates on them: mean supplier rank must dominate
    val mean = rows.groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getLong(2)).sum / rs.length }
    assert(mean("supplier") > 2 * mean("customer"), mean.toString)
  }

  test("d23 draws exactly 50 docs per stratum, in priority order, " +
    "biased toward longer documents") {
    val rows = run("d23_weighted_sample").collect()
    val perLang = rows.groupBy(_.getString(0))
    assert(perLang.values.forall(_.length == 50))
    perLang.values.foreach { rs =>
      val pr = rs.sortBy(_.getInt(1)).map(_.getLong(4))
      assert(pr.zip(pr.tail).forall { case (a, b) => a <= b },
        "priority must be nondecreasing with sample_rank")
    }
    // weighting check: sampled docs skew long vs the corpus mean
    val corpusAvg = Tables.documents(spark, sf)
      .agg(avg("n_chars")).head.getDouble(0)
    val sampleAvg = rows.map(_.getLong(3)).sum.toDouble / rows.length
    assert(sampleAvg > corpusAvg,
      s"weighted sample mean $sampleAvg !> corpus mean $corpusAvg")
  }

  test("r77 splits the skewed partition: final adaptive plan joins " +
    "with skew=true") {
    import graft.queries.Round6cQueries
    Round6cQueries.withSkewConfs(spark, bytes = "1KB") {
      val df = Round6cQueries.skewJoinFrame(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(2000))
    }
  }

  test("p11 final split is cluster-coherent: no m1 near-dup pair " +
    "crosses split boundaries, and singletons keep d17's assignment") {
    val fin = run("p11_leakage_free_split").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val pairs = run("m1_minhash_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(fin(a)._2 == fin(b)._2, s"pair ($a,$b) crosses final splits")
    }
    val d17 = run("d17_train_split").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // every doc's base split is d17's; movers exist on this corpus
    assert(fin.forall { case (id, (base, _)) => d17(id) == base })
    assert(fin.exists { case (_, (base, f)) => base != f })
  }

  test("p13 linear distillation of the Gopher rules is a real " +
    "classifier: both classes predicted, high teacher agreement") {
    val rows = run("p13_quality_distill").collect()
      .map(r => (r.getInt(2), r.getInt(3)))
    val preds = rows.map(_._1).toSet
    assert(preds == Set(0, 1), s"degenerate predictions: $preds")
    val agree = rows.count { case (p, l) => p == l }.toDouble / rows.length
    assert(agree > 0.7, s"distilled scorer agrees only $agree with d20")
  }

  test("e15 reconstruction error ranks the tiers: sq8 < i4, sq8 < pqr < pq") {
    val errs = run("e15_quant_error").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(errs.keySet == Set("sq8", "i4", "pq", "pqr", "opq"))
    // the r19 tier: a trained rotation never loses to plain PQ at the
    // same code budget (structural — see Round19Spec)
    assert(errs("opq") <= errs("pq"), errs.toString)
    assert(errs.values.forall(_ > 0), s"degenerate zero error: $errs")
    // 8 bits/dim beats 0.5 bits/dim handily
    assert(errs("sq8") < errs("pqr"), errs.toString)
    // the audit's reason to exist: residual coding beats raw PQ at
    // identical bytes
    assert(errs("pqr") < errs("pq"), errs.toString)
    // dropping 4 bits/dim must cost accuracy: int4 sits strictly
    // above sq8
    assert(errs("sq8") < errs("i4"), errs.toString)
  }

  test("s21 streamed quant ingest reproduces the exact full-corpus " +
    "top-10") {
    val got = run("s21_stream_quant_ingest").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = run("v1_knn").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == exact,
      s"streamed-ingest index diverges from exact: $got vs $exact")
  }

  test("x22 quarantines exactly the injected corrupt rows") {
    val rows = run("x22_corrupt_records").collect()
    val good = rows.map(_.getLong(1)).sum
    val corrupt = rows.map(_.getLong(2)).sum
    assert(good + corrupt == 200)
    // injection rule: doc_id < 200 && doc_id % 50 == 0 → 0,50,100,150
    assert(corrupt == 4, s"expected 4 corrupt rows, got $corrupt")
  }

  test("p12 temperature mixing flattens the source distribution and " +
    "draw shares are a near-exact 10k partition") {
    val rows = run("p12_temperature_mix").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    val draws = rows.map(_._3).sum
    assert(draws <= 10000 && draws > 10000 - rows.length,
      s"floor-partition of 10k draws out of range: $draws")
    // flattening: draw share of the largest source must be closer to
    // the smallest's than the raw doc-count ratio
    val largest = rows.maxBy(_._2); val smallest = rows.minBy(_._2)
    if (largest._2 > smallest._2) {
      val rawRatio = largest._2.toDouble / smallest._2
      val drawRatio = largest._3.toDouble / smallest._3
      assert(drawRatio < rawRatio,
        s"temperature failed to flatten: $drawRatio !< $rawRatio")
    }
  }

  test("d24 keeps one canonical (longest) doc per m4 cluster and " +
    "accounts for every document") {
    val rows = run("d24_canonical_dedup").collect()
    val m4 = run("m4_dedup_clusters").collect()
    val clusters = m4.map(_.getLong(1)).toSet
    assert(rows.length == clusters.size)
    assert(rows.map(_.getLong(2)).sum == m4.length,
      "cluster sizes must sum to the corpus")
    // the canonical member belongs to its own cluster
    val byDoc = m4.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.forall(r => byDoc(r.getLong(1)) == r.getLong(0)))
  }
}
