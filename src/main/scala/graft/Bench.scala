package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.queries.VectorQueries
import graft.store.VectorStore
import graft.lsh.LshConfig

/** Benchmark main (driver-run per round; BASELINE.md protocol).
  *
  * Emits ONE JSON line {"metric":"total","value":N,"unit":"sec",
  * "queries":{...},"sf":...}. The queries map contains:
  *  - one wall-clock entry per registered query (full materialization,
  *    steady-state after a warm-up pass — the reference's measurement
  *    shape, `performance_analysis.py:60-70`);
  *  - the BASELINE.md kNN protocol: `index_build` (normalize-free LSH
  *    bucketing + partitioned write), `knn_exact_k{1,5,10,20,50,100}`
  *    and `knn_pruned_k{same}` = MEDIAN seconds/query over 20 warm
  *    queries (queries = first 20 stored vectors) with a `_p95`
  *    companion row per k (BASELINE.md protocol step 3), and
  *    `knn_pruned_recall_at10` (fraction, not seconds: measured recall
  *    of probes=2/3 pruned search vs exact top-10).
  */
object Bench {

  /** A GAUGE is a non-additive measurement (a recall fraction, an
    * index MB, a file count, a phase decomposition of a row already
    * counted) riding along in the detail output. Gauges live in their
    * own JSON map, never the seconds map: r12's generated report
    * ranked `x34_files_full` (a FILE COUNT of 33) as the slowest query
    * because everything in `queries` is presumed seconds.
    *
    * Since r14 gauges are tagged EXPLICITLY at the emission site (the
    * `gauges` buffer in [[main]]) — name-substring classification
    * silently rerouted any future wall-clock row whose name happened
    * to contain `_files_` (r13 ADVICE #3). This predicate remains only
    * for readers of PRE-r14 detail files (Report's defensive filter);
    * the bench itself no longer routes by it.
    */
  private[graft] def isGauge(n: String): Boolean =
    n.startsWith("index_mb") || n.startsWith("knn_pruned_recall") ||
      n.contains("_files_")

  /** Query-name prefix → headline group total. Shared with Report so
    * its section-4 group bars always match the bench's group totals.
    */
  private[graft] def groupOf(n: String): String = n.head match {
    case 'r' => "relational_total"
    case 'v' => "vector_total"
    case 'd' | 'm' => "text_dedup_total"
    case 'e' => "embed_total"
    case 's' => "stream_total"
    case 'x' => "source_total"
    case _   => "misc_total"
  }

  /** On-disk footprint of an index directory in MB (recursive; data +
    * metadata). Reported per layout so Report can print recall per
    * byte — the multi-table store buys recall with ×L storage, and
    * that trade should be a number, not prose.
    */
  private def dirMb(path: String): Double = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles() match {
        case null => 0L
        case fs => fs.map(size).sum
      }
      else f.length()
    size(new java.io.File(path)) / 1e6
  }

  /** 1-minute load average sampled when the bench JVM starts — the
    * "was the machine already busy" half of the provenance stamp.
    */
  private val loadAtStart: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: function-registry re-registration WARNs and
    // shutdown-hook INFO lines otherwise land on stderr around the
    // final JSON line the driver parses.
    spark.sparkContext.setLogLevel("ERROR")

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // Explicitly-tagged gauges (recall fractions, index MB, file
    // counts, phase decompositions): routed here AT THE EMISSION SITE,
    // never inferred from the row name (r13 ADVICE #3).
    val gauges = scala.collection.mutable.ListBuffer.empty[(String, Double)]

    // Cumulative shuffle-write volume across all stages, for per-query
    // deltas (queries run sequentially, so delta = that query's
    // shuffle). Snapshots drain the async listener bus first.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val shuffleRecords = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = s.stageInfo.taskMetrics
          if (m != null) {
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          }
        }
      })
    def shuffleSnapshot(): (Long, Long) = {
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      (shuffleBytes.get(), shuffleRecords.get())
    }

    // Warm-up: JVM/codegen/parquet-footer caches (not timed).
    try SparkEntry.queries("v1_knn")(spark, sfDir).count()
    catch { case _: Throwable => () }

    // Quantized-index build, timed as its own metric (the analogue of
    // `index_build` for the LSH store): e3/e6/e8 then search the
    // persisted codes, so their per-query timings are search-only —
    // the honest two-phase shape (encode once, search many).
    val quantBuild: Seq[(String, Double)] =
      try {
        val t = "quant_index_build" -> timed {
          graft.queries.QuantCache.forDir(spark, sfDir)
        }
        // Per-phase decomposition (gauges — they re-describe the row
        // above): training (driver k-means/OPQ over the bounded
        // sample) vs distributed encode+write. Attributes the next
        // tier addition's cost at a glance (r13 verdict task #1).
        graft.store.QuantIndex.lastBuildPhases.foreach { case (k, v) =>
          gauges += s"quant_phase_${k}_s" -> v
        }
        // Per-tier stored bytes from the index's parquet footers:
        // what each code column actually costs on disk.
        val idx = graft.queries.QuantCache.forDir(spark, sfDir)
        graft.store.QuantIndex.columnMb(spark, idx.dataDir).foreach {
          case (c, mb) => gauges += s"quant_col_mb_$c" -> mb
        }
        Seq(t)
      }
      catch { case e: Throwable =>
        System.err.println(s"[bench] quant build failed: ${e.getMessage}")
        Seq.empty
      }

    // Dev aid (driver never sets it): restrict to named queries.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val selected =
      if (only.isEmpty) SparkEntry.queries.toSeq
      else SparkEntry.queries.toSeq.filter { case (n, _) => only(n) }

    // Queries whose single-shot timings were noise-dominated in the r6
    // driver run (≥2× the isolated numbers, VERDICT r6): late in a
    // 210-query sequential JVM session, one cold timing is hostage to
    // ambient GC/page-cache state. These get the knn_batch100
    // methodology — one untimed warm-up, then median of 3 — so the
    // reported number is the steady-state per-query cost. Everything
    // else stays single-shot (the sweep's wall budget).
    // d26/r80 join pre-emptively: the two slowest cache-free round-9
    // queries, so a loaded driver environment can't flag them the way
    // r6 flagged the set above. (p15 stays single-shot deliberately:
    // its repeats would hit the session BPE cache and time ~nothing —
    // the cold number IS the honest training cost.)
    val stabilizedSet = Set(
      "m6_norm_dedup", "e13_bitq_index", "e14_ivfpq_residual",
      "x21_zorder_layout", "x22_corrupt_records", "p12_temperature_mix",
      "r77_skew_join", "r75_bloom_runtime_filter",
      "s21_stream_quant_ingest", "s6_stream_stream_join",
      "d26_editdist_pairs_cap200", "r80_bfs_levels")
    // The whole v-group + e1 joined in round 10 (r7 verdict: e1's
    // 0.31↔0.51 s swing and the vector_total roll-up were pure ambient
    // noise on an unchanged plan — warm medians make the group's
    // regression table comparable across rounds). Their repeats build
    // fresh temp-dir stores per run, so no run reuses a prior's state.
    val stabilized = (name: String) =>
      stabilizedSet(name) || name.startsWith("v") || name == "e1_ann_cosine_topk"

    // Heavy rows get ADAPTIVE stabilization (r11 verdict task #4: the
    // driver's co-load burst faked a 16× regression on x28 because
    // store-building/streaming rows had no median-of-3 protection):
    // any single-shot ≥ this threshold re-runs twice and reports the
    // median — a burst then costs two extra runs instead of a wrong
    // committed number, while the (many) sub-threshold rows keep the
    // sweep's single-shot wall budget. The reported TOTAL only counts
    // the median once, so totals stay comparable across rounds.
    // p15 is exempt: its repeats hit the session BPE cache and would
    // time ~nothing — the cold number IS the honest training cost.
    val adaptiveThresholdSec = 0.3
    val adaptiveExempt = Set("p15_bpe_train")

    // Per query: wall seconds + the shuffle volume of one
    // representative execution (the last timed run — volumes are
    // plan-determined, so any run reports the same number). This is
    // the "which query's shuffle becomes the bottleneck at 1000×"
    // evidence, per query, as data instead of plan-reading.
    val shuffleDetail =
      scala.collection.mutable.ListBuffer.empty[(String, Long, Long)]
    val perQuery = selected.map { case (name, fn) =>
      def once(): Unit =
        try fn(spark, sfDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      def measured(): Double = {
        val (b0, r0) = shuffleSnapshot()
        val t = timed(once())
        val (b1, r1) = shuffleSnapshot()
        shuffleDetail += ((name, b1 - b0, r1 - r0))
        t
      }
      name -> (
        if (stabilized(name)) {
          once() // warm-up, not timed
          val first2 = Seq.fill(2)(timed(once()))
          (first2 :+ measured()).sorted.apply(1)
        } else {
          val t1 = measured()
          if (t1 >= adaptiveThresholdSec && !adaptiveExempt(name))
            Seq(t1, timed(once()), timed(once())).sorted.apply(1)
          else t1
        })
    }

    // Layout queries time a full rewrite inside the query, which makes
    // their combined number build-cost-dominated; report the phases
    // separately too (write single-shot — it IS a build cost — read as
    // warm median-of-3, the steady-state payoff the layout buys).
    val layoutPhases: Seq[(String, Double)] =
      try {
        val buf = scala.collection.mutable.ListBuffer.empty[(String, Double)]
        def phases(tag: String, write: String => Unit,
            read: String => org.apache.spark.sql.DataFrame): Unit = {
          val dir = graft.util.TempDirs.create(s"graft_bench_$tag").toString
          buf += s"${tag}_write" -> timed(write(dir))
          read(dir).count() // warm-up, not timed
          buf += s"${tag}_read" ->
            Seq.fill(3)(timed(read(dir).count())).sorted.apply(1)
        }
        phases("x13", graft.queries.Round3Queries.x13Write(spark, sfDir, _),
          graft.queries.Round3Queries.x13Read(spark, _))
        phases("x21", graft.queries.Round6bQueries.zorderWrite(spark, sfDir, _),
          graft.queries.Round6bQueries.zorderRead(spark, _))
        phases("x22", graft.queries.Round6cQueries.x22Write(spark, sfDir, _),
          graft.queries.Round6cQueries.x22Read(spark, _))
        // x28: one clustered write + manifest, then BOTH read paths on
        // the same directory — the pruned/full pair is the file-skip
        // payoff as a number (same rows, fewer files and tasks). 128
        // files, not the query's 16: the feature targets the
        // many-files regime where listing/footers/task floors dominate
        // a selective scan; at 16 files both reads sit on the same
        // job floor and the pair demonstrates nothing.
        locally {
          val dir = graft.util.TempDirs.create("graft_bench_x28").toString
          buf += "x28_write" -> timed(
            graft.queries.Round14Queries.x28Write(spark, sfDir, dir, 128))
          def readP() = graft.queries.Round14Queries.x28ReadPruned(spark, dir)
          def readF() = graft.queries.Round14Queries.x28ReadFull(spark, dir)
          readP().count() // warm-up, not timed
          buf += "x28_read_pruned" ->
            Seq.fill(3)(timed(readP().count())).sorted.apply(1)
          readF().count() // warm-up, not timed
          buf += "x28_read_full" ->
            Seq.fill(3)(timed(readF().count())).sorted.apply(1)
        }
        // x31: the same pruned/full pair on a DATE clustering key
        // (typed zones — the r11 "INT64 only" gap): same 128-file
        // many-files regime, so the pair prices exactly what date-zone
        // skipping buys a selective calendar-range scan.
        locally {
          val dir = graft.util.TempDirs.create("graft_bench_x31").toString
          buf += "x31_write" -> timed(
            graft.queries.Round17Queries.x31Write(spark, sfDir, dir, 128))
          def readP() = graft.queries.Round17Queries.x31ReadPruned(spark, dir)
          def readF() = graft.queries.Round17Queries.x31ReadFull(spark, dir)
          readP().count() // warm-up, not timed
          buf += "x31_read_pruned" ->
            Seq.fill(3)(timed(readP().count())).sorted.apply(1)
          readF().count() // warm-up, not timed
          buf += "x31_read_full" ->
            Seq.fill(3)(timed(readF().count())).sorted.apply(1)
        }
        // x34: incremental-vs-full refresh of a materialized aggregate
        // — the change-feed payoff, measured on BOTH axes. The table
        // is 33 files (id-range-clustered appends); the delta is one
        // appended file plus one zone-pruned-delete diff, so the
        // incremental path reads ~3 files against the full path's 33:
        // the *_files rows pin that I/O asymmetry (file counts, not
        // seconds), which is the quantity that scales — at 100 TB the
        // full path rescans the table, the incremental path reads the
        // delta. The *_refresh seconds are honest but floor-bound at
        // bench sf: a 33-small-file scan and a diff+merge plan both
        // sit on the local job floor, so expect the seconds to CROSS
        // only as the table outgrows the floor (same posture as the
        // x28 pair at 16 files, documented there). The
        // materialization itself (v32 snapshot aggregate) is untimed
        // — it's the view's build cost, not the refresh loop's.
        locally {
          val dir = graft.util.TempDirs.create("graft_bench_x34").toString
          buf += "x34_build" -> timed(
            graft.queries.Round18Queries.x34BenchBuild(spark, sfDir, dir))
          val mat = graft.queries.Round18Queries.x34Mat(spark, dir, 32)
            .localCheckpoint(true) // the stored view, built once untimed
          def inc() = graft.queries.Round18Queries
            .x34Incremental(spark, dir, mat, 32, 34)
          def full() = graft.queries.Round18Queries
            .x34FullRecompute(spark, dir)
          inc().count() // warm-up, not timed
          buf += "x34_refresh_incremental" ->
            Seq.fill(3)(timed(inc().count())).sorted.apply(1)
          full().count() // warm-up, not timed
          buf += "x34_refresh_full" ->
            Seq.fill(3)(timed(full().count())).sorted.apply(1)
          gauges += "x34_files_incremental" -> inc().inputFiles.length.toDouble
          gauges += "x34_files_full" -> full().inputFiles.length.toDouble
        }
        buf.toSeq
      } catch { case e: Throwable =>
        System.err.println(s"[bench] layout phases failed: ${e.getMessage}")
        Seq.empty
      }

    // ---- BASELINE.md kNN protocol --------------------------------
    val knn = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    try {
      val idxPath = graft.util.TempDirs.create("graft_bench_idx").toString + "/index"
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("id"), col("embedding"))
      knn += "index_build" -> timed {
        VectorStore.build(spark, emb, idxPath, LshConfig(dim = 64, seed = 42L))
      }
      gauges += "index_mb_mod3" -> dirMb(idxPath)
      val store = VectorStore.open(spark, idxPath)
      // A few fat partitions: per-query task-scheduling overhead beats
      // parallelism at interactive latencies (each partition scan is
      // sub-ms here; at real scale partitions stay data-sized).
      val indexDf = store.indexDf.coalesce(4).cache()
      indexDf.count() // materialize once: a warm, resident index
      val queries = (0L until 20L).map(VectorQueries.qvec(spark, sfDir, _))

      // p50 (the headline per-k number) + p95 over the 20 warm
      // queries, per BASELINE.md protocol step 3's "mean/median/p95".
      // The r8 close-out recorded a 16× ambient phantom on
      // knn_exact_k10 (0.65 s mean vs 0.0395 s quiet, same build) —
      // one GC/load spike in a mean-of-20 pollutes the whole row,
      // while the median absorbs it and the p95 REPORTS it.
      // REP COUNT (r15 verdict task #6): these rows are 20–70 ms
      // medians and drove 25 of r15's 27 "regressions" as pure noise
      // (same family swinging both directions in one run). Tripling
      // the sample count (3 passes over the 20-query panel = 60 timed
      // samples per row) tightens the median without changing keys,
      // semantics, or the reported quantity — still p50/p95 of warm
      // per-query seconds. Additions-only methodology change, noted in
      // OPTIMIZATION_r16.md.
      val knnReps = 3
      def latencyDist(k: Int, probes: Int): (Double, Double) = {
        queries.take(5).foreach { q => // warm-up, not timed
          VectorStore.searchIn(
            indexDf.where(store.pruneFilter(q, probes)), q, k).collect()
        }
        val times = (1 to knnReps).flatMap(_ => queries.map { q =>
          timed(VectorStore.searchIn(
            indexDf.where(store.pruneFilter(q, probes)), q, k).collect())
        }).sorted
        (times(times.size / 2), times(math.min(times.size - 1,
          (0.95 * times.size).ceil.toInt - 1)))
      }
      // Full BASELINE.md protocol sweep (performance_analysis.py:72-129):
      // k ∈ {1,5,10,20,50,100}, exact and pruned at each point.
      Seq(1, 5, 10, 20, 50, 100).foreach { k =>
        val (ep50, ep95) = latencyDist(k, probes = 3)
        knn += s"knn_exact_k$k" -> ep50
        knn += s"knn_exact_k${k}_p95" -> ep95
        val (pp50, pp95) = latencyDist(k, probes = 2)
        knn += s"knn_pruned_k$k" -> pp50
        knn += s"knn_pruned_k${k}_p95" -> pp95
      }
      // Batched search: 100 queries in ONE job (broadcast queries ×
      // index, per-query top-10 via ranking window). This is the
      // high-throughput path at scale — per-query cost amortizes to
      // ~1-2 ms vs the ~40 ms single-job floor.
      locally {
        import org.apache.spark.sql.expressions.Window
        import graft.functions.{VectorFunctions => VF}
        val qdf = Tables.embeddings(spark, sfDir)
          .where(col("vec_id") < 100)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("d"), col("id"))
        def runBatch(): Unit =
          indexDf.crossJoin(broadcast(qdf))
            .select(col("query_id"), col("id"),
              VF.l2sq(col("embedding"), col("qe")).as("d"))
            .withColumn("rn", row_number().over(w))
            .where(col("rn") <= 10)
            .count()
        // Warm-up + median of 5: the r4 close run recorded 7.0 ms/query
        // against 3.6–4.4 ms in isolated runs — a single cold timing is
        // hostage to ambient load from the preceding 175-query sweep.
        // Median-of-5 after an untimed warm-up pins the steady state
        // (bumped from 3 with the r12 sub-second-row hardening; the
        // row is ~0.3 s, so two extra runs are noise-cheap).
        runBatch()
        val t = Seq.fill(5)(timed(runBatch())).sorted.apply(2)
        knn += "knn_batch100_total" -> t
        knn += "knn_batch100_per_query" -> t / 100.0
      }

      def recallAt10(probes: Int): Double = {
        val rs = queries.map { q =>
          val exact = VectorStore.searchIn(indexDf, q, 10)
            .collect().map(_.getLong(0)).toSet
          val pruned = VectorStore.searchIn(
            indexDf.where(store.pruneFilter(q, probes)), q, 10)
            .collect().map(_.getLong(0)).toSet
          (exact intersect pruned).size.toDouble / exact.size
        }
        rs.sum / rs.size
      }
      gauges += "knn_pruned_recall_at10" -> recallAt10(2)
      gauges += "knn_pruned_recall_at10_p1" -> recallAt10(1)
      indexDf.unpersist()

      // Recall-vs-probes curve at a REAL bucket count. numBuckets=3
      // (the reference's modulus) caps pruning at 1/3 of the IO no
      // matter the probe budget; 16 buckets is the shape that scales
      // (each probe reads 1/16 of the corpus). The reference Readme
      // claims tunable recall but never measures it (Readme.md:19) —
      // this is the measurement.
      locally {
        val idx16 = graft.util.TempDirs.create("graft_bench_idx16")
          .toString + "/index"
        knn += "index_build_b16" -> timed {
          VectorStore.build(spark, emb, idx16,
            LshConfig(numHashTables = 16, dim = 64, seed = 42L))
        }
        gauges += "index_mb_mod16" -> dirMb(idx16)
        val store16 = VectorStore.open(spark, idx16)
        val df16 = store16.indexDf.coalesce(8).cache()
        df16.count()
        def recall16(probes: Int): Double = {
          val rs = queries.map { q =>
            val exact = VectorStore.searchIn(df16, q, 10)
              .collect().map(_.getLong(0)).toSet
            val pruned = VectorStore.searchIn(
              df16.where(store16.pruneFilter(q, probes)), q, 10)
              .collect().map(_.getLong(0)).toSet
            (exact intersect pruned).size.toDouble / exact.size
          }
          rs.sum / rs.size
        }
        (1 to 4).foreach { p =>
          gauges += s"knn_pruned_recall_at10_p${p}_of16" -> recall16(p)
        }
        // Multi-table OR-probing (LshConfig.multiTable) at the SAME
        // probed fraction per probe (1/16 of one corpus copy): the
        // recall this mode buys over the mod-bucket layout, measured
        // on the identical queries — MultiTableLshSpec pins dominance,
        // this reports the curve.
        locally {
          val mtPath = graft.util.TempDirs.create("graft_bench_mt")
            .toString + "/index"
          val mt = graft.store.MultiTableStore.build(spark, emb, mtPath,
            LshConfig(numHashFunctions = 4, numHashTables = 4, dim = 64,
              seed = 42L, multiTable = true))
          gauges += "index_mb_mt4x16" -> dirMb(mtPath)
          val mtDf = mt.indexDf.coalesce(8).cache()
          mtDf.count()
          def recallMt(probes: Int): Double = {
            val rs = queries.map { q =>
              val exact = VectorStore.searchIn(
                mtDf.where(col("table") === 0), q, 10)
                .collect().map(_.getLong(0)).toSet
              val pruned = VectorStore.searchIn(
                mtDf.where(mt.pruneFilter(q, probes))
                  .select("id", "embedding").dropDuplicates("id"), q, 10)
                .collect().map(_.getLong(0)).toSet
              (exact intersect pruned).size.toDouble / exact.size
            }
            rs.sum / rs.size
          }
          (1 to 4).foreach { p =>
            gauges += s"knn_pruned_recall_at10_p${p}_of16_mt" -> recallMt(p)
          }
          mtDf.unpersist()
        }
        // Quantized tiers, same 20 warm queries as knn_exact: per-query
        // latency of the two-stage searches over STORED codes (each is
        // two jobs — coarse top-100 over the code column, bounded exact
        // re-rank — so the single-query floor is ~2× knn_exact's; the
        // scan itself reads 4–16× fewer bytes, which is what wins at
        // data sizes where IO dominates).
        locally {
          // resident index, mirroring the warm `indexDf.cache()` the
          // exact-kNN protocol times against
          val qidx = graft.queries.QuantCache.forDir(spark, sfDir).cacheIndex()
          // MEDIAN over the 20 warm queries, not mean (r12 verdict
          // What's-wrong #2): a mean-of-20 is hostage to one ambient
          // GC/load spike — the r12 driver run reported knn_pq_k10 at
          // 0.145 s where the same-HEAD quiet run had 0.062 s, a pure
          // measurement phantom. The median absorbs a burst exactly
          // like knn_exact's p50 rows (20 samples ≥ the prescribed
          // median-of-5's protection), so every knn_* row is now a
          // median and two quiet same-HEAD runs agree run-to-run.
          def medQ(label: String)(f: Array[Double] => Unit): Unit = {
            queries.take(5).foreach(f) // warm-up, not timed
            // 3×20 = 60 samples per row (r15 verdict task #6, same
            // rationale as latencyDist's knnReps)
            val ts = (1 to 3).flatMap(_ => queries.map(q => timed(f(q)))).sorted
            knn += label -> ts(ts.size / 2)
          }
          import graft.store.QuantTier._
          def tierQ(label: String, tier: String, nprobe: Int = qidx.maxDepth): Unit =
            medQ(label)(q => qidx.searchTwoStage(tier, q, 10, nprobe = nprobe).collect())
          tierQ("knn_sq8_k10", Sq8)
          tierQ("knn_int4_k10", Int4)
          tierQ("knn_pq_k10", Pq)
          tierQ("knn_opq_k10", Opq)
          tierQ("knn_ivfpq_k10", Pq, nprobe = 2)
          medQ("knn_ivfpqr_k10")(q => qidx.searchIvfPqResidual(q, 10).collect())
          tierQ("knn_bitq_k10", Bitq)
          // recall@10 of the PQ vs OPQ coarse pass at the same
          // coarseN budget (gauges): what the trained rotation buys
          // at identical bytes read — the r12 verdict's weak axis,
          // now a measured number per round.
          def recallQ(search: (Array[Double], Int) => org.apache.spark.sql.DataFrame): Double = {
            val rs = queries.map { q =>
              val exact = qidx.indexDf
                .select(col("id"), graft.functions.VectorFunctions
                  .l2sqLit(col("embedding"), q).as("d"))
                .orderBy(col("d"), col("id")).limit(10)
                .collect().map(_.getLong(0)).toSet
              val got = search(q, 10).collect().map(_.getLong(0)).toSet
              (exact intersect got).size.toDouble / exact.size
            }
            rs.sum / rs.size
          }
          gauges += "knn_pruned_recall_at10_pq" ->
            recallQ((q, k) => qidx.searchTwoStage(Pq, q, k))
          gauges += "knn_pruned_recall_at10_opq" ->
            recallQ((q, k) => qidx.searchTwoStage(Opq, q, k))
          // measured recall-vs-coarseN curve per ADC tier (gauges,
          // one corpus scan per tier over the resident index): the
          // re-rank budget's other knob as a per-round number, so a
          // codebook change that moves the curve is visible without
          // plan-reading (r13 verdict task #6).
          Seq(graft.store.QuantTier.Pq, graft.store.QuantTier.Opq)
            .foreach { tier =>
              qidx.auditAdcRecallCurve(queries, k = 10, tier = tier,
                depths = Seq(25, 100, 400)).foreach { case (n, r) =>
                  gauges += s"knn_recall_at10_${tier}_c$n" -> r
                }
            }
        }

        knn += "knn_pruned_k10_of16" -> {
          queries.take(5).foreach { q =>
            VectorStore.searchIn(
              df16.where(store16.pruneFilter(q, 2)), q, 10).collect()
          }
          // median like every other knn_* row; 3×20 = 60 samples
          // (r15 verdict task #6)
          val ts = (1 to 3).flatMap(_ => queries.map { q =>
            timed(VectorStore.searchIn(
              df16.where(store16.pruneFilter(q, 2)), q, 10).collect())
          }).sorted
          ts(ts.size / 2)
        }
        df16.unpersist()
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] knn protocol failed: ${e.getMessage}")
    }

    // Maintenance decisions (gauges): e26_maintenance's maintain()
    // pass publishes its report (the lastBuildPhases convention), so
    // what the policy DECIDED — compaction scope, audit measurement,
    // retrain — shows up as per-round numbers, not just a wall time
    // (r14 verdict task #5's "REPORT line").
    graft.store.QuantIndex.lastMaintenance.foreach { r =>
      gauges += "maintain_compacted_cells" -> r.compactedCells.size.toDouble
      gauges += "maintain_files_before" -> r.filesBefore.toDouble
      gauges += "maintain_files_after" -> r.filesAfter.toDouble
      gauges += "maintain_retrained" -> (if (r.retrained) 1.0 else 0.0)
      r.measuredRecall.foreach(v => gauges += "maintain_audit_recall" -> v)
      r.recallAfterRetrain.foreach(v =>
        gauges += "maintain_recall_after_retrain" -> v)
    }

    // layoutPhases decompose timings already counted in perQuery, so
    // they appear in the detail map but not in the total. Gauges
    // (recall fractions, index MB, file counts, phase decompositions)
    // were routed to their own buffer AT EMISSION (never name-inferred
    // — r13 ADVICE #3); `queries` holds ONLY wall-clock seconds.
    val results = quantBuild ++ perQuery ++ knn ++ layoutPhases
    // _p95 rows re-describe runs already counted by their p50 sibling.
    val total = quantBuild.map(_._2).sum + perQuery.map(_._2).sum +
      knn.filterNot(_._1.endsWith("_p95")).map(_._2).sum

    def jsonMap(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + f"\":$v%.4f" }
        .mkString("{", ",", "}")

    // Full per-query detail → file (the driver captures only a ~2 KB
    // stdout tail; an 82-entry JSON line overflows it and parses as
    // null — round-1 lesson). The provenance stamp records the
    // machine's 1-minute load average (relative to its core count) at
    // start and end of the run: r9/r10 both had committed detail rows
    // silently taken under co-load (s21 16.1 s vs 3.5 s quiet) that
    // polluted round-over-round comparisons — now every detail file
    // carries the evidence to accept or discount itself.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadEnd = osBean.getSystemLoadAverage
    val cores = Runtime.getRuntime.availableProcessors
    val quiet = math.max(Bench.loadAtStart, loadEnd) < cores * 0.5
    val provenance =
      f""""provenance":{"load_avg_start":${Bench.loadAtStart}%.2f,""" +
        f""""load_avg_end":$loadEnd%.2f,"cores":$cores,"quiet":$quiet,""" +
        f""""median_threshold_s":$adaptiveThresholdSec%.1f}"""
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL",
      new java.io.File(sys.props("user.dir"), "BENCH_DETAIL.json").getPath)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(detailPath),
      (f"""{"metric":"total","value":$total%.3f,"unit":"sec",$provenance,"queries":${jsonMap(results)},"gauges":${jsonMap(gauges.toSeq)},"sf":"$sfDir"}""" + "\n")
        .getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}") }

    // Per-query shuffle volumes → sibling file: mb written + records,
    // sorted heaviest-first so the scale-risk ranking is the file
    // order. Zero-shuffle queries (scan→WSCG→TakeOrdered shapes) are
    // reported too — at 100 TB "this query does not shuffle" is the
    // headline property, worth asserting as data.
    locally {
      val shufflePath =
        if (detailPath.contains("BENCH_DETAIL"))
          detailPath.replace("BENCH_DETAIL", "SHUFFLE_DETAIL")
        else detailPath + ".shuffle.json"
      val entries = shuffleDetail.sortBy(e => -e._2).map { case (n, b, r) =>
        s"""{"query":"$n","shuffle_mb":${f"${b / 1e6}%.3f"},"records":$r}"""
      }
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(shufflePath),
        (s"""{"sf":"$sfDir",$provenance,"queries":[""" +
          entries.mkString(",\n") + "]}\n")
          .getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] shuffle detail write failed: ${e.getMessage}") }
    }

    // Compact headline line for the driver: the BASELINE.md kNN
    // protocol verbatim + per-group totals + a few flagship queries.
    val groups = perQuery.groupBy { case (n, _) => Bench.groupOf(n) }
      .map { case (g, es) => g -> es.map(_._2).sum }
      .toSeq.sortBy(_._1)
    val flagship = Set("r6_tpch_q1", "r9_window_rank", "m1_minhash_pairs",
      "e1_ann_cosine_topk", "d1_dedup_exact", "s1_stream_tumble")
    val headline = quantBuild ++ knn.toSeq ++ groups ++
      perQuery.filter { case (n, _) => flagship(n) }
    // The DRIVER captures only the last ~2000 chars of stdout (the
    // round-1 lesson: an oversized line truncates from the FRONT and
    // parses as null). The r13 line sat at 1918 of ~1918 available;
    // r20's full gauge set (33 entries) would overflow it — so the
    // HEADLINE carries a fixed whitelist of the most-cited gauges
    // (~1.8 KB total line) and the detail file carries everything.
    val headGaugeNames: Seq[String] =
      Seq("knn_pruned_recall_at10", "knn_pruned_recall_at10_p1",
        "knn_pruned_recall_at10_pq", "knn_pruned_recall_at10_opq") ++
        (for (t <- Seq("pq", "opq"); n <- Seq(25, 100, 400))
          yield s"knn_recall_at10_${t}_c$n") ++
        Seq("index_mb_mod3", "index_mb_mod16", "index_mb_mt4x16")
    val headGauges = {
      val m = gauges.toMap
      headGaugeNames.flatMap(n => m.get(n).map(n -> _))
    }
    // Stop Spark BEFORE printing so nothing it logs at shutdown can
    // land after the JSON line (the driver parses the last line).
    spark.stop()
    val headLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${jsonMap(headline)},"gauges":${jsonMap(headGauges)},"sf":"$sfDir","detail":"$detailPath"}"""
    if (headLine.length > 1900) // truncation budget tripwire (stderr)
      System.err.println(s"[bench] headline line ${headLine.length} B " +
        "risks the driver's ~2000-char stdout-tail capture — trim the " +
        "headline maps (full data is in the detail file)")
    println(headLine)
  }
}
