package graft.dev

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.{QuantCache, VectorQueries}

/** Dev-only: decompose the recall-audit rows (r15 verdict "Next round"
  * #4) — v22 (MultiTableStore build + probes curve) and e25 (OPQ
  * coarseN curve) — into build / audit / search phases, warm, so the
  * seconds have an owner. Never driver-run.
  */
object AuditProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // job accounting: the audit's "ONE corpus scan" claim, checked at
    // runtime — jobs per phase and each job's stage call sites
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    val sites = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          sites.add(j.stageInfos.map(_.name.takeWhile(_ != '$')).toSet
            .filter(_.nonEmpty).mkString("+"))
        }
      })
    def t[T](label: String)(f: => T): T = {
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      val j0 = jobs.get(); sites.clear()
      val t0 = System.nanoTime(); val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      println(f"[probe] $label: $dt%.3f s, ${jobs.get() - j0} jobs " +
        sites.asScala.mkString("[", "; ", "]"))
      r
    }
    import graft.lsh.LshConfig
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding"))
    emb.count() // warm scan

    // ---- v22 phases (two passes: first ~cold, second warm) ----------
    (1 to 2).foreach { pass =>
      println(s"[probe] === v22 pass $pass ===")
      val path = graft.util.TempDirs.create("probe_v22").toString + "/index"
      val mt = t("  mt build")(graft.store.MultiTableStore.build(spark, emb,
        path, LshConfig(numHashFunctions = 4, numHashTables = 4,
          dim = 64, seed = 42L, multiTable = true)))
      val panel = (0L until 8L).map(VectorQueries.qvec(spark, sfDir, _))
      t("  mt auditRecallCurve")(mt.auditRecallCurve(panel, k = 10))
      val q = VectorQueries.qvec(spark, sfDir, 0)
      t("  mt searchAtRecall")(mt.searchAtRecall(q, 10, 0.5).collect())
    }

    // ---- audit-plan dumps (r15 verdict task #4 evidence): the final
    // executed plan of each audit's ONE-scan aggregate, committed to
    // plans/r16 so the single-pass / prefix-depth claims are checkable
    def dumpPlan(df: org.apache.spark.sql.DataFrame, out: String): Unit = {
      df.collect() // drive THIS QueryExecution so the final AQE plan shows
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(out).getParent)
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
      println(s"[probe] wrote $out")
    }
    locally {
      val path = graft.util.TempDirs.create("probe_v22p").toString + "/index"
      val mt = graft.store.MultiTableStore.build(spark, emb, path,
        LshConfig(numHashFunctions = 4, numHashTables = 4,
          dim = 64, seed = 42L, multiTable = true))
      val panel = (0L until 8L).map(VectorQueries.qvec(spark, sfDir, _))
      dumpPlan(mt.auditFrame(panel, 10),
        "plans/r16/v22_audit_executed.txt")
    }

    // ---- e25 phases --------------------------------------------------
    val idx = t("quant forDir (shared cache)")(QuantCache.forDir(spark, sfDir))
    (1 to 2).foreach { pass =>
      println(s"[probe] === e25 pass $pass ===")
      val panel = (0L until 10L).map(VectorQueries.qvec(spark, sfDir, _))
      t("  auditAdcRecallCurve(opq)")(
        idx.auditAdcRecallCurve(panel, k = 10, tier = graft.store.QuantTier.Opq))
      val q = VectorQueries.qvec(spark, sfDir, 0)
      t("  searchAdcAtRecall(opq)")(
        idx.searchAdcAtRecall(q, 10, 0.7, graft.store.QuantTier.Opq)
          ._1.collect())
    }
    locally {
      val panel = (0L until 10L).map(VectorQueries.qvec(spark, sfDir, _))
      dumpPlan(idx.adcAuditFrame(panel, 10, graft.store.QuantTier.Opq,
          Seq(10, 25, 50, 100, 200, 400)),
        "plans/r16/e25_audit_executed.txt")
    }
    spark.stop()
  }
}
