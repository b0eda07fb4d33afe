package graft.queries

import org.apache.spark.sql.functions._

/** Round-12 queries: recall-targeted search on the QUANTIZED layout —
  * [[graft.store.QuantIndex]] gains the same measured-curve-driven
  * latency/recall knob v21 gave [[graft.store.VectorStore]], so the
  * IVF nprobe stops being a hand-tuned constant.
  */
object Round12Queries {

  /** e19's recall target: above the 1-probe measured recall on this
    * data (so the curve actually raises nprobe) and below 1.0's exact
    * degeneration — the choice the curve exists to make.
    */
  private val E19Target = 0.8

  /** Late-bound oracle: the chosen nprobe — hence the probed cell set
    * — depends on the curve MEASURED at the target scale factor.
    */
  @volatile private var e19Oracle: Option[String] = None

  val all: Seq[Q] = Seq(

    // E19 — recall-targeted IVF kNN: audit the recall-vs-nprobe curve
    // over a 10-query panel (ONE corpus scan — exact and every probe
    // depth are FILTERed TopKAggs on the same pass), persist it inside
    // the index snapshot, then search with the smallest nprobe whose
    // MEASURED recall meets the 0.8 target. The oracle replays the
    // final search from the injected trained centroids at the chosen
    // nprobe — so the curve-driven choice is hash-checked end to end.
    Q("e19_recall_target_ivf",
      (s, d) => {
        val idx = QuantCache.forDir(s, d)
        val panel = (0L until 10L).map(VectorQueries.qvec(s, d, _))
        idx.auditRecallCurve(panel, k = 10)
        val q = VectorQueries.qvec(s, d, 0)
        val nprobe = idx.depthForRecall(E19Target, 10).getOrElse(idx.maxDepth)
        e19Oracle = Some(QuantCache.ivfSqlAtNprobe(idx.model, nprobe))
        idx.search(q, 10, nprobe)
          .select(col("id").as("vec_id"),
            round(col("dist"), 6).as("dist"),
            lit(nprobe).cast("int").as("nprobe"))
      },
      None,
      lateOracle = () => e19Oracle)
    ,

    // V22 — recall-targeted kNN on the MULTI-TABLE layout, completing
    // the measured-curve knob across all three index layouts (LSH v21,
    // quant e19, multi-table here). Informed probing cannot promise
    // full partition coverage on this layout, so when no measured
    // point reaches the target the search degenerates to exact over
    // table 0 (probes echoed as 0) — both branches oracle-replayed:
    // the probed branch restricts the DuckDB scan to the chosen
    // (table, bucket) pairs recomputed from the seeded matrix.
    Q("v22_mt_recall_target_knn",
      (s, d) => {
        import graft.lsh.LshConfig
        val path = graft.util.TempDirs.create("graft_v22").toString + "/index"
        val mt = graft.store.MultiTableStore.build(s,
          graft.Tables.embeddings(s, d)
            .select(col("vec_id").as("id"), col("embedding")),
          path, LshConfig(numHashFunctions = 4, numHashTables = 4,
            dim = 64, seed = 42L, multiTable = true))
        val panel = (0L until 8L).map(VectorQueries.qvec(s, d, _))
        mt.auditRecallCurve(panel, k = 10)
        val q = VectorQueries.qvec(s, d, 0)
        val target = V22Target
        val (df, probes, whereSql) = mt.depthForRecall(target, 10) match {
          case Some(p) =>
            val cands = mt.model.tableCandidates(q, p)
            (mt.search(q, 10, p), p,
              cands.map { case (t, b) =>
                s"${mt.model.tableBucketSql("e.embedding", t)} = $b"
              }.mkString("(", " OR ", ")"))
          case None => (mt.search(q, 10, mt.maxDepth), 0, "TRUE")
        }
        v22Oracle = Some(
          s"""SELECT vec_id, dist, CAST($probes AS INT) AS probes FROM (
             |${VectorQueries.knnOracle(10, where = whereSql)}
             |) ORDER BY dist, vec_id""".stripMargin)
        df.select(col("id").as("vec_id"),
          round(col("dist"), 6).as("dist"),
          lit(probes).cast("int").as("probes"))
      },
      None,
      lateOracle = () => v22Oracle)
  )

  /** v22's recall target: reachable by informed probing on this data
    * (the measured mt curve passes 0.5 by p≈4 at sf0.1), so the query
    * normally exercises the curve-driven choice; if a scale factor's
    * curve tops out below it, the exact-degeneration branch is what
    * gets verified instead — both are correct behavior.
    */
  private val V22Target = 0.5

  @volatile private var v22Oracle: Option[String] = None
}
