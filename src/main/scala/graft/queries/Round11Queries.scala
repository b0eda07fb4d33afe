package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.lsh.LshConfig
import graft.store.VectorStore

/** Round-11 queries: recall-targeted search — probe depth chosen from
  * the index's own persisted measured recall curve instead of a
  * hand-tuned constant (the "latency vs recall tradeoffs" the
  * reference claims at `Readme.md:19` but never implements).
  */
object Round11Queries {

  /** v21's recall target: high enough that 1 probe of 16 won't meet it
    * on this data, low enough that the curve reaches it before
    * degenerating to exact — so the query actually exercises the
    * curve-driven choice.
    */
  private val V21Target = 0.6

  /** Late-bound oracle (the chosen probe depth — hence the candidate
    * bucket set — depends on the curve MEASURED on the target scale
    * factor, so it is only known after the query has run).
    */
  @volatile private var v21Oracle: Option[String] = None

  val all: Seq[Q] = Seq(

    // V21 — recall-targeted kNN over a 16-bucket store: build, audit
    // the recall-vs-probes curve over a 10-query panel (ONE corpus
    // scan — every probe depth is a FILTERed TopKAgg on the same
    // pass), persist it, then search with the smallest probe depth
    // whose MEASURED recall meets the 0.6 target. The oracle replays
    // the final search exactly: bucket assignment from the seeded
    // projection matrix (v5/v8's treatment) restricted to the chosen
    // candidate buckets, both injected late — so the curve-driven
    // probe choice itself is hash-checked (a wrong choice selects
    // different buckets and the row hashes diverge).
    Q("v21_recall_target_knn",
      (s, d) => {
        val path = graft.util.TempDirs.create("graft_v21").toString + "/index"
        val store = VectorStore.build(s,
          Tables.embeddings(s, d)
            .select(col("vec_id").as("id"), col("embedding")),
          path, LshConfig(numHashTables = 16, dim = 64, seed = 42L))
        val panel = (0L until 10L).map(VectorQueries.qvec(s, d, _))
        store.auditRecallCurve(panel, k = 10)
        val q = VectorQueries.qvec(s, d, 0)
        val probes = store.depthForRecall(V21Target, 10).getOrElse(store.maxDepth)
        val cands = store.model.candidates(q, probes)
        v21Oracle = Some(
          s"""SELECT vec_id, dist, CAST($probes AS INT) AS probes FROM (
             |${VectorQueries.knnOracle(10, where =
                s"${store.model.bucketSql("e.embedding")} IN (${cands.mkString(", ")})")}
             |) ORDER BY dist, vec_id""".stripMargin)
        store.search(q, 10, probes)
          .select(col("id").as("vec_id"),
            round(col("dist"), 6).as("dist"),
            lit(probes).cast("int").as("probes"))
      },
      None,
      lateOracle = () => v21Oracle)
  )
}
