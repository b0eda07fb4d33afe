package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{DuckSql, VectorFunctions => VF}

/** Round-7 queries: the S5 image→embedding path closed end-to-end.
  * See each query's comment for the reference anchor.
  */
object Round7Queries {

  /** x18's deterministic fixture image for `id` as REAL PNG bytes:
    * 8×8 grayscale, sample(x,y) = (id·31 + x·8 + y) mod 256.
    */
  private def fixturePng(id: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var x = 0
    while (x < 8) {
      var y = 0
      while (y < 8) {
        img.getRaster.setSample(x, y, 0, ((id * 31 + x * 8 + y) % 256).toInt)
        y += 1
      }
      x += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  // x23's expected-query-embedding oracle SQL, keyed appId|dir, served
  // only when unambiguous (same convention as mmrOracle / QuantCache).
  private val x23Oracle =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** DuckDB twin with the five driver-computed query embeddings
    * injected as literals (%.17e exact double round-trip) — the
    * late-oracle family (SURVEY §2.10): the oracle pins the whole
    * distributed path (PNG encode → decode → per-partition session →
    * featurize → broadcast join → ranking) to the driver's replay of
    * the identical arithmetic.
    */
  private def x23Sql(exp: Seq[(Long, Array[Double])]): String = {
    def dl(x: Double): String = f"$x%.17e"
    val values = exp.map { case (id, e) =>
      s"($id, ${e.map(dl).mkString("[", ", ", "]")})"
    }.mkString(",\n    ")
    s"""WITH qf(qid, qf) AS (VALUES $values),
       |p AS (
       |  SELECT CAST(q.qid AS BIGINT) AS qid, e.vec_id AS vec_id,
       |    ${DuckSql.l2sq("e.embedding", "q.qf")} AS d
       |  FROM embeddings e, qf q),
       |r AS (
       |  SELECT qid, vec_id, d,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY d, vec_id)
       |      AS INT) AS rank
       |  FROM p)
       |SELECT qid, rank, vec_id, round(d, 6) AS dist
       |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // X23 — query-by-image with a HOSTED featurizer: PNG bytes →
    // real ImageIO decode → a model session deserialized once per
    // partition from broadcast bytes (the ONNX-on-Spark hosting
    // pattern; graft.ml.ToyCnn stands in for the runtime, which isn't
    // in-container) → unit-norm embedding → broadcast into the corpus
    // scan → per-query top-3 by ranking window. This closes S5
    // (`generate_coco_embeddings.py:33-41` → `image_search.py:31-58`)
    // end-to-end in ONE plan: the reference runs decode+featurize in
    // a separate offline script; here it's a stage of the same
    // DataFrame chain that searches. x16 proved the join shape with a
    // closed-form featurizer; x18 proved the codec; x23 composes them
    // with the per-partition-session hosting that a real neural
    // featurizer needs at 100 TB (load once, stream rows through).
    Q("x23_neural_knn",
      (s, d) => {
        import s.implicits._
        val net = graft.ml.ToyCnn.seeded(20260813L)
        val bc = s.sparkContext.broadcast(net.toBytes)
        // Pluggable runtime (graft.ml.Featurizers): the query compiles
        // against the interface only — an ONNX adapter registered under
        // another name slots in here with the plan and oracle unchanged.
        val runtime = graft.ml.Featurizers.forName("toycnn")
        val qfeat = Tables.documents(s, d).where(col("doc_id") < 5)
          .select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            // one session per partition — NEVER per row
            val session = runtime.load(bc.value)
            it.map { id =>
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(fixturePng(id)))
              (id, session.featurize(img))
            }
          }.toDF("qid", "qf")
        val exp = (0L until 5L).map { id =>
          id -> net.featurize(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(fixturePng(id))))
        }
        x23Oracle.put(s.sparkContext.applicationId + "|" + d, x23Sql(exp))
        val w = Window.partitionBy("qid").orderBy(col("d0"), col("vec_id"))
        Tables.embeddings(s, d).crossJoin(broadcast(qfeat))
          .select(col("qid"), col("vec_id"),
            VF.l2sq(col("embedding"), col("qf")).as("d0"))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .select(col("qid"), col("rank"), col("vec_id"),
            round(col("d0"), 6).as("dist"))
          .orderBy("qid", "rank")
      },
      None,
      lateOracle = () => x23Oracle.values.toSeq match {
        case Seq(one) => Some(one)
        case _        => None
      }),

    // S22 — streaming ingest into the MULTI-TABLE store: the ×L
    // scatter under a stream, completing the pattern family (s13 =
    // LSH store, s21 = quant index): seed build, then each
    // micro-batch fans out one row per table inside foreachBatch.
    // The final EXACT search (one full corpus copy, table 0) must
    // reproduce the full-corpus top-10 — the same oracle as
    // s13/s21 — so a dropped batch, a missing table copy, or a
    // wrong bucket code all hash-mismatch.
    Q("s22_stream_multitable_ingest",
      (s, d) => {
        import graft.lsh.LshConfig
        import graft.store.MultiTableStore
        val emb = s.read.parquet(s"$d/embeddings.parquet")
          .select(col("vec_id").cast("long").as("id"), col("embedding"))
        val srcDir = graft.util.TempDirs.create("graft_s22_src").toString
        emb.where(col("id") >= 100).repartition(4)
          .write.mode("overwrite").parquet(s"$srcDir/files")
        val path = graft.util.TempDirs.create("graft_s22_idx")
          .toString + "/index"
        val st = MultiTableStore.build(s, emb.where(col("id") < 100), path,
          LshConfig(numHashFunctions = 4, numHashTables = 4, dim = 64,
            seed = 42L, multiTable = true))
        val ckpt = graft.util.TempDirs.create("graft_s22_ckpt").toString
        val q = s.readStream
          .schema(emb.where(col("id") >= 100).schema)
          .option("maxFilesPerTrigger", "2")
          .parquet(s"$srcDir/files")
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              org.apache.spark.sql.Row], bid: Long) =>
            // exactly-once: replayed micro-batches no-op on the batch id
            st.add(batch, batchId = Some(bid))
          }
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        q.stop()
        st.search(VectorQueries.qvec(s, d, 0), 10, st.maxDepth)
          .select(col("id").as("vec_id"), round(col("dist"), 6).as("dist"))
      },
      Some(s"""WITH q AS (SELECT embedding AS qe FROM embeddings
          |           WHERE vec_id = 0)
          |SELECT vec_id, round(d, 6) AS dist FROM (
          |  SELECT e.vec_id AS vec_id,
          |    ${graft.functions.DuckSql.l2sq("e.embedding", "q.qe")} AS d
          |  FROM embeddings e, q)
          |ORDER BY d, vec_id LIMIT 10""".stripMargin),
      streaming = true)
  )
}
