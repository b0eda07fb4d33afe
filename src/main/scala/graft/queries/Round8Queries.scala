package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Round-8 queries: an Avro container source (the remaining common
  * at-rest format), degree-oriented triangle counting (the canonical
  * distributed-graph pattern beyond r76's pagerank), and CDC
  * merge/upsert semantics (the ingestion shape every warehouse-style
  * pipeline needs).
  */
object Round8Queries {

  private val D = DecimalType(18, 2)

  /** x24's fixture: documents with doc_id < 2000 as 4 Avro container
    * files, staged once per (session, sf dir).
    */
  private val avroStaged =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[graft] def x24Stage(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    avroStaged.getOrElseUpdate(s.sparkContext.applicationId + "|" + d, {
      val dir = graft.util.TempDirs.create("graft_x24").toString
      Tables.documents(s, d).where(col("doc_id") < 2000)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartition(4, col("doc_id"))
        .write.format("avrograft").option("syncInterval", "2048")
        .mode("append").save(dir)
      dir
    })

  val all: Seq[Q] = Seq(

    // X24 — Avro Object Container source: stage the fixture through
    // the DSv2 SINK (one container per task, tmp+rename commit), read
    // it back through the source (sync-marker byte-range splits,
    // reader-schema column pruning — this query decodes only
    // (lang, n_chars), never doc_id), aggregate per language. Oracle
    // recomputes from the parquet documents table.
    Q("x24_avro_source",
      (s, d) => {
        val dir = x24Stage(s, d)
        s.read.format("avrograft").load(dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars").cast("decimal(18,0)")).cast("long")
              .as("sum_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM documents WHERE doc_id < 2000
          |GROUP BY lang ORDER BY lang""".stripMargin)),

    // S23 — streaming Avro ingest: the avrograft source's micro-batch
    // form (file-list offsets, the NPZ-source convention). Two
    // staged drops of container files; processAllAvailable between
    // them proves incremental pickup — each micro-batch reads ONLY
    // the files that appeared since the last offset. Oracle: the
    // same per-language aggregate over the parquet documents table.
    Q("s23_stream_avro_ingest",
      (s, d) => {
        val avroDir = graft.util.TempDirs.create("graft_s23_avro").toString
        val outDir = graft.util.TempDirs.create("graft_s23_out").toString
        val ckpt = graft.util.TempDirs.create("graft_s23_ckpt").toString
        val docs = Tables.documents(s, d)
          .where(col("doc_id") < 2000)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        docs.where(col("doc_id") % 2 === 0).repartition(2, col("doc_id"))
          .write.format("avrograft").mode("append").save(avroDir)
        val q = s.readStream.format("avrograft").load(avroDir)
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        // Second drop appends directly: sink file names carry the
        // session-unique task id, so successive appends never collide.
        docs.where(col("doc_id") % 2 === 1).repartition(2, col("doc_id"))
          .write.format("avrograft").mode("append").save(avroDir)
        q.processAllAvailable()
        q.stop()
        s.read.parquet(outDir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM documents WHERE doc_id < 2000
          |GROUP BY lang ORDER BY lang""".stripMargin),
      streaming = true),

    // E16 — INT4 two-stage search over the persisted QuantIndex: the
    // stored `i4` column holds each SQ8 code's top nibble, 16 per
    // long — 4 bits/dim, 8× fewer bytes than float32 in the coarse
    // scan (vs SQ8's 4×). Coarse top-100 by exact INTEGER nibble
    // distance (engine-exact — the oracle recomputes codes>>4 in
    // SQL), then the bounded exact float re-rank. The tier between
    // sq8 (e6) and 1-bit bitq (e13) in the bytes/recall trade.
    Q("e16_int4_search",
      (s, d) => {
        val idx = QuantCache.forDir(s, d)
        val q = VectorQueries.qvec(s, d, 0)
        idx.searchTwoStage(graft.store.QuantTier.Int4, q, 10)
          .select(col("id").as("vec_id"), round(col("dist"), 6).as("dist"))
          .orderBy(col("dist"), col("vec_id"))
      },
      Some(s"""WITH st AS (
           |  SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
           |         max(CAST(embedding[i] AS DOUBLE)) AS mx
           |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
           |  GROUP BY i),
           |scl AS (
           |  SELECT list(mn ORDER BY i) AS mns,
           |         list(CASE WHEN mx > mn THEN 255.0 / (mx - mn)
           |              ELSE 0.0 END ORDER BY i) AS ss
           |  FROM st),
           |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |qc AS (
           |  SELECT list_transform(range(1, 65), i ->
           |    CAST(round((CAST(qe[i] AS DOUBLE) - mns[i]) * ss[i])
           |         AS BIGINT) // 16) AS c
           |  FROM q, scl),
           |codes AS (
           |  SELECT vec_id, list_transform(range(1, 65), i ->
           |    CAST(round((CAST(embedding[i] AS DOUBLE) - mns[i]) * ss[i])
           |         AS BIGINT) // 16) AS c
           |  FROM embeddings, scl),
           |cand AS (
           |  SELECT codes.vec_id,
           |    list_sum(list_transform(range(1, 65), i ->
           |      (codes.c[i] - qc.c[i]) * (codes.c[i] - qc.c[i]))) AS qd
           |  FROM codes, qc
           |  ORDER BY qd, vec_id LIMIT 100)
           |SELECT e.vec_id,
           |  round(${graft.functions.DuckSql.l2sq("e.embedding", "q.qe")}, 6)
           |    AS dist
           |FROM cand JOIN embeddings e ON cand.vec_id = e.vec_id, q
           |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin)),

    // P14 — the Avro migration capstone (p9's shape for the second
    // interchange format): embeddings exported as Avro containers
    // (array<float> columns — the common embedding-export layout) →
    // read back through the avrograft source → exact kNN. Oracle is
    // v1's brute-force kNN: the round-trip must be byte-lossless.
    Q("p14_avro_ingest_search",
      (s, d) => {
        val dir = graft.util.TempDirs.create("graft_p14_avro").toString
        Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"))
          .repartition(3)
          .write.format("avrograft").mode("overwrite").save(dir)
        val emb = s.read.format("avrograft").load(dir)
        val q = VectorQueries.qvec(s, d, 0)
        emb.select(col("vec_id"),
            graft.functions.VectorFunctions.l2sqLit(col("embedding"), q)
              .as("dd"))
          .orderBy(col("dd"), col("vec_id")).limit(10)
          .select(col("vec_id"), round(col("dd"), 6).as("dist"))
      },
      Some(VectorQueries.knnOracle(10))),

    // R78 — triangle counting on the part co-purchase graph (parts
    // appearing in the same order are linked). The scale pattern is
    // DEGREE ORIENTATION: each undirected edge is directed from its
    // lower-(degree, id) endpoint to the higher one, which (a) makes
    // the orientation acyclic so every triangle is counted exactly
    // once as a→b→c with a→c, and (b) bounds every out-adjacency by
    // O(√m), so the path-join e(a,b)⋈e(b,c) — the quadratic danger —
    // is capped at m·√m regardless of skew (a celebrity node with
    // degree 10⁶ contributes NOTHING to path expansion: all its edges
    // point inward). Three hash joins, no driver state.
    Q("r78_triangle_count",
      (s, d) => {
        // One co-purchase year: keeps the graph sparse (orders, not
        // the whole history, define affinity) and the bench cost flat
        // across sf — the full-history graph at sf0.1 is 1.2M edges /
        // 1.9M triangles and join-bound in ANY engine.
        val li = Tables.lineitem(s, d)
          .where(to_date(col("l_shipdate")).between("1995-01-01", "1995-12-31"))
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val a = li.select(col("ok"), col("pk").as("u"))
        val b = li.select(col("ok").as("ok2"), col("pk").as("v"))
        val edges = a.join(b, col("ok") === col("ok2") && col("u") < col("v"))
          .select("u", "v").distinct()
        val deg = edges.select(col("u").as("n"))
          .union(edges.select(col("v").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
        val du = deg.select(col("n").as("u"), col("deg").as("du"))
        val dv = deg.select(col("n").as("v"), col("deg").as("dv"))
        val oriented = edges.join(du, "u").join(dv, "v")
          .select(
            when(col("du") < col("dv") ||
              (col("du") === col("dv") && col("u") < col("v")), col("u"))
              .otherwise(col("v")).as("src"),
            when(col("du") < col("dv") ||
              (col("du") === col("dv") && col("u") < col("v")), col("v"))
              .otherwise(col("u")).as("dst"))
        val e1 = oriented.select(col("src").as("a"), col("dst").as("b"))
        val e2 = oriented.select(col("src").as("b2"), col("dst").as("c"))
        val e3 = oriented.select(col("src").as("a3"), col("dst").as("c3"))
        val tri = e1.join(e2, col("b") === col("b2"))
          .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        // Three 1-row aggregates combined declaratively (single-row
        // broadcast joins) — no driver-side .count() actions.
        deg.agg(count(lit(1)).as("n_nodes"))
          .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
          .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
      },
      Some("""WITH li AS (
          |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
          |  WHERE CAST(l_shipdate AS DATE)
          |    BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'),
          |edges AS (
          |  SELECT DISTINCT a.pk AS u, b.pk AS v
          |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
          |deg AS (
          |  SELECT n, count(*) AS deg FROM (
          |    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
          |  GROUP BY n),
          |oriented AS (
          |  SELECT CASE WHEN du.deg < dv.deg
          |      OR (du.deg = dv.deg AND e.u < e.v) THEN e.u ELSE e.v END AS src,
          |    CASE WHEN du.deg < dv.deg
          |      OR (du.deg = dv.deg AND e.u < e.v) THEN e.v ELSE e.u END AS dst
          |  FROM edges e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n)
          |SELECT (SELECT count(*) FROM deg) AS n_nodes,
          |  (SELECT count(*) FROM edges) AS n_edges,
          |  count(*) AS n_triangles
          |FROM oriented e1
          |JOIN oriented e2 ON e1.dst = e2.src
          |JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst""".stripMargin)),

    // R79 — CDC MERGE/upsert: a deterministic change feed against the
    // orders table (updates for keys ≡0 mod 10, deletes for keys ≡3
    // mod 97 not already updated, inserts under fresh keys for ≡7 mod
    // 53), applied with the standard distributed MERGE shape — one
    // shuffle-on-key full-outer join, tombstone filter, column
    // coalesce. No per-row lookups, no driver loop; AQE picks the
    // join strategy from the CDC batch's actual size (a trickle batch
    // broadcasts, a backfill shuffles).
    Q("r79_merge_upsert",
      (s, d) => {
        val tgt = Tables.orders(s, d)
          .select(col("o_orderkey").as("key"),
            col("o_orderstatus").as("t_status"),
            col("o_totalprice").as("t_price"))
        val src = Tables.orders(s, d)
        val upd = src.where(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey").as("ckey"), lit("U").as("c_status"),
            (col("o_totalprice") + lit(10.0)).as("c_price"),
            lit("u").as("op"))
        val del = src.where(col("o_orderkey") % 10 =!= 0 &&
            col("o_orderkey") % 97 === 3)
          .select(col("o_orderkey").as("ckey"),
            lit(null).cast("string").as("c_status"),
            lit(null).cast("double").as("c_price"), lit("d").as("op"))
        val ins = src.where(col("o_orderkey") % 53 === 7)
          .select((col("o_orderkey") + 100000000L).as("ckey"),
            lit("N").as("c_status"), col("o_totalprice").as("c_price"),
            lit("i").as("op"))
        val cdc = upd.unionByName(del).unionByName(ins)
        val merged = tgt.join(cdc, col("key") === col("ckey"), "full_outer")
          .where(col("op").isNull || col("op") =!= "d")
          .select(
            coalesce(col("key"), col("ckey")).as("key"),
            when(col("op").isNotNull, col("c_status"))
              .otherwise(col("t_status")).as("status"),
            when(col("op").isNotNull, col("c_price"))
              .otherwise(col("t_price")).as("price"))
        merged.groupBy("status")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("price").cast(D)).cast("double").as("sum_price"))
          .orderBy("status")
      },
      Some("""WITH upd AS (
          |  SELECT o_orderkey AS ckey, 'U' AS c_status,
          |    o_totalprice + 10.0 AS c_price, 'u' AS op
          |  FROM orders WHERE o_orderkey % 10 = 0),
          |del AS (
          |  SELECT o_orderkey AS ckey, CAST(NULL AS VARCHAR) AS c_status,
          |    CAST(NULL AS DOUBLE) AS c_price, 'd' AS op
          |  FROM orders WHERE o_orderkey % 10 <> 0 AND o_orderkey % 97 = 3),
          |ins AS (
          |  SELECT o_orderkey + 100000000 AS ckey, 'N' AS c_status,
          |    o_totalprice AS c_price, 'i' AS op
          |  FROM orders WHERE o_orderkey % 53 = 7),
          |cdc AS (
          |  SELECT * FROM upd UNION ALL SELECT * FROM del
          |  UNION ALL SELECT * FROM ins),
          |merged AS (
          |  SELECT coalesce(t.o_orderkey, c.ckey) AS key,
          |    CASE WHEN c.op IS NOT NULL THEN c.c_status
          |         ELSE t.o_orderstatus END AS status,
          |    CASE WHEN c.op IS NOT NULL THEN c.c_price
          |         ELSE t.o_totalprice END AS price
          |  FROM orders t FULL OUTER JOIN cdc c ON t.o_orderkey = c.ckey
          |  WHERE c.op IS NULL OR c.op <> 'd')
          |SELECT status, count(*) AS n_rows,
          |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          |FROM merged GROUP BY status ORDER BY status""".stripMargin))
  )
}
