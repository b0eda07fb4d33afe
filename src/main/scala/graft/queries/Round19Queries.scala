package graft.queries

import org.apache.spark.sql.functions._

/** Round-19 additions: the OPQ quantization tier (e24) — measured
  * recall economics were the engine's weak axis (r12 verdict), and
  * the standard fix is an ORTHOGONAL ROTATION trained before product
  * quantization (Ge et al., "Optimized Product Quantization", CVPR
  * 2013; the FAISS `OPQMatrix` preprocessing). The rotation is
  * trained once on the bounded driver sample (alternating k-means /
  * orthogonal-Procrustes, SVD via Spark's own breeze), vectors are
  * rotated and coded ONCE at build (codegen matvec + PQ-encode
  * kernels), and search is the same ADC scan shape as e8 — identical
  * bytes read, tighter distances.
  *
  * Reference tie-in: the reference claims FAISS quantization tiers
  * (`Readme.md:29-35`) but ships only FlatL2; OPQ completes the
  * engine's real tier ladder above PQ at the same code budget.
  */
object Round19Queries {

  /** One LSH store per (session, sf dir) for v23 — the STORE is
    * cached (build once, like QuantCache); the facade itself is
    * started and STOPPED per call: its HTTP dispatcher thread is
    * non-daemon, so a cached never-stopped server would pin the
    * Verify/Bench JVM open after main returns.
    */
  private val v23Stores = scala.collection.concurrent.TrieMap
    .empty[String, graft.store.VectorStore]

  private def storeFor(s: org.apache.spark.sql.SparkSession,
      d: String): graft.store.VectorStore = {
    val key = s.sparkContext.applicationId + "|" + d
    v23Stores.getOrElseUpdate(key, {
      val dir = graft.util.TempDirs.create("graft_http_q").toString
      graft.store.VectorStore.build(s,
        graft.Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding")),
        s"$dir/index", graft.lsh.LshConfig(dim = 64, seed = 42L))
    })
  }

  val all: Seq[Q] = Seq(

    // V23 — the flagship kNN THROUGH the REST facade: build the LSH
    // store, serve it on a loopback HTTP server, POST /search (no
    // probes bound ⇒ exact over all buckets), and materialize the
    // JSON response as the result frame. Hash-matched against v1's
    // exact-kNN oracle: the facade's routing, JSON round-trip, k
    // handling and distance math must all agree with the engine's
    // native path bit-for-bit. (Driver-side by nature — an HTTP
    // response IS driver data; k=10 rows.)
    Q("v23_http_knn",
      (s, d) => {
        import java.net.URI
        import java.net.http.{HttpClient, HttpRequest, HttpResponse}
        val f = new graft.server.HttpFacade(s, storeFor(s, d), port = 0)
          .start()
        val m = try {
          val q = VectorQueries.qvec(s, d, 0)
          val body =
            s"""{"query_vector": ${q.mkString("[", ",", "]")}, "k": 10}"""
          val resp = HttpClient.newHttpClient().send(
            HttpRequest.newBuilder(
              URI.create(s"http://127.0.0.1:${f.boundPort}/search"))
              .POST(HttpRequest.BodyPublishers.ofString(body))
              .header("Content-Type", "application/json").build(),
            HttpResponse.BodyHandlers.ofString())
          require(resp.statusCode() == 200,
            s"facade: HTTP ${resp.statusCode()}")
          graft.server.Json.parse(resp.body())
            .asInstanceOf[Map[String, Any]]
        } finally f.stop()
        val ids = m("indices").asInstanceOf[Vector[Vector[Any]]].head
          .map(graft.server.Json.asLong)
        val ds = m("distances").asInstanceOf[Vector[Vector[Any]]].head
          .map(graft.server.Json.asDouble)
        val sess = s
        import sess.implicits._
        ids.zip(ds).toDF("vec_id", "dist")
          .select(col("vec_id"), round(col("dist"), 6).as("dist"))
          .orderBy(col("dist"), col("vec_id"))
      },
      Some(VectorQueries.knnOracle(10))),

    // E24 — OPQ search over the persisted QuantIndex: coarse ADC over
    // stored `opq` codes with the ROTATED query's LUT (the rotation
    // is an isometry, so the re-ranked exact distances are the plain
    // L2 metric), bounded exact re-rank to top-10. The oracle replays
    // the ENTIRE rotate→encode→ADC→re-rank pipeline in DuckDB from
    // the injected trained rotation + books (the e8 late-oracle
    // technique), so the trained rotation itself is hash-checked.
    Q("e24_opq_search",
      (s, d) => {
        val idx = QuantCache.forDir(s, d)
        val q = VectorQueries.qvec(s, d, 0L)
        val cand = idx.candidateIds(idx.coarse(graft.store.QuantTier.Opq, q, 100))
        idx.exactDist(cand, q)
          .select(col("id").as("vec_id"), round(col("dist"), 6).as("dist"))
          .orderBy(col("dist"), col("vec_id")).limit(10)
      },
      None,
      lateOracle = QuantCache.lateOracle("e24_opq_search")))
}
