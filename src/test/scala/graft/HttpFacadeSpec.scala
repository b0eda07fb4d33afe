package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import graft.server.{HttpFacade, Json}

/** Round-trips the reference coordinator's REST semantics
  * (`coordinator/coordinator_server.py`) against the facade.
  */
class HttpFacadeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val fstore: graft.store.VectorStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft_http").toString
    graft.store.VectorStore.build(spark,
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")),
      s"$dir/index", graft.lsh.LshConfig(dim = 64, seed = 42L))
  }

  private lazy val facade: HttpFacade =
    new HttpFacade(spark, fstore, port = 0).start()

  private lazy val client = HttpClient.newHttpClient()

  private def get(path: String): (Int, Any) = {
    val r = client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${facade.boundPort}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), Json.parse(r.body()))
  }

  private def post(path: String, body: String): (Int, Any) = {
    val r = client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${facade.boundPort}$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), Json.parse(r.body()))
  }

  private def obj(v: Any) = v.asInstanceOf[Map[String, Any]]

  test("GET /health") {
    val (code, body) = get("/health")
    assert(code == 200 && obj(body)("status") == "healthy")
  }

  test("POST /search: 1-D query reshapes, k clamps, self at distance 0") {
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0)
    val qj = q.mkString("[", ",", "]")
    val (code, body) = post("/search", s"""{"query_vector": $qj, "k": 3}""")
    assert(code == 200)
    val m = obj(body)
    assert(m("status") == "success")
    val indices = m("indices").asInstanceOf[Vector[Vector[Any]]]
    val dists = m("distances").asInstanceOf[Vector[Vector[Any]]]
    assert(indices.size == 1 && indices.head.size == 3)
    assert(Json.asLong(indices.head.head) == 0L) // vec_id 0 itself
    assert(Json.asDouble(dists.head.head) == 0.0)
    // k <= 0 clamps to 1 (coordinator_server.py:99-103)
    val (c2, b2) = post("/search", s"""{"query_vector": $qj, "k": 0}""")
    assert(c2 == 200 &&
      obj(b2)("indices").asInstanceOf[Vector[Vector[Any]]].head.size == 1)
  }

  test("POST /search: min_recall drives probes off the persisted measured curve") {
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0)
    val qj = q.mkString("[", ", ", "]")
    // no persisted curve → conservative: exact search over every bucket
    graft.util.FsIo.delete(s"${fstore.path}/_recall_curve.json")
    val (c0, b0) = post("/search",
      s"""{"query_vector": $qj, "k": 3, "min_recall": 0.5}""")
    assert(c0 == 200 &&
      Json.asLong(obj(b0)("probes")).toInt == fstore.model.numBuckets)
    // audit the curve AT THE REQUEST'S k, then the facade's choice
    // must equal the store's and the results must equal searching at
    // that depth directly
    val panel = (0L until 5L)
      .map(graft.queries.VectorQueries.qvec(spark, TestSpark.sf, _))
    fstore.auditRecallCurve(panel, k = 3)
    val p = fstore.depthForRecall(0.5, 3).getOrElse(fstore.maxDepth)
    val (c1, b1) = post("/search",
      s"""{"query_vector": $qj, "k": 3, "min_recall": 0.5}""")
    assert(c1 == 200 && Json.asLong(obj(b1)("probes")).toInt == p)
    val got = obj(b1)("indices").asInstanceOf[Vector[Vector[Any]]]
      .head.map(Json.asLong)
    val want = fstore.search(q, 3, p).collect().map(_.getLong(0)).toVector
    assert(got == want)
    // a request at a k the curve was NOT audited at is not certified
    // by it: probe everything instead of under-delivering (r14 ADVICE)
    val (c1b, b1b) = post("/search",
      s"""{"query_vector": $qj, "k": 7, "min_recall": 0.5}""")
    assert(c1b == 200 &&
      Json.asLong(obj(b1b)("probes")).toInt == fstore.model.numBuckets)
    // explicit probes override, clamped into [1, numBuckets]
    val (c2, b2) = post("/search",
      s"""{"query_vector": $qj, "k": 3, "probes": 99}""")
    assert(c2 == 200 &&
      Json.asLong(obj(b2)("probes")).toInt == fstore.model.numBuckets)
  }

  test("POST /search: missing fields give the reference's 400s") {
    val (c1, b1) = post("/search", """{"k": 5}""")
    assert(c1 == 400 && obj(b1)("error") == "No query vector provided")
    val (c2, b2) = post("/search", """{"query_vector": [1.0]}""")
    assert(c2 == 400 && obj(b2)("error") == "No k value provided")
  }

  test("POST /add_vectors with explicit ids, then search finds them") {
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0)
    val qj = q.mkString("[", ",", "]")
    val (code, body) = post("/add_vectors",
      s"""{"vectors": [$qj], "ids": [777000]}""")
    assert(code == 200)
    val m = obj(body)
    assert(m("status") == "success" &&
      Json.asLong(m("total_vectors")) == 501L)
    val (_, sb) = post("/search", s"""{"query_vector": $qj, "k": 2}""")
    val ids = obj(sb)("indices").asInstanceOf[Vector[Vector[Any]]]
      .head.map(Json.asLong).toSet
    assert(ids == Set(0L, 777000L), s"dup of vec 0 should tie at d=0: $ids")
  }

  test("POST /add_vectors without ids auto-assigns sequential ids") {
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 1)
    val qj = q.mkString("[", ",", "]")
    val (code, body) = post("/add_vectors", s"""{"vectors": [$qj, $qj]}""")
    assert(code == 200)
    assert(Json.asLong(obj(body)("total_vectors")) == 503L)
    val (c2, b2) = post("/add_vectors", """{}""")
    assert(c2 == 400 && obj(b2)("error") == "No vectors provided")
  }

  test("GET /stats returns the coordinator stats record per bucket") {
    val (code, body) = get("/stats")
    assert(code == 200)
    val m = obj(body)
    assert(m("sharding_strategy") == "lsh")
    assert(Json.asLong(m("total_nodes")) == 3L)
    val nodes = obj(m("nodes"))
    assert(nodes.nonEmpty && nodes.keys.forall(_.startsWith("bucket=")))
    val counts = nodes.values.map(n => Json.asLong(obj(n)("vector_count"))).sum
    assert(counts >= 500L)
  }

  test("concurrency: 10-thread add+search load loses no update, keeps shapes") {
    // Own store + facade: the shared one is mutated by earlier tests.
    val dir = java.nio.file.Files.createTempDirectory("graft_http_conc").toString
    val store = graft.store.VectorStore.build(spark,
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")),
      s"$dir/index", graft.lsh.LshConfig(dim = 64, seed = 7L))
    val f2 = new HttpFacade(spark, store, port = 0).start()
    def post2(path: String, body: String): (Int, Any) = {
      val r = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${f2.boundPort}$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .header("Content-Type", "application/json").build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), Json.parse(r.body()))
    }
    try {
      val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0)
      val qj = q.mkString("[", ",", "]")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(10)
      val futures = (0 until 10).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = (0 until 3).flatMap { i =>
            val errs = scala.collection.mutable.Buffer.empty[String]
            val id = 900000 + t * 10 + i
            val (ca, ba) = post2("/add_vectors",
              s"""{"vectors": [$qj], "ids": [$id]}""")
            if (ca != 200) errs += s"add($id) -> $ca: $ba"
            // k alternates over {-1, 0, 3}: clamp must hold under load
            val k = Seq(-1, 0, 3)(i)
            val (cs, bs) = post2("/search",
              s"""{"query_vector": $qj, "k": $k}""")
            if (cs != 200) errs += s"search(k=$k) -> $cs: $bs"
            else {
              val idx = obj(bs)("indices").asInstanceOf[Vector[Vector[Any]]]
              val want = math.max(1, k)
              if (idx.size != 1 || idx.head.size != want)
                errs += s"search(k=$k) returned shape ${idx.map(_.size)}"
            }
            // the reference's 400 shapes must survive concurrent load too
            val (ce, be) = post2("/search", """{"k": 1}""")
            if (ce != 400 || obj(be)("error") != "No query vector provided")
              errs += s"missing-vector 400 broke under load: $ce $be"
            errs.toSeq
          }
        })
      }
      val errors = futures.flatMap(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
      assert(errors.isEmpty, errors.mkString("\n"))
      // no lost updates: 500 base + 10 threads x 3 adds
      assert(store.indexDf.count() == 530L)
      val added = store.indexDf.where(col("id") >= 900000).count()
      assert(added == 30L, s"expected 30 added ids, found $added")
    } finally f2.stop()
  }

  // ------------------------- all three layouts over one REST surface

  private def postTo(f: HttpFacade, path: String, body: String): (Int, Any) = {
    val r = client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${f.boundPort}$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), Json.parse(r.body()))
  }
  private def getFrom(f: HttpFacade, path: String): (Int, Any) = {
    val r = client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${f.boundPort}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), Json.parse(r.body()))
  }

  /** The shared reference-shape battery: self at distance 0, k-clamp,
    * add-then-find, stats totals — identical expectations per layout.
    */
  private def roundTrip(f: HttpFacade, strategy: String,
      base: Long): Unit = try {
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0)
    val qj = q.mkString("[", ",", "]")
    // exact default: self is the top hit at distance 0
    val (c1, b1) = postTo(f, "/search", s"""{"query_vector": $qj, "k": 3}""")
    assert(c1 == 200, s"$strategy search: $b1")
    val idx = obj(b1)("indices").asInstanceOf[Vector[Vector[Any]]]
    assert(idx.head.size == 3 && Json.asLong(idx.head.head) == 0L)
    assert(Json.asDouble(obj(b1)("distances")
      .asInstanceOf[Vector[Vector[Any]]].head.head) == 0.0)
    // k clamp
    val (c2, b2) = postTo(f, "/search", s"""{"query_vector": $qj, "k": -2}""")
    assert(c2 == 200 && obj(b2)("indices")
      .asInstanceOf[Vector[Vector[Any]]].head.size == 1)
    // add with explicit id, then find the duplicate at distance 0
    val (c3, b3) = postTo(f, "/add_vectors",
      s"""{"vectors": [$qj], "ids": [888000]}""")
    assert(c3 == 200, s"$strategy add: $b3")
    assert(Json.asLong(obj(b3)("total_vectors")) == base + 1)
    val (_, b4) = postTo(f, "/search", s"""{"query_vector": $qj, "k": 2}""")
    val ids = obj(b4)("indices").asInstanceOf[Vector[Vector[Any]]]
      .head.map(Json.asLong).toSet
    assert(ids == Set(0L, 888000L), s"$strategy dup-of-0 tie: $ids")
    // stats: right strategy tag, node counts sum to the stored total
    val (c5, b5) = getFrom(f, "/stats")
    assert(c5 == 200 && obj(b5)("sharding_strategy") == strategy)
    val counts = obj(obj(b5)("nodes")).values
      .map(n => Json.asLong(obj(n)("vector_count"))).sum
    // ×L layouts store each row per table; vector_count is per node
    assert(counts >= base + 1, s"$strategy node counts: $counts")
  } finally f.stop()

  test("the quantized IVF layout serves the same REST surface (probes = nprobe)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_http_q").toString
    val idx = graft.store.QuantIndex.build(spark,
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")),
      s"$dir/index")
    val f = new HttpFacade(spark,
      new graft.server.StoreAdapter.Quant(spark, idx), port = 0).start()
    roundTrip(f, "ivf", base = 500L)
  }

  test("the multi-table ×L layout serves the same REST surface (probes = pairs)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_http_mt").toString
    val mt = graft.store.MultiTableStore.build(spark,
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")),
      s"$dir/index",
      graft.lsh.LshConfig(numHashFunctions = 4, numHashTables = 4,
        dim = 64, seed = 42L, multiTable = true))
    val f = new HttpFacade(spark,
      new graft.server.StoreAdapter.Multi(spark, mt), port = 0).start()
    roundTrip(f, "lsh_multitable", base = 500L)
  }

  test("the tier knob reaches searchAdcAtRecall over HTTP; non-quant " +
      "layouts and bad requests refuse with 400") {
    val dir = java.nio.file.Files.createTempDirectory("graft_http_q3").toString
    val idx = graft.store.QuantIndex.build(spark,
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")),
      s"$dir/index")
    val panel = (0L until 5L)
      .map(graft.queries.VectorQueries.qvec(spark, TestSpark.sf, _))
    idx.auditAdcRecallCurve(panel, k = 10,
      tier = graft.store.QuantTier.Opq)
    val f = new HttpFacade(spark,
      new graft.server.StoreAdapter.Quant(spark, idx), port = 0).start()
    try {
      val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0)
      val qj = q.mkString("[", ",", "]")
      // curve-driven: the facade's budget equals the engine's choice
      val (c1, b1) = postTo(f, "/search",
        s"""{"query_vector": $qj, "k": 10, "min_recall": 0.7,""" +
          """ "tier": "opq"}""")
      assert(c1 == 200)
      val m = obj(b1)
      val n = Json.asLong(m("coarse_n").asInstanceOf[Vector[Any]].head).toInt
      val (dfWant, nWant) = idx.searchAdcAtRecall(q, 10, 0.7,
        graft.store.QuantTier.Opq)
      assert(n == nWant)
      val got = m("indices").asInstanceOf[Vector[Vector[Any]]]
        .head.map(Json.asLong)
      assert(got == dfWant.collect().map(_.getLong(0)).toVector)
      // a k the curve wasn't audited at: exact fallback, flagged as −1
      val (c2, b2) = postTo(f, "/search",
        s"""{"query_vector": $qj, "k": 5, "min_recall": 0.7,""" +
          """ "tier": "opq"}""")
      assert(c2 == 200 && Json.asLong(obj(b2)("coarse_n")
        .asInstanceOf[Vector[Any]].head) == -1L)
      // loud refusals: unknown tier, missing min_recall
      val (c3, b3) = postTo(f, "/search",
        s"""{"query_vector": $qj, "k": 10, "min_recall": 0.7,""" +
          """ "tier": "pqr"}""")
      assert(c3 == 400 && obj(b3)("error").toString.contains("pqr"))
      val (c4, b4) = postTo(f, "/search",
        s"""{"query_vector": $qj, "k": 10, "tier": "opq"}""")
      assert(c4 == 400 && obj(b4)("error").toString.contains("min_recall"))
    } finally f.stop()
    // a layout without ADC tiers refuses the knob outright
    val q0 = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0)
    val (c5, b5) = postTo(facade, "/search",
      s"""{"query_vector": ${q0.mkString("[", ",", "]")}, "k": 5,""" +
        """ "min_recall": 0.5, "tier": "pq"}""")
    assert(c5 == 400 && obj(b5)("error").toString.contains("lsh"))
  }

  test("explicit probes reaches the quant nprobe knob over HTTP") {
    val dir = java.nio.file.Files.createTempDirectory("graft_http_q2").toString
    val idx = graft.store.QuantIndex.build(spark,
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")),
      s"$dir/index")
    val f = new HttpFacade(spark,
      new graft.server.StoreAdapter.Quant(spark, idx), port = 0).start()
    try {
      val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 7)
      val qj = q.mkString("[", ",", "]")
      val (c1, b1) = postTo(f, "/search",
        s"""{"query_vector": $qj, "k": 5, "probes": 2}""")
      assert(c1 == 200 && Json.asLong(obj(b1)("probes")).toInt == 2)
      // the HTTP result equals the Scala API at the same nprobe
      val want = idx.search(q, 5, 2)
        .collect().map(_.getLong(0)).toVector
      val got = obj(b1)("indices").asInstanceOf[Vector[Vector[Any]]]
        .head.map(Json.asLong)
      assert(got == want)
      // min_recall with no persisted curve → conservative: every cell
      val (c2, b2) = postTo(f, "/search",
        s"""{"query_vector": $qj, "k": 5, "min_recall": 0.9}""")
      assert(c2 == 200 &&
        Json.asLong(obj(b2)("probes")).toInt == idx.model.cfg.ivfCells)
    } finally f.stop()
  }

  // ------------------------------------------------ worker-pool serving

  private def poolThreads(): Int = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala
      .count(_.getName.startsWith("graft-http-"))
  }

  /** Run `body(t)` on `n` threads released together; their results. */
  private def together[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val gate = new java.util.concurrent.CountDownLatch(1)
    try {
      val futures = (0 until n).map { t =>
        pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = { gate.await(); body(t) }
        })
      }
      gate.countDown()
      futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
  }

  test("a stalled upload does not block other clients") {
    val port = facade.boundPort
    val stalled = new java.net.Socket("127.0.0.1", port)
    try {
      val out = stalled.getOutputStream
      out.write(("POST /add_vectors HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        "Content-Type: application/json\r\nContent-Length: 1000\r\n\r\n" +
        "{\"vectors\"").getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.flush()
      Thread.sleep(200) // let the server pick the stalled exchange up
      val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0)
      val other = HttpClient.newHttpClient()
      def timed(b: HttpRequest.Builder): Int = other.send(
        b.timeout(java.time.Duration.ofSeconds(5)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      val uri = (path: String) => URI.create(s"http://127.0.0.1:$port$path")
      assert(timed(HttpRequest.newBuilder(uri("/health")).GET()) == 200)
      assert(timed(HttpRequest.newBuilder(uri("/search")).POST(
        HttpRequest.BodyPublishers.ofString(
          s"""{"query_vector": ${q.mkString("[", ",", "]")}, "k": 3}"""))) == 200)
    } finally stalled.close()
  }

  test("concurrent auto-id adds get distinct ids that fill max+1 .. max+40") {
    val dir = java.nio.file.Files.createTempDirectory("graft_http_ids").toString
    val store = graft.store.VectorStore.build(spark,
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")),
      s"$dir/index", graft.lsh.LshConfig(dim = 64, seed = 11L))
    val base = store.indexDf.count()
    val maxId = store.indexDf.agg(max("id")).head.getLong(0)
    val f = new HttpFacade(spark, store, port = 0).start()
    try {
      val vecs = (0L until 5L)
        .map(i => graft.queries.VectorQueries.qvec(spark, TestSpark.sf, i)
          .mkString("[", ",", "]"))
        .mkString("[", ",", "]")
      val codes = together(8)(_ =>
        postTo(f, "/add_vectors", s"""{"vectors": $vecs}""")._1)
      assert(codes.forall(_ == 200), codes)
      assert(store.indexDf.count() == base + 40)
      val ids = store.indexDf.where(col("id") > maxId)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == (maxId + 1 to maxId + 40))
    } finally f.stop()
  }

  test("concurrent /search requests overlap their Spark jobs; stop " +
      "leaves no worker threads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_http_overlap").toString
    val idx = graft.store.QuantIndex.build(spark,
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")),
      s"$dir/index")
    // built up front: reading a query vector is a Spark job of its own
    val queries = (0L until 20L).map(i =>
      graft.queries.VectorQueries.qvec(spark, TestSpark.sf, i)
        .mkString("[", ",", "]"))
    val threadsBefore = poolThreads()
    val f = new HttpFacade(spark,
      new graft.server.StoreAdapter.Quant(spark, idx), port = 0).start()
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        peak.accumulateAndGet(active.incrementAndGet(), (a, b) => math.max(a, b))
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        active.decrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val codes = together(4) { t =>
        (0 until 5).map { i =>
          postTo(f, "/search",
            s"""{"query_vector": ${queries(t * 5 + i)}, "k": 10}""")._1
        }
      }.flatten
      assert(codes.forall(_ == 200), codes)
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
      info(s"peak concurrently active jobs: ${peak.get}")
      assert(peak.get >= 2, s"searches never overlapped: peak ${peak.get}")
    } finally {
      sc.removeSparkListener(listener)
      f.stop()
    }
    assert(poolThreads() == threadsBefore, "stop leaked worker threads")
  }

  test("kept-alive clients are not slowed by Nagle's algorithm") {
    val keepAlive = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    val req = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${facade.boundPort}/health")).GET().build()
    val ms = (0 until 50).map { _ =>
      val t0 = System.nanoTime()
      val r = keepAlive.send(req, HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    info(f"kept-alive /health p50 ${ms(25)}%.1f ms")
    assert(ms(25) < 20.0, s"kept-alive p50 ${ms(25)} ms")
  }

  test("POST /load_npz ingests NPZ shards server-side") {
    val npzDir = java.nio.file.Files.createTempDirectory("graft_http_npz").toString
    Tables.embeddings(spark, TestSpark.sf).limit(5)
      .select((col("vec_id") + 9000).as("id"), col("embedding").as("vector"))
      .coalesce(1)
      .write.format("npz").mode("append").save(npzDir)
    val before = obj(get("/stats")._2)("nodes").asInstanceOf[Map[String, Any]]
      .values.map(n => Json.asLong(obj(n)("vector_count"))).sum
    val (code, body) = post("/load_npz", s"""{"path": "$npzDir"}""")
    assert(code == 200, s"got $code: $body")
    assert(Json.asLong(obj(body)("loaded")) == 5L)
    assert(Json.asLong(obj(body)("total_vectors")) == before + 5L)
    val (c2, b2) = post("/load_npz", """{}""")
    assert(c2 == 400 && obj(b2)("error") == "No path provided")
  }
}
