package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import graft.store.VectorStore

/** HTTP facade over the persisted index layouts — the reference
  * coordinator's REST surface (`coordinator/coordinator_server.py:20-154`)
  * re-hosted on the JDK's built-in server (zero added dependencies):
  *
  *  - `GET  /health`       → `{"status": "healthy"}` (`:21-24`)
  *  - `POST /add_vectors`  → body `{"vectors": [[…]], "ids": […]?}`;
  *    missing vectors → 400 `{"error": "No vectors provided"}`; ids
  *    default to max(existing)+1… (the shard's FAISS sequential-add
  *    rule, `shard/shard_node.py:88-100`); responds with the post-add
  *    total vector count (`:25-74`), read from the log's per-file row
  *    counts, not counted by a job ([[StoreAdapter.totalVectors]])
  *  - `POST /search`       → body `{"query_vector": […] | [[…]], "k": n}`;
  *    missing fields → 400; k ≤ 0 clamps to 1 (`:99-103`); a 1-D query
  *    is reshaped to one row (`:93-96`); empty index → empty arrays +
  *    warning (`:110-118`); responds `{"status": "success",
  *    "distances": [[…]…], "indices": [[…]…]}` row-per-query
  *  - `GET  /stats`        → the coordinator stats record: total_nodes,
  *    sharding_strategy, replication_factor, per-"node" stats
  *    (`coordinator.py:322-341`)
  *
  * The facade hosts ANY of the three layouts through a
  * [[StoreAdapter]] (r11 verdict task #7): the LSH [[VectorStore]]
  * (a "node" = an LSH bucket), the quantized [[graft.store.QuantIndex]]
  * (a "node" = an IVF cell; `probes` = nprobe), or the ×L
  * [[graft.store.MultiTableStore]] (a "node" = a (table, bucket)
  * pair). The recall/latency knob is uniform: `min_recall` picks the
  * smallest probe depth whose MEASURED persisted curve meets the
  * target (no curve → exact, never under-deliver); `probes` sets the
  * depth explicitly; neither → exact search (the default the
  * concurrency battery and the reference comparison pin).
  *
  * How `/search` executes. Each query vector runs
  * [[graft.store.IndexTable.topK]], the executed form of the table's
  * DataFrame `search` (same ids, order and distance bits; both probe
  * the cells of the layout's one probe ranking). `topK` reads the
  * log's `_files.json` pointer once and types a scan that loses its
  * files to a vacuum as `SnapshotVacuumedException` itself. The table
  * plans each committed snapshot's scan with Catalyst once and keeps
  * it with the snapshot; a search then runs one Spark job over only
  * its probed cells, in at most min(probed cells, defaultParallelism)
  * tasks, each keeping a bounded top-k heap that the driver merges.
  * So a search pays no Catalyst pass and no SQL execution, and the
  * first search after a commit plans the new snapshot once. The tier
  * route and the other routes plan the same DataFrames the Scala API
  * plans; bulk ingest/search should use the DataFrame API directly.
  *
  * Concurrency contract. Requests run on a fixed pool of daemon worker
  * threads (`graft-http-N`), one per `defaultParallelism` core of the
  * session, as the reference coordinator fans requests out on a thread
  * pool (`coordinator/coordinator.py:159-175`):
  *
  *  - reads (`/search`, `/stats`, `/health`) overlap: each resolves its
  *    own committed snapshot (snapshot isolation; concurrent searches
  *    share its prepared scan), and Spark schedules their jobs side by
  *    side, so one request's jobs fill the cores another's leave idle;
  *  - writes (`/add_vectors`, `/load_npz`) serialize on one facade
  *    lock, so the auto-id rule (`max(existing)+1…`) never hands the
  *    same ids to two requests; reads never take that lock;
  *  - a client that stalls mid-upload holds one worker, not the server.
  *
  * [[stop]] closes the listener, waits a bounded time for in-flight
  * requests, then shuts the pool down.
  *
  * Kept-alive clients: the JDK server leaves `TCP_NODELAY` off unless
  * the system property `sun.net.httpserver.nodelay` is `true`, and then
  * every reply on a reused connection waits ~40 ms on Nagle's algorithm
  * and the client's delayed ACK. The facade sets the property before it
  * creates its first server, unless the user has set it; the JDK reads
  * it once per JVM.
  */
final class HttpFacade(spark: SparkSession, adapter: StoreAdapter,
                       port: Int) {

  /** Back-compat constructor: host an LSH [[VectorStore]]. */
  def this(spark: SparkSession, store: VectorStore, port: Int) =
    this(spark, new StoreAdapter.Lsh(spark, store), port)

  private val server: HttpServer = {
    // TCP_NODELAY unless the user chose; read once, at the JVM's first server
    System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }

  private val pool: ExecutorService = {
    val n = new AtomicInteger(0)
    Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism,
      (r: Runnable) => {
        val t = new Thread(r, s"graft-http-${n.getAndIncrement()}")
        t.setDaemon(true)
        t
      })
  }

  /** Held by the write routes for their whole read-ids-then-commit. */
  private val writeLock = new Object

  /** Bound port (useful when constructed with port=0 for an ephemeral one). */
  def boundPort: Int = server.getAddress.getPort

  def start(): HttpFacade = {
    server.createContext("/health", (ex: HttpExchange) =>
      respond(ex, 200, Map("status" -> "healthy")))
    server.createContext("/add_vectors", handle(locked(addVectors)))
    server.createContext("/load_npz", handle(locked(loadNpz)))
    server.createContext("/search", handle(search))
    server.createContext("/stats", handle(stats))
    // reads overlap on snapshot isolation; writes take `writeLock`
    server.setExecutor(pool)
    server.start()
    this
  }

  /** Stop accepting, give in-flight requests up to 5 s to finish
    * (`HttpServer.stop` returns as soon as none is left), close every
    * connection, then shut the worker pool down.
    */
  def stop(): Unit = {
    server.stop(HttpFacade.StopGraceSec)
    pool.shutdown()
    if (!pool.awaitTermination(HttpFacade.StopGraceSec, TimeUnit.SECONDS))
      pool.shutdownNow()
  }

  // ------------------------------------------------------------ routes

  private def addVectors(body: Map[String, Any]): (Int, Any) =
    body.get("vectors") match {
      case None => (400, Map("error" -> "No vectors provided"))
      case Some(vs: Vector[_]) if vs.nonEmpty =>
        val vecs = vs.map(_.asInstanceOf[Vector[Any]]
          .map(Json.asDouble(_).toFloat))
        val ids: Seq[Long] = body.get("ids") match {
          case Some(is: Vector[_]) =>
            is.map(Json.asLong)
          case _ => // absent or JSON null: sequential auto-ids
            val start = adapter.maxId() + 1
            start until (start + vecs.size)
        }
        require(ids.size == vecs.size, "ids/vectors length mismatch")
        import spark.implicits._
        adapter.add(ids.zip(vecs.map(_.toArray)).toSeq.toDF("id", "embedding"))
        val total = adapter.totalVectors()
        (200, Map(
          "status" -> "success",
          "message" -> s"Added ${vecs.size} vectors",
          "total_vectors" -> total))
      case _ => (400, Map("error" -> "No vectors provided"))
    }

  /** `POST /load_npz` body `{"path": "..."}`: server-side version of the
    * reference's loader pipeline (`load_coco_embeddings.py:58-112` reads
    * NPZ client-side and POSTs slices of 1000) — here the path is read
    * by the distributed npz source and appended in one job, so ingest
    * scales with the cluster instead of the HTTP client.
    */
  private def loadNpz(body: Map[String, Any]): (Int, Any) =
    body.get("path") match {
      case Some(p: String) if p.nonEmpty =>
        import org.apache.spark.sql.functions.col
        val df = spark.read.format("npz").load(p)
          .select(col("id"), col("vector").as("embedding"))
        val n = df.count()
        if (n == 0) (400, Map("error" -> s"no vectors found at $p"))
        else {
          adapter.add(df)
          (200, Map(
            "status" -> "success",
            "message" -> s"Loaded $n vectors from npz",
            "loaded" -> n,
            "total_vectors" -> adapter.totalVectors()))
        }
      case _ => (400, Map("error" -> "No path provided"))
    }

  private def search(body: Map[String, Any]): (Int, Any) = {
    if (!body.contains("query_vector"))
      return (400, Map("error" -> "No query vector provided"))
    if (!body.contains("k"))
      return (400, Map("error" -> "No k value provided"))
    val raw = body("query_vector").asInstanceOf[Vector[Any]]
    // 1-D query reshapes to a single row, 2-D passes through
    val queries: Vector[Array[Double]] = raw match {
      case v if v.nonEmpty && v.head.isInstanceOf[Vector[_]] =>
        v.map(_.asInstanceOf[Vector[Any]]
          .map(Json.asDouble).toArray)
      case v => Vector(v.map(Json.asDouble).toArray)
    }
    val k = math.max(1, Json.asDouble(body("k")).toInt)
    body.get("tier") match {
      case Some(t: String) => return searchTier(queries, k, body, t)
      case Some(_) => return (400, Map("error" -> "tier must be a string"))
      case None => ()
    }
    val probes = body.get("min_recall") match {
      case Some(r) if r != null => adapter.probesFor(Json.asDouble(r), k)
      case _ => body.get("probes") match {
        case Some(p) if p != null =>
          math.min(adapter.maxProbes,
            math.max(1, Json.asDouble(p).toInt))
        case _ => adapter.maxProbes
      }
    }
    val rows = queries.map(q => adapter.topK(q, k, probes))
    if (rows.forall(_.isEmpty))
      (200, Map(
        "status" -> "success",
        "distances" -> Vector.empty,
        "indices" -> Vector.empty,
        "probes" -> probes,
        "warning" -> "No results found"))
    else
      (200, Map(
        "status" -> "success",
        "distances" -> rows.map(_.map(_._2).toVector),
        "indices" -> rows.map(_.map(_._1).toVector),
        "probes" -> probes))
  }

  /** Recall-targeted ADC search over a named quant tier — the round-21
    * REST reach of [[graft.store.QuantIndex.searchAdcAtRecall]]: the
    * re-rank budget (coarseN) comes from the tier's persisted MEASURED
    * curve, exact fallback when the curve is missing, stale, audited
    * at a different k, or the target is unreachable. Responds with the
    * per-query `coarse_n` actually used (−1 = exact fallback). Layouts
    * without ADC tiers (lsh, lsh_multitable) refuse with a 400, as
    * does an unknown tier name (the engine's loud-refusal contract).
    */
  private def searchTier(queries: Vector[Array[Double]], k: Int,
      body: Map[String, Any], tier: String): (Int, Any) = {
    body.get("min_recall") match {
      case Some(r) if r != null =>
        try {
          val out = queries.map { q =>
            adapter.searchTier(q, k, Json.asDouble(r), tier) match {
              case Some((df, n)) =>
                (adapter.classified {
                  df.collect().map(r2 => (r2.getLong(0), r2.getDouble(1)))
                }, n)
              case None => throw new IllegalArgumentException(
                s"tier search is not supported by the " +
                  s"'${adapter.strategy}' layout (quant layouts only)")
            }
          }
          (200, Map(
            "status" -> "success",
            "distances" -> out.map(_._1.map(_._2).toVector),
            "indices" -> out.map(_._1.map(_._1).toVector),
            "coarse_n" -> out.map(_._2.toLong)))
        } catch {
          case e: IllegalArgumentException =>
            (400, Map("error" -> String.valueOf(e.getMessage)))
        }
      case _ => (400, Map("error" ->
        "tier search needs min_recall (the curve-driven budget knob)"))
    }
  }

  private def stats(body: Map[String, Any]): (Int, Any) =
    (200, Map(
      "total_nodes" -> adapter.maxProbes, // one node per grid cell
      "sharding_strategy" -> adapter.strategy,
      "replication_factor" -> 1,
      "nodes" -> adapter.nodes()))

  // ---------------------------------------------------------- plumbing

  private def locked(route: Map[String, Any] => (Int, Any))(
      body: Map[String, Any]): (Int, Any) =
    writeLock.synchronized(route(body))

  private def handle(route: Map[String, Any] => (Int, Any))(
      ex: HttpExchange): Unit = {
    val (code, payload) =
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val parsed =
          if (body.trim.isEmpty) Map.empty[String, Any]
          else Json.parse(body).asInstanceOf[Map[String, Any]]
        route(parsed)
      } catch {
        case e: Throwable => (500, Map("error" -> String.valueOf(e.getMessage)))
      }
    respond(ex, code, payload)
  }

  private def respond(ex: HttpExchange, code: Int, payload: Any): Unit = {
    val bytes = Json.write(payload).getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
}

object HttpFacade {

  /** Seconds `stop` waits for in-flight requests, then for the pool. */
  private val StopGraceSec = 5
}
