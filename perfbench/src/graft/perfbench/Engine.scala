package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.lsh.{LshConfig, LshModel}
import graft.server.{HttpFacade, Json, StoreAdapter}
import graft.store.{QuantConfig, QuantIndex, QuantTier, VectorStore}

object Engine {
  /** The session the repo's own bench uses, sized to this machine. */
  def session(cores: Int, scratch: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
}

/** One index built from the run's corpus and hosted behind the HTTP
  * facade. Search and ingest go through the facade, as the reference's
  * clients do; delete, upsert, compaction and the recall audit have no
  * facade route and go through the store API.
  */
final class Hosted private (
    val spark: SparkSession,
    val adapter: StoreAdapter,
    val dataDir: String,
    val lsh: Option[LshModel],
    val indexDf: () => DataFrame,
    val delete: Seq[Long] => Unit,
    val upsert: DataFrame => Unit,
    val compact: () => Unit,
    val audit: Seq[Array[Double]] => Seq[Double]) {

  private val facade = new HttpFacade(spark, adapter, 0).start()
  val client = new Client(facade.boundPort)

  def stop(): Unit = facade.stop()
}

object Hosted {
  /** IVF `QuantIndex` (PQ tier), served from its parquet files. */
  def quant(spark: SparkSession, corpus: String, dir: String): Hosted = {
    val idx = QuantIndex.build(spark, spark.read.parquet(corpus), dir,
      QuantConfig(tiers = Set(QuantTier.Pq)))
    new Hosted(spark, new StoreAdapter.Quant(spark, idx), idx.dataDir, None,
      () => idx.indexDf, ids => { idx.delete(ids); () }, df => idx.upsert(df),
      () => { idx.compact(); () }, panel => idx.auditRecallCurve(panel, 10))
  }

  /** The reference layout: LSH `VectorStore`, 4 hash functions x 3 tables. */
  def lsh(spark: SparkSession, corpus: String, dir: String): Hosted = {
    val st = VectorStore.build(spark, spark.read.parquet(corpus), dir, LshConfig())
    new Hosted(spark, new StoreAdapter.Lsh(spark, st), st.path, Some(st.model),
      () => st.indexDf, ids => { st.delete(ids); () }, df => st.upsert(df),
      () => { st.compact(); () }, panel => st.auditRecallCurve(panel, 10))
  }
}

/** Closed-loop HTTP/1.1 client with one connection per request
  * (`Connection: close`), as the reference's callers make with
  * `requests.post`. Over kept-alive connections the facade's serial
  * dispatcher served concurrent clients unevenly, which made tail
  * latency vary widely from run to run.
  */
final class Client(port: Int) {
  /** (status, reply body); throws on transport failure or timeout. */
  def post(route: String, body: String): (Int, String) = {
    val socket = new Socket()
    try {
      socket.connect(new InetSocketAddress("127.0.0.1", port), 10000)
      socket.setSoTimeout(60000)
      socket.setTcpNoDelay(true)
      val payload = body.getBytes(UTF_8)
      val out = new BufferedOutputStream(socket.getOutputStream)
      out.write((s"POST $route HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
        "Content-Type: application/json\r\nConnection: close\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes(US_ASCII))
      out.write(payload)
      out.flush()
      val in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
      val head = Iterator.continually(line(in)).takeWhile(_.nonEmpty).toVector
      require(head.nonEmpty, s"$route: empty reply")
      val status = head.head.split(' ')(1).toInt
      val length = head.tail.collectFirst {
        case h if h.toLowerCase.startsWith("content-length:") => h.drop(15).trim.toInt
      }.getOrElse(throw new IllegalStateException(s"$route: reply without Content-Length"))
      val reply = new Array[Byte](length)
      in.readFully(reply)
      (status, new String(reply, UTF_8))
    } finally socket.close()
  }

  private def line(in: DataInputStream): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed mid-header")
      if (c != '\r') sb += c.toChar
      c = in.read()
    }
    sb.toString
  }
}

/** Request bodies in the facade's wire format, and reply decoding. */
object Wire {
  /** `probes` absent means exact search over every cell or bucket. */
  def search(q: Array[Double], k: Int, probes: Option[Int]): String = {
    val sb = new StringBuilder("{\"query_vector\":[")
    var i = 0
    while (i < q.length) {
      if (i > 0) sb += ','
      sb ++= java.lang.Double.toString(q(i))
      i += 1
    }
    sb ++= "],\"k\":" ++= k.toString
    probes.foreach(p => sb ++= ",\"probes\":" ++= p.toString)
    (sb += '}').toString
  }

  def add(ids: Array[Long], vecs: Array[Array[Float]]): String = {
    val sb = new StringBuilder("{\"vectors\":[")
    vecs.indices.foreach { r =>
      if (r > 0) sb += ','
      sb += '['
      val v = vecs(r)
      var i = 0
      while (i < v.length) {
        if (i > 0) sb += ','
        sb ++= java.lang.Float.toString(v(i))
        i += 1
      }
      sb += ']'
    }
    sb ++= "],\"ids\":[" ++= ids.mkString(",") ++= "]}"
    sb.toString
  }

  /** The first query row of a `/search` reply as (id, distance) pairs. */
  def hits(reply: String): Array[(Long, Double)] = {
    val m = Json.parse(reply).asInstanceOf[Map[String, Any]]
    def first(key: String): Vector[Any] = m.get(key) match {
      case Some(v: Vector[_]) if v.nonEmpty => v.head.asInstanceOf[Vector[Any]]
      case _ => Vector.empty
    }
    val ids = first("indices").map(Json.asLong)
    val ds = first("distances").map(Json.asDouble)
    require(ids.size == ds.size, "indices/distances length mismatch")
    ids.zip(ds).toArray
  }
}
