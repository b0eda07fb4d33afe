package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

import graft.server.Json

/** Where a workload's operations go. Search and add take the request
  * body in the facade's wire format; the other operations have no
  * facade route and take their arguments directly.
  */
trait Exec {
  /** (id, distance) hits of the first query row. */
  def search(body: String): Array[(Long, Double)]
  /** The total vector count the facade reports after the add. */
  def add(body: String): Long
  def delete(ids: Array[Long]): Unit
  def upsert(ids: Array[Long], vecs: Array[Array[Float]]): Unit
  def compact(): Unit
  def audit(panel: Seq[Array[Double]]): Seq[Double]
}

/** The measured path: search and add over HTTP, as a client sees them. */
final class HttpExec(host: Hosted) extends Exec {
  private def post(route: String, body: String): String = {
    val (status, reply) = host.client.post(route, body)
    if (status != 200) throw new IllegalStateException(s"$route answered $status: $reply")
    reply
  }

  def search(body: String): Array[(Long, Double)] = Wire.hits(post("/search", body))

  def add(body: String): Long = {
    val m = Json.parse(post("/add_vectors", body)).asInstanceOf[Map[String, Any]]
    Json.asLong(m("total_vectors"))
  }

  def delete(ids: Array[Long]): Unit = host.delete(ids.toSeq)
  def upsert(ids: Array[Long], vecs: Array[Array[Float]]): Unit =
    host.upsert(Frames.vectors(host, ids, vecs))
  def compact(): Unit = host.compact()
  def audit(panel: Seq[Array[Double]]): Seq[Double] = host.audit(panel)
}

object Frames {
  /** (id, embedding) rows as the facade builds them for an add. */
  def vectors(host: Hosted, ids: Array[Long], vecs: Array[Array[Float]]): DataFrame = {
    val spark = host.spark
    import spark.implicits._
    ids.toSeq.zip(vecs.toSeq).toDF("id", "embedding")
  }
}

/** Samples and failure counts of one run. Latencies are in ms. */
final class Recorder {
  val ann = ArrayBuffer.empty[Double]
  val exact = ArrayBuffer.empty[Double]
  val writes = ArrayBuffer.empty[Double]
  val compacts = ArrayBuffer.empty[Double]
  val audits = ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  var addedVectors = 0L
  var addNanos = 0L
  var userBytes = 0L
  var recallSum = 0.0
  var recallN = 0L
  private var reported = 0

  def failure(what: String, why: String): Unit = synchronized {
    failed += 1
    if (reported < 20) {
      reported += 1
      System.err.println(s"[perfbench] FAILED $what: $why")
    }
  }
}

/** Runs operations closed-loop against one [[Exec]], times each,
  * checks each reply against the [[Live]] record and counts failures.
  * A failed operation stays in its latency sample. Time spent checking
  * is kept in `checkNanos` so measured loops can leave it out; with
  * `deferChecks`, search replies are kept and checked by [[checkDeferred]]
  * instead (the live set must not change in between).
  */
final class Runner(exec: Exec, live: Live, rec: Recorder, data: Data,
    deferChecks: Boolean = false) {
  var checkNanos = 0L
  private val deferred = ArrayBuffer.empty[(Array[Double], Int, Option[Int], Array[(Long, Double)])]
  private var reserve = data.nBase // next unused reserve row

  private def ms(ns: Long): Double = ns / 1e6
  private def checked(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    checkNanos += System.nanoTime() - t0
  }

  def reserveLeft: Int = data.nTotal - reserve

  private def attempt[T](what: String)(f: => T): (Option[T], Long) = {
    rec.synchronized(rec.attempted += 1)
    val t0 = System.nanoTime()
    val out =
      try Some(f)
      catch { case NonFatal(e) => rec.failure(what, String.valueOf(e)); None }
    (out, System.nanoTime() - t0)
  }

  /** One `/search`; `probes` None is an exact search. */
  def search(q: Array[Double], k: Int, probes: Option[Int]): Unit = {
    val body = Wire.search(q, k, probes)
    val (got, ns) = attempt("search")(exec.search(body))
    rec.synchronized((if (probes.isEmpty) rec.exact else rec.ann) += ms(ns))
    got.foreach(hits =>
      if (deferChecks) deferred += ((q, k, probes, hits))
      else checked(verify(q, k, probes, hits)))
  }

  def checkDeferred(): Unit = {
    deferred.foreach { case (q, k, probes, hits) => verify(q, k, probes, hits) }
    deferred.clear()
  }

  private def verify(q: Array[Double], k: Int, probes: Option[Int],
      hits: Array[(Long, Double)]): Unit = {
    val want = live.topK(q, k)
    val ok =
      if (probes.isEmpty) Check.exact(live, q, want, hits)
      else Check.ann(live, q, k, hits)
    if (!ok) rec.failure(if (probes.isEmpty) "exact search" else "search",
      s"k=$k probes=$probes got ${hits.take(3).mkString(",")} want ${want.take(3).mkString(",")}")
    else if (probes.nonEmpty && k >= 10) rec.synchronized {
      rec.recallSum += Check.recall10(want, hits)
      rec.recallN += 1
    }
  }

  /** `/add_vectors` of `n` reserve vectors under fresh ids. */
  def add(n: Int): Unit = {
    val rows = Array.range(reserve, reserve + n)
    reserve += n
    val ids = rows.map(_.toLong)
    val body = Wire.add(ids, rows.map(data.vector))
    val (total, ns) = attempt("add")(exec.add(body))
    rec.writes += ms(ns)
    rec.addNanos += ns
    if (total.isDefined) {
      ids.indices.foreach(i => live.put(ids(i), rows(i)))
      rec.addedVectors += n
      rec.userBytes += n.toLong * (data.dim * 4 + 8)
      if (!total.contains(live.count.toLong))
        rec.failure("add", s"total_vectors ${total.get}, expected ${live.count}")
    }
  }

  def delete(ids: Array[Long]): Unit = {
    val (done, ns) = attempt("delete")(exec.delete(ids))
    rec.writes += ms(ns)
    if (done.isDefined) ids.foreach(live.remove)
  }

  /** Upsert new reserve vectors under existing ids. */
  def upsert(ids: Array[Long]): Unit = {
    val rows = Array.range(reserve, reserve + ids.length)
    reserve += ids.length
    val (done, ns) = attempt("upsert")(exec.upsert(ids, rows.map(data.vector)))
    rec.writes += ms(ns)
    if (done.isDefined) {
      ids.indices.foreach(i => live.put(ids(i), rows(i)))
      rec.userBytes += ids.length.toLong * (data.dim * 4 + 8)
    }
  }

  def compact(): Unit = {
    val (_, ns) = attempt("compact")(exec.compact())
    rec.compacts += ms(ns)
  }

  /** Recall audit; its curve must rise to 1 at the exact depth. */
  def audit(panel: Seq[Array[Double]]): Unit = {
    val (curve, ns) = attempt("audit")(exec.audit(panel))
    rec.audits += ms(ns)
    curve.foreach { c =>
      val rising = c.indices.drop(1).forall(i => c(i) >= c(i - 1) - 1e-12)
      if (c.isEmpty || !rising || !Check.close(c.last, 1.0))
        rec.failure("audit", s"curve ${c.mkString(",")}")
    }
  }
}

/** When a loop stops: after `seconds` of measured time, or after a
  * fixed number of iterations (the traced run, which must repeat
  * exactly).
  */
final class Budget(seconds: Int, iterations: Option[Int]) {
  private val start = System.nanoTime()
  private var done = 0
  var excluded = 0L // nanos to leave out of the measured time

  def measuredNanos: Long = System.nanoTime() - start - excluded
  def more(): Boolean = {
    val go = iterations match {
      case Some(n) => done < n
      case None => measuredNanos < seconds * 1000000000L
    }
    if (go) done += 1
    go
  }
}

object Workloads {
  val K = 10
  val Probes = Some(2)
  val Clients = 4
  val ReferenceKs = Array(1, 5, 10, 20, 50, 100)

  /** `serve`: `execs.size` clients, each a closed loop of `/search` at
    * k=10; 80% probe 2 IVF cells, 20% are exact. Replies are checked
    * after the window so checking takes no CPU from the server while it
    * is timed. Returns (window seconds, completed requests).
    */
  def serve(execs: Seq[Exec], live: Live, rec: Recorder, data: Data, seed: Long,
      budget: () => Budget): (Double, Long) = {
    val t0 = System.nanoTime()
    val runners = execs.map(e => new Runner(e, live, rec, data, deferChecks = true))
    val threads = runners.zipWithIndex.map { case (r, c) =>
      val th = new Thread(() => {
        val rnd = new SplittableRandom(seed * 1000003L + c)
        val b = budget()
        while (b.more()) {
          val q = data.query(rnd.nextInt(data.nQueries))
          r.search(q, K, if (rnd.nextInt(5) == 0) None else Probes)
        }
      }, s"client-$c")
      th.start()
      th
    }
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    runners.foreach(_.checkDeferred())
    (wall, rec.synchronized(rec.exact.size + rec.ann.size).toLong)
  }

  /** `reference`: one client on the LSH store; `/search` with 2 probes
    * cycling k through 1, 5, 10, 20, 50, 100; after every 10th, an
    * `/add_vectors` of 1,000 and one exact search at k=10, the query the
    * reference's recall evaluation compares against. Returns (measured
    * seconds, completed operations).
    */
  def reference(r: Runner, data: Data, rnd: SplittableRandom, b: Budget): (Double, Long) = {
    var i = 0
    var ops = 0L
    while (b.more() && r.reserveLeft >= 1000) {
      r.search(data.query(rnd.nextInt(data.nQueries)), ReferenceKs(i % ReferenceKs.length), Probes)
      i += 1
      ops += 1
      if (i % 10 == 0) {
        r.add(1000)
        r.search(data.query(rnd.nextInt(data.nQueries)), K, None)
        ops += 2
      }
      b.excluded = r.checkNanos
    }
    (b.measuredNanos / 1e9, ops)
  }

  /** After every window, the same fixed write sequence: two
    * `/add_vectors` of 1,000, a delete of 10 live ids and an upsert of
    * 500 live ids; with `maintain`, also one compaction and one recall
    * audit over a 20-query panel. Then 8 exact searches for upserted
    * vectors, each of which must come back first at distance 0. The
    * writes have a fixed composition, so the write metrics that cover
    * them do not depend on how far the window got.
    */
  def tail(r: Runner, data: Data, rnd: SplittableRandom, live: Live, maintain: Boolean): Unit = {
    r.add(1000)
    r.add(1000)
    r.delete(live.sample(rnd, 10))
    val upserted = live.sample(rnd, 500)
    r.upsert(upserted)
    if (maintain) {
      r.compact()
      r.audit((0 until 20).map(data.query))
    }
    (0 until 8).foreach { _ =>
      val id = upserted(rnd.nextInt(upserted.length))
      r.search(data.vector(live.row(id)).map(_.toDouble), K, None)
    }
  }
}
