package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.server.Json
import graft.store.FileLog

/** Task and job counts summed per Spark job group. Each traced
  * operation runs under its own group; untraced runs leave the group
  * unset and sum into "".
  */
final class Counters extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, durationMs, cpuNs, inBytes, inRecords = 0L
    var outBytes, shuffleBytes, spillBytes = 0L
  }

  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def acc(g: String): Acc = accs.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    acc(g).jobs += 1
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageGroup.getOrDefault(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrDefault(e.stageId, ""))
    a.tasks += 1
    a.durationMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Remove and return a group's sums; drain the listener bus first. */
  def take(g: String): Acc = synchronized(Option(accs.remove(g)).getOrElse(new Acc))
}

object Counters {
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

/** In-memory spans: name, start, end, parent index, request id. */
final class Tracer {
  final class Span(val req: Long, val name: String, val parent: Int, val start: Long) {
    var end = 0L
    def nanos: Long = end - start
  }

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var req = 0L

  def span[T](name: String)(f: => T): T = {
    val i = spans.size
    spans += new Span(req, name, stack.headOption.getOrElse(-1), System.nanoTime())
    stack = i :: stack
    try f
    finally {
      spans(i).end = System.nanoTime()
      stack = stack.tail
    }
  }

  /** Self time per layer (the span name up to its first '.'): each
    * span's duration minus its children's.
    */
  def selfNanos: Map[String, Long] = {
    val child = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.nanos)
    spans.indices.groupBy(i => spans(i).name.takeWhile(_ != '.'))
      .map { case (layer, is) => layer -> is.map(i => spans(i).nanos - child(i)).sum }
  }

  def write(path: String): Unit = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val lines = spans.indices.map { i =>
      val s = spans(i)
      Json.write(Map("id" -> i.toLong, "req" -> s.req, "name" -> s.name,
        "parent" -> s.parent.toLong, "start_us" -> (s.start - t0) / 1000,
        "end_us" -> (s.end - t0) / 1000))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** What one traced operation did, by layer. */
final class OpRecord(val kind: String) {
  val v = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  var acc: Counters#Acc = _
  def isSearch: Boolean = kind == "search" || kind == "exact"
  def isMutation: Boolean = kind == "add" || kind == "delete" || kind == "upsert"

  /** The counters that must repeat exactly across two traced runs. */
  def fingerprint: Seq[Long] = Seq(acc.jobs, acc.stages, acc.tasks,
    v("files_written").toLong, acc.outBytes, v("commits").toLong)
}

/** The traced path: the facade's route steps called in-process, one
  * span per step (`Json.parse` → adapter call → `executedPlan` →
  * `collect` → `Json.write`), each operation under its own job group,
  * with `FileLog.read` of the hosted index timed beside it.
  */
final class TracedExec(host: Hosted, val tracer: Tracer, counters: Counters) extends Exec {
  val records = ArrayBuffer.empty[OpRecord]
  private val sc = host.spark.sparkContext
  private object Plans extends AdaptiveSparkPlanHelper

  private def op[T](kind: String)(f: OpRecord => T): T = {
    val r = new OpRecord(kind)
    records += r
    tracer.req += 1
    val i = tracer.spans.size
    val before = tracer.span("filelog.read")(FileLog.read(host.dataDir))
    r.v("filelog_read_ns") = tracer.spans(i).nanos.toDouble
    r.v("files_live") = before.files.size
    val group = s"op-${tracer.req}"
    sc.setJobGroup(group, kind, interruptOnCancel = false)
    val reads0 = graft.util.FsIo.reads.get
    val gc0 = Counters.gcMillis()
    val t0 = System.nanoTime()
    try tracer.span("request")(f(r))
    finally {
      r.v("wall_ns") = (System.nanoTime() - t0).toDouble
      r.v("fsio_reads") = (graft.util.FsIo.reads.get - reads0).toDouble
      r.v("gc_ms") = (Counters.gcMillis() - gc0).toDouble
      sc.clearJobGroup()
      ListenerBridge.waitUntilEmpty(sc)
      r.acc = counters.take(group)
      val after = FileLog.read(host.dataDir)
      r.v("commits") = after.version - before.version
      r.v("files_written") = after.files.toSet.diff(before.files.toSet).size
    }
  }

  private def timed[T](r: OpRecord, name: String)(f: => T): T = {
    val i = tracer.spans.size
    val out = tracer.span(name)(f)
    r.v(name) += tracer.spans(i).nanos
    out
  }

  def search(body: String): Array[(Long, Double)] = {
    op(if (body.contains("\"probes\"")) "search" else "exact") { r =>
      r.v("req_bytes") = body.length
      val (q, k, probes) = timed(r, "server.parse") {
        val m = Json.parse(body).asInstanceOf[Map[String, Any]]
        val q = m("query_vector").asInstanceOf[Vector[Any]].map(Json.asDouble).toArray
        val k = math.max(1, Json.asDouble(m("k")).toInt)
        val probes = m.get("probes").map(p => math.min(host.adapter.maxProbes,
          math.max(1, Json.asDouble(p).toInt))).getOrElse(host.adapter.maxProbes)
        (q, k, probes)
      }
      host.lsh.foreach(model => timed(r, "lsh.route")(model.candidates(q, probes)))
      val df = timed(r, "store.search")(host.adapter.search(q, k, probes))
      val plan = timed(r, "catalyst.plan")(df.queryExecution.executedPlan)
      val rows = timed(r, "sched.exec") {
        host.adapter.classified(df.collect().map(x => (x.getLong(0), x.getDouble(1))))
      }
      df.queryExecution.tracker.phases.foreach { case (phase, s) =>
        r.v(s"phase_$phase") = s.durationMs.toDouble
      }
      r.v("scan_files") = Plans.collectWithSubqueries(plan) {
        case p: SparkPlan if p.metrics.contains("numFiles") => p.metrics("numFiles").value
      }.sum.toDouble
      r.v("k") = k
      timed(r, "server.encode")(Json.write(Map("status" -> "success",
        "distances" -> Vector(rows.map(_._2).toVector),
        "indices" -> Vector(rows.map(_._1).toVector), "probes" -> probes)))
      rows
    }
  }

  def add(body: String): Long = op("add") { r =>
    r.v("req_bytes") = body.length
    val (ids, vecs) = timed(r, "server.parse") {
      val m = Json.parse(body).asInstanceOf[Map[String, Any]]
      (m("ids").asInstanceOf[Vector[Any]].map(Json.asLong).toArray,
        m("vectors").asInstanceOf[Vector[Any]].map(_.asInstanceOf[Vector[Any]]
          .map(Json.asDouble(_).toFloat).toArray).toArray)
    }
    timed(r, "store.add")(host.adapter.add(Frames.vectors(host, ids, vecs)))
    val total = timed(r, "store.count")(host.adapter.totalVectors())
    timed(r, "server.encode")(Json.write(Map("status" -> "success",
      "message" -> s"Added ${ids.length} vectors", "total_vectors" -> total)))
    total
  }

  def delete(ids: Array[Long]): Unit =
    op("delete")(r => timed(r, "store.delete")(host.delete(ids.toSeq)))

  def upsert(ids: Array[Long], vecs: Array[Array[Float]]): Unit =
    op("upsert")(r => timed(r, "store.upsert")(host.upsert(Frames.vectors(host, ids, vecs))))

  def compact(): Unit = op("compact")(r => timed(r, "store.compact")(host.compact()))

  def audit(panel: Seq[Array[Double]]): Seq[Double] = op("audit") { r =>
    r.v("panel") = panel.size
    timed(r, "store.audit")(host.audit(panel))
  }
}

/** The per-layer metrics of one traced pass. */
object Layers {
  /** (name, unit, better) of every per-layer metric, in report order. */
  val Spec: Seq[(String, String, String)] = Seq(
    ("server.parse_ms", "ms", "lower"), ("server.encode_ms", "ms", "lower"),
    ("server.req_kb", "KB", "lower"), ("server.self_ms", "ms", "lower"),
    ("store.search_ms", "ms", "lower"), ("store.add_ms", "ms", "lower"),
    ("store.delete_ms", "ms", "lower"), ("store.upsert_ms", "ms", "lower"),
    ("store.count_ms", "ms", "lower"), ("store.compact_ms", "ms", "lower"),
    ("store.audit_ms", "ms", "lower"), ("store.self_ms", "ms", "lower"),
    ("filelog.read_ms", "ms", "lower"), ("filelog.commits_per_op", "count", "lower"),
    ("filelog.files_live", "count", "lower"), ("fsio.reads_per_op", "count", "lower"),
    ("lsh.route_ms", "ms", "lower"), ("lsh.bucket_imbalance", "ratio", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"), ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"), ("catalyst.self_ms", "ms", "lower"),
    ("sched.jobs_per_op", "count", "lower"), ("sched.stages_per_op", "count", "lower"),
    ("sched.tasks_per_op", "count", "lower"), ("sched.exec_ms", "ms", "lower"),
    ("sched.parallelism", "ratio", "higher"), ("sched.task_overhead_ms", "ms", "lower"),
    ("scan.files_per_query", "count", "lower"), ("scan.bytes_per_query", "bytes", "lower"),
    ("scan.rows_per_query", "count", "lower"), ("scan.rows_per_result", "ratio", "lower"),
    ("kernel.cpu_ms_per_op", "ms", "lower"), ("kernel.ns_per_row", "ns", "lower"),
    ("exchange.shuffle_bytes_per_op", "bytes", "lower"), ("exchange.spill_bytes", "bytes", "lower"),
    ("write.bytes_per_op", "bytes", "lower"), ("write.files_per_op", "count", "lower"),
    ("write.bytes_rewritten_compact", "bytes", "lower"), ("jvm.gc_ms_per_op", "ms", "lower"),
    ("trace.overhead_pct", "%", "lower"))

  def compute(recs: Seq[OpRecord], selfNs: Map[String, Long], cores: Int,
      bucketImbalance: Double, overheadPct: Double): Map[String, Double] = {
    def mean(xs: Seq[Double]): Double = Stats.mean(xs)
    def ms(ns: Double): Double = ns / 1e6
    val searches = recs.filter(_.isSearch)
    val facade = recs.filter(r => r.isSearch || r.kind == "add")
    val mutations = recs.filter(_.isMutation)
    val writers = recs.filter(r => r.isMutation || r.kind == "compact")
    def ofKind(k: String) = recs.filter(_.kind == k)
    val scored = recs.filter(r => r.isSearch || r.kind == "audit")
    val scoredRows = scored.map(r => r.acc.inRecords * (if (r.kind == "audit") r.v("panel") else 1.0)).sum
    val execNs = searches.map(_.v("sched.exec")).sum
    val perOp = recs.size.max(1).toDouble
    Map(
      "server.parse_ms" -> mean(facade.map(r => ms(r.v("server.parse")))),
      "server.encode_ms" -> mean(facade.map(r => ms(r.v("server.encode")))),
      "server.req_kb" -> mean(facade.map(_.v("req_bytes") / 1024)),
      "server.self_ms" -> ms(selfNs.getOrElse("server", 0L).toDouble) / perOp,
      "store.search_ms" -> mean(searches.map(r => ms(r.v("store.search")))),
      "store.add_ms" -> mean(ofKind("add").map(r => ms(r.v("store.add")))),
      "store.delete_ms" -> mean(ofKind("delete").map(r => ms(r.v("store.delete")))),
      "store.upsert_ms" -> mean(ofKind("upsert").map(r => ms(r.v("store.upsert")))),
      "store.count_ms" -> mean(ofKind("add").map(r => ms(r.v("store.count")))),
      "store.compact_ms" -> mean(ofKind("compact").map(r => ms(r.v("store.compact")))),
      "store.audit_ms" -> mean(ofKind("audit").map(r => ms(r.v("store.audit")))),
      "store.self_ms" -> ms(selfNs.getOrElse("store", 0L).toDouble) / perOp,
      "filelog.read_ms" -> mean(recs.map(r => ms(r.v("filelog_read_ns")))),
      "filelog.commits_per_op" -> mean(mutations.map(_.v("commits"))),
      "filelog.files_live" -> mean(recs.map(_.v("files_live"))),
      "fsio.reads_per_op" -> mean(recs.map(_.v("fsio_reads"))),
      "lsh.route_ms" -> mean(searches.map(r => ms(r.v("lsh.route")))),
      "lsh.bucket_imbalance" -> bucketImbalance,
      "catalyst.analysis_ms" -> mean(searches.map(_.v("phase_analysis"))),
      "catalyst.optimization_ms" -> mean(searches.map(_.v("phase_optimization"))),
      "catalyst.planning_ms" -> mean(searches.map(_.v("phase_planning"))),
      "catalyst.self_ms" -> ms(selfNs.getOrElse("catalyst", 0L).toDouble) / perOp,
      "sched.jobs_per_op" -> mean(recs.map(_.acc.jobs.toDouble)),
      "sched.stages_per_op" -> mean(recs.map(_.acc.stages.toDouble)),
      "sched.tasks_per_op" -> mean(recs.map(_.acc.tasks.toDouble)),
      "sched.exec_ms" -> mean(searches.map(r => ms(r.v("sched.exec")))),
      "sched.parallelism" ->
        (if (execNs == 0) 0.0 else searches.map(_.acc.runMs).sum * 1e6 / (execNs * cores)),
      "sched.task_overhead_ms" -> {
        val tasks = recs.map(_.acc.tasks).sum
        if (tasks == 0) 0.0 else recs.map(r => r.acc.durationMs - r.acc.runMs).sum.toDouble / tasks
      },
      "scan.files_per_query" -> mean(searches.map(_.v("scan_files"))),
      "scan.bytes_per_query" -> mean(searches.map(_.acc.inBytes.toDouble)),
      "scan.rows_per_query" -> mean(searches.map(_.acc.inRecords.toDouble)),
      "scan.rows_per_result" -> {
        val k = searches.map(_.v("k")).sum
        if (k == 0) 0.0 else searches.map(_.acc.inRecords).sum / k
      },
      "kernel.cpu_ms_per_op" -> mean(recs.map(r => ms(r.acc.cpuNs.toDouble))),
      "kernel.ns_per_row" ->
        (if (scoredRows == 0) 0.0 else scored.map(_.acc.cpuNs).sum / scoredRows),
      "exchange.shuffle_bytes_per_op" -> mean(recs.map(_.acc.shuffleBytes.toDouble)),
      "exchange.spill_bytes" -> recs.map(_.acc.spillBytes).sum.toDouble,
      "write.bytes_per_op" -> mean(writers.map(_.acc.outBytes.toDouble)),
      "write.files_per_op" -> mean(writers.map(_.v("files_written"))),
      "write.bytes_rewritten_compact" -> mean(ofKind("compact").map(_.acc.outBytes.toDouble)),
      "jvm.gc_ms_per_op" -> mean(recs.map(_.v("gc_ms"))),
      "trace.overhead_pct" -> overheadPct)
  }
}
