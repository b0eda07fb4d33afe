package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{avg, max, min}

import graft.server.Json
import graft.store.FileLog

/** Benchmark entry point: one workload, one seed. Launched by perfbench/run.py,
  * which builds this class path and generates the inputs in `--data`.
  *
  * `--trace 0` measures the end-to-end metrics over HTTP. `--trace 1`
  * runs the same seeded operations for a fixed count three times on
  * fresh indexes: traced, over HTTP, traced again. It reports the
  * per-layer metrics of the last pass and its overhead against the HTTP
  * pass, and fails unless the two traced passes repeat their counters
  * exactly.
  */
object Main {
  /** Set-up repetitions in a measured run; `setup_s` is their median. */
  val SetupRounds = 3
  /** Untimed searches between set-up and the window, so that the
    * window starts with the search path compiled.
    */
  val WarmSearches = 8
  /** Window iterations of a traced pass. */
  val TraceIterations = Map("serve" -> 24, "reference" -> 30)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "search_p50_ms" -> "ms", "search_p90_ms" -> "ms",
    "exact_p50_ms" -> "ms", "qps" -> "1/s", "recall_at10" -> "fraction",
    "success_rate" -> "fraction", "ingest_vps" -> "vectors/s",
    "write_amp" -> "ratio", "space_amp" -> "ratio", "mem_mb" -> "MB")

  private val started = System.nanoTime()
  /** Progress on stderr, stamped with seconds since the JVM started. */
  def progress(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - started) / 1e9}%.1fs $msg")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, cores: Int, traces: String)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a("data"), a("cores").toInt, a("traces"))
    require(TraceIterations.contains(o.workload), s"unknown workload ${o.workload}")
    val data = new Data(o.data)
    val (rec, metrics, spec) =
      if (o.trace) traced(o, data)
      else {
        val (r, m) = measured(o, data)
        (r, m, EndToEnd)
      }
    val units = spec.toMap
    val bad = spec.map(_._1).filter(k => metrics(k).isNaN || metrics(k).isInfinite)
    bad.foreach(k => rec.failure("metric", s"$k was not measured"))
    println(s"workload ${o.workload} seed ${o.seed} seconds ${o.seconds} trace ${if (o.trace) 1 else 0}")
    spec.foreach { case (k, u) => println(f"metric $k%-30s ${metrics(k)}%.6g $u") }
    println(f"error_rate ${rec.failed.toDouble / rec.attempted}%.6g (${rec.failed} failed of ${rec.attempted} attempted)")
    println(Json.write(Map(
      "correct" -> (rec.failed == 0),
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "metrics" -> scala.collection.immutable.ListMap(spec.map { case (k, u) =>
        k -> Map("value" -> (if (bad.contains(k)) 0.0 else metrics(k)), "unit" -> u)
      }: _*))))
    System.out.flush()
    sys.exit(0)
  }

  private def host(o: Opts, data: Data, spark: SparkSession, dir: String): Hosted =
    if (o.workload == "reference") Hosted.lsh(spark, data.corpusPath, dir)
    else Hosted.quant(spark, data.corpusPath, dir)

  /** `n` requests, alternately ANN and exact, before anything is timed;
    * checked and counted as attempted, not sampled.
    */
  private def warmUp(h: Hosted, data: Data, rec: Recorder, n: Int): Unit = {
    val warm = new Recorder
    val r = new Runner(new HttpExec(h), new Live(data), warm, data)
    (0 until n).foreach(i =>
      r.search(data.query(i), Workloads.K, if (i % 2 == 0) Workloads.Probes else None))
    rec.attempted += warm.attempted
    rec.failed += warm.failed
  }

  private def window(o: Opts, data: Data, exec: Exec, runner: Runner, live: Live,
      rec: Recorder, rnd: SplittableRandom, iterations: Option[Int]): (Double, Long) =
    if (o.workload == "serve") {
      val clients = if (iterations.isEmpty) Workloads.Clients else 1
      Workloads.serve(Seq.fill(clients)(exec), live, rec, data, o.seed,
        () => new Budget(o.seconds, iterations))
    } else Workloads.reference(runner, data, rnd, new Budget(o.seconds, iterations))

  /** The index must hold exactly the live ids: every add present,
    * every delete gone, no upsert duplicated.
    */
  private def checkState(h: Hosted, live: Live, rec: Recorder): Unit = {
    rec.attempted += 1
    try {
      val got = h.indexDf().select("id").collect().map(_.getLong(0)).sorted
      val want = live.ids
      if (!got.sameElements(want))
        rec.failure("state", s"index holds ${got.length} ids (${got.diff(want).take(5).mkString(",")} " +
          s"unexpected), expected ${want.length} (${want.diff(got).take(5).mkString(",")} missing)")
    } catch { case NonFatal(e) => rec.failure("state", String.valueOf(e)) }
  }

  /** Bytes of the files in the index's current snapshot. */
  private def snapshotBytes(h: Hosted): Double = {
    val conf = h.spark.sessionState.newHadoopConf()
    FileLog.read(h.dataDir).files.map { f =>
      val p = new Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen.toDouble
    }.sum
  }

  private def heapMbAfterGc(): Double = {
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def measured(o: Opts, data: Data): (Recorder, Map[String, Double]) = {
    val rec = new Recorder
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var h: Hosted = null
    for (round <- 0 until SetupRounds) {
      if (h != null) { h.stop(); spark.stop() }
      val t0 = System.nanoTime()
      spark = Engine.session(o.cores, s"${o.data}/tmp")
      h = host(o, data, spark, s"${o.data}/index-$round")
      warmUp(h, data, rec, 2)
      setups += (System.nanoTime() - t0) / 1e9
      progress(f"set-up round $round: ${setups.last}%.2f s")
    }
    warmUp(h, data, rec, WarmSearches)
    val live = new Live(data)
    val rnd = new SplittableRandom(o.seed)
    val exec = new HttpExec(h)
    val runner = new Runner(exec, live, rec, data)
    val (seconds, ops) = window(o, data, exec, runner, live, rec, rnd, None)
    progress(f"window: $ops ops in $seconds%.2f s")
    val memMb = heapMbAfterGc()
    val userBytes = live.count.toDouble * (data.dim * 4 + 8)
    val spaceAmp = snapshotBytes(h) / userBytes
    // write_amp covers the tail alone, whose writes have a fixed composition
    ListenerBridge.waitUntilEmpty(spark.sparkContext)
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val tailUserBytes = rec.userBytes
    Workloads.tail(runner, data, rnd, live, maintain = false)
    checkState(h, live, rec)
    progress(s"tail: writes ${rec.writes.map(_.round).mkString(",")} ms")
    ListenerBridge.waitUntilEmpty(spark.sparkContext)
    val written = counters.take("").outBytes.toDouble
    h.stop()
    spark.stop()
    progress(s"samples: search=${rec.ann.size} exact=${rec.exact.size} writes=${rec.writes.size}")
    (rec, Map(
      "setup_s" -> Stats.median(setups.toSeq),
      "search_p50_ms" -> Stats.median(rec.ann.toSeq),
      "search_p90_ms" -> Stats.quantile(rec.ann.toSeq, 0.9),
      "exact_p50_ms" -> Stats.median(rec.exact.toSeq),
      "qps" -> ops / seconds,
      "recall_at10" -> rec.recallSum / rec.recallN,
      "success_rate" -> (1.0 - rec.failed.toDouble / rec.attempted),
      "ingest_vps" -> rec.addedVectors / (rec.addNanos / 1e9),
      "write_amp" -> written / (rec.userBytes - tailUserBytes),
      "space_amp" -> spaceAmp,
      "mem_mb" -> memMb))
  }

  /** One pass of the trace protocol on a fresh index. Returns its
    * recorder, the traced executor (None for the HTTP pass) and the
    * summed wall time of its operations in ms.
    */
  private def tracePass(o: Opts, data: Data, spark: SparkSession, name: String,
      counters: Option[Counters]): (Recorder, Option[TracedExec], Double, Hosted) = {
    val h = host(o, data, spark, s"${o.data}/index-$name")
    val rec = new Recorder
    warmUp(h, data, rec, 2)
    val live = new Live(data)
    val rnd = new SplittableRandom(o.seed)
    val traced = counters.map(c => new TracedExec(h, new Tracer, c))
    val exec = traced.getOrElse(new HttpExec(h))
    val runner = new Runner(exec, live, rec, data)
    window(o, data, exec, runner, live, rec, rnd, Some(TraceIterations(o.workload)))
    Workloads.tail(runner, data, rnd, live, maintain = true)
    checkState(h, live, rec)
    val opMs = traced match {
      case Some(t) => t.records.map(r => r.v("wall_ns") + r.v("filelog_read_ns")).sum / 1e6
      case None => (rec.ann ++ rec.exact ++ rec.writes ++ rec.compacts ++ rec.audits).sum
    }
    (rec, traced, opMs, h)
  }

  private def traced(o: Opts, data: Data): (Recorder, Map[String, Double], Seq[(String, String)]) = {
    val spark = Engine.session(o.cores, s"${o.data}/tmp")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    // A runs first and cold; it only has to repeat B's counters. B runs
    // after the HTTP pass, so both are warm when the overhead compares them.
    val (recA, Some(a), _, hA) = tracePass(o, data, spark, "a", Some(counters))
    hA.stop()
    val (httpRec, _, httpMs, h0) = tracePass(o, data, spark, "http", None)
    h0.stop()
    val (recB, Some(b), tracedMs, hB) = tracePass(o, data, spark, "b", Some(counters))
    val imbalance = hB.lsh.fold(0.0) { _ =>
      val r = hB.indexDf().groupBy("bucket").count()
        .agg(max("count"), min("count"), avg("count")).head
      (r.getLong(0) - r.getLong(1)) / r.getDouble(2)
    }
    hB.stop()
    spark.stop()

    val rec = new Recorder
    Seq(httpRec, recA, recB).foreach { r =>
      rec.attempted += r.attempted
      rec.failed += r.failed
    }
    val fa = a.records.map(r => (r.kind, r.fingerprint))
    val fb = b.records.map(r => (r.kind, r.fingerprint))
    rec.attempted += 1
    if (fa != fb) {
      val diffs = fa.zip(fb).zipWithIndex.collect { case ((x, y), i) if x != y => s"op $i: $x vs $y" }
      rec.failure("determinism", s"traced passes differ (jobs, stages, tasks, files, bytes, " +
        s"commits): ${fa.size} vs ${fb.size} ops; ${diffs.take(5).mkString("; ")}")
    }
    new java.io.File(o.traces).mkdirs()
    b.tracer.write(s"${o.traces}/${o.workload}-${o.seed}.spans.jsonl")
    val metrics = Layers.compute(b.records.toSeq, b.tracer.selfNanos, o.cores, imbalance,
      100.0 * (tracedMs - httpMs) / httpMs)
    (rec, metrics, Layers.Spec.map(s => s._1 -> s._2))
  }
}
