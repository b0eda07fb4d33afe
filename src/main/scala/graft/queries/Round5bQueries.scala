package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{DuckSql, VectorFunctions => VF}

/** Round-5 (session 2) additions:
  *
  *  - x19: the NPZ DataSource V2 roundtrip — the reference's true
  *    at-rest format (`generate_coco_embeddings.py:87-91`) as a
  *    first-class Spark source/sink (graft.sources.NpzVectorSource).
  *  - s20: STREAMING NPZ ingest — `readStream.format("npz")` turns
  *    newly-arrived shard files into exactly-once micro-batches (the
  *    reference's incremental loader, `load_coco_embeddings.py`).
  *  - p9: the migration capstone — NPZ shards → native source →
  *    LSH-bucketed store build → exact kNN, oracled against brute
  *    force (a reference user's full workflow in one query).
  *  - e11: SemDeDup-style embedding-space dedup — cluster-blocked
  *    cosine near-dup pruning (Abbas et al., "SemDeDup", 2023): the
  *    all-pairs comparison happens only WITHIN a coarse cluster, so
  *    the join is equi-keyed on the cell id and shuffle-bounded.
  *  - d18: blocklist filtering via a broadcast term table — the
  *    standard safety-filter shape (tiny dim broadcast against the
  *    token stream; no shuffle of the corpus side beyond the final
  *    per-doc aggregation).
  *  - s19: event-time TIMERS via transformWithState — sessionization
  *    where open sessions are closed by the watermark, the canonical
  *    timer use-case the reference (batch-only) cannot express.
  */
object Round5bQueries {

  private val sinkId = new AtomicInteger(0)

  /** 30-minute session gap in microseconds (matches r17's ns gap). */
  private[graft] val GapUs = 1800000000L

  val all: Seq[Q] = Seq(

    // X19 — NPZ source/sink roundtrip through the DataSource V2
    // connector: embeddings → 4 NPZ shard files (one per task, exactly
    // the reference's shard layout) → read back (per-file partitions,
    // pruned columns) → checksum. The checksum is integer-exact on
    // both engines: float32 → double widening and ×1000 floor are
    // deterministic, and the long sum is order-independent.
    Q("x19_npz_roundtrip",
      (s, d) => {
        val dir = graft.util.TempDirs.create("graft_x19_npz").toString
        Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding").as("vector"))
          .repartition(4)
          .write.format("npz").mode("overwrite").save(dir)
        s.read.format("npz").load(dir)
          .agg(
            count(lit(1)).as("n"),
            sum(col("id")).as("id_sum"),
            max(size(col("vector"))).as("dim"),
            sum(floor(element_at(col("vector"), 1).cast("double") * 1000)
              .cast("long")).as("v1_milli_sum"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(vec_id) AS BIGINT) AS id_sum,
          |  CAST(max(len(embedding)) AS INT) AS dim,
          |  CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT))
          |       AS BIGINT) AS v1_milli_sum
          |FROM embeddings""".stripMargin)),

    // E11 — SemDeDup: coarse cells (same deterministic first-16
    // "centroids" as e3's oracle), then WITHIN-cell cosine near-dup
    // pruning keeping the lowest id of each near-dup pair. Per-cell
    // keep/drop counts. At 100 TB: assignment is a broadcast of 16
    // centroids + one shuffle on vec_id; the pairwise pass is an
    // equi-join on cell (the SemDeDup paper's within-cluster scan) —
    // never corpus-quadratic.
    Q("e11_semdedup",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cents = emb.where(col("vec_id") < 16)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val byVec = Window.partitionBy(col("vec_id"))
          .orderBy(col("dd"), col("cid"))
        // localCheckpoint: the assignment feeds three consumers (both
        // self-join sides + the final rollup); computing the
        // crossJoin + window once is the VectorStore.upsert pattern
        val asg = emb.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("embedding"), col("cid"),
            VF.l2sq(col("embedding"), col("ce")).as("dd"))
          .withColumn("rn", row_number().over(byVec))
          .where(col("rn") === 1)
          .select(col("vec_id"), col("embedding"), col("cid"))
          .localCheckpoint(true)
        val a = asg.select(col("cid"), col("vec_id").as("id_a"),
          col("embedding").as("ea"))
        val b = asg.select(col("cid"), col("vec_id").as("id_b"),
          col("embedding").as("eb"))
        val dropped = a.join(b, Seq("cid"))
          .where(col("id_a") < col("id_b") &&
            VF.cosine(col("ea"), col("eb")) > EmbeddingQueries.NearDupCos)
          .select(col("id_b").as("did")).distinct()
        asg.join(dropped, asg("vec_id") === dropped("did"), "left")
          .groupBy("cid")
          .agg(count(lit(1)).as("n"), count(col("did")).as("n_dropped"))
          .withColumn("n_kept", col("n") - col("n_dropped"))
          .orderBy("cid")
      },
      Some(s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce
           |  FROM embeddings WHERE vec_id < 16),
           |asg AS (
           |  SELECT vec_id, embedding, cid FROM (
           |    SELECT e.vec_id, e.embedding, c.cid,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${DuckSql.l2sq("e.embedding", "c.ce")}, c.cid) AS rn
           |    FROM embeddings e CROSS JOIN c)
           |  WHERE rn = 1),
           |drp AS (
           |  SELECT DISTINCT b.vec_id AS did
           |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
           |  WHERE (${DuckSql.dot("a.embedding", "b.embedding")} /
           |         (${DuckSql.safeNorm("a.embedding")} *
           |          ${DuckSql.safeNorm("b.embedding")}))
           |        > ${EmbeddingQueries.NearDupCos})
           |SELECT cid, CAST(count(*) AS BIGINT) AS n,
           |  CAST(count(did) AS BIGINT) AS n_dropped,
           |  CAST(count(*) - count(did) AS BIGINT) AS n_kept
           |FROM asg LEFT JOIN drp ON vec_id = did
           |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // D18 — blocklist safety filter: a tiny (term, severity) dim
    // broadcast against the exploded token stream; per-doc hit count
    // and worst severity. The corpus side never shuffles except the
    // final per-doc aggregation (partial map-side combine).
    Q("d18_blocklist",
      (s, d) => {
        val terms = s.createDataFrame(Seq(
          ("slow", 3), ("merge", 2), ("batch", 1)))
          .toDF("term", "sev")
        Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .join(broadcast(terms), col("w") === col("term"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_hits"), max("sev").as("max_sev"))
          .orderBy("doc_id")
      },
      Some("""WITH bl(term, sev) AS (VALUES ('slow', 3), ('merge', 2), ('batch', 1)),
          |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
          |        FROM documents)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
          |  CAST(max(sev) AS INT) AS max_sev
          |FROM tok JOIN bl ON w = term
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // S20 — STREAMING NPZ ingest: readStream over the shard directory
    // (NpzMicroBatchStream) picks up newly-arrived files per trigger —
    // the Spark-native analog of the reference's incremental loader
    // (`load_coco_embeddings.py:58-112`). Two arrival waves; the
    // checksum proves exactly-once pickup (re-reading wave-1 files in
    // the wave-2 batch would double id_sum and hash-fail).
    Q("s20_stream_npz_ingest",
      (s, d) => {
        val npzDir = graft.util.TempDirs.create("graft_s20_npz").toString
        val outDir = graft.util.TempDirs.create("graft_s20_out").toString
        val ckpt = graft.util.TempDirs.create("graft_s20_ckpt").toString
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding").as("vector"))
        emb.where(col("id") % 2 === 0).repartition(2)
          .write.format("npz").mode("append").save(npzDir)
        val q = s.readStream.format("npz").load(npzDir)
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        emb.where(col("id") % 2 === 1).repartition(2)
          .write.format("npz").mode("append").save(npzDir)
        q.processAllAvailable()
        q.stop()
        s.read.parquet(outDir)
          .agg(
            count(lit(1)).as("n"),
            sum(col("id")).as("id_sum"),
            sum(floor(element_at(col("vector"), 1).cast("double") * 1000)
              .cast("long")).as("v1_milli_sum"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(vec_id) AS BIGINT) AS id_sum,
          |  CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT))
          |       AS BIGINT) AS v1_milli_sum
          |FROM embeddings""".stripMargin),
      streaming = true),

    // P9 — the reference-user migration capstone: NPZ shard files
    // (the reference's on-disk corpus, staged here through the npz
    // SINK) → read via the native npz SOURCE → LSH-bucketed
    // VectorStore build → exact kNN. One query covers the full
    // "switch engines" path: the reference's shard files ARE the
    // input, no conversion scripts. Full-probe search ≡ exact, so
    // the oracle is v1's brute-force kNN.
    Q("p9_npz_ingest_search",
      (s, d) => {
        val npzDir = graft.util.TempDirs.create("graft_p9_npz").toString
        Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding").as("vector"))
          .repartition(3)
          .write.format("npz").mode("overwrite").save(npzDir)
        val path = graft.util.TempDirs.create("graft_p9_store").toString + "/index"
        graft.store.VectorStore.build(s,
          s.read.format("npz").load(npzDir)
            .select(col("id"), col("vector").as("embedding")),
          path, graft.lsh.LshConfig(dim = 64, seed = 42L))
        val store = graft.store.VectorStore.open(s, path)
        store.search(VectorQueries.qvec(s, d, 0), 10,
            store.model.numBuckets)
          .select(col("id").as("vec_id"), round(col("dist"), 6).as("dist"))
      },
      Some(VectorQueries.knnOracle(10))),

    // S19 — event-time timers through transformWithState: streaming
    // sessionization where in-batch gaps close sessions immediately
    // and the WATERMARK closes trailing sessions via registered
    // timers (expiry = last_event + gap; fires once the watermark
    // passes it). Emitted set is deterministic for a fixed corpus:
    // every non-final session of a user, plus final sessions whose
    // expiry the final watermark (max event time − 1 min) passed.
    // The oracle replays exactly that: r17's island sessionization
    // filtered by the same integer-ms timer arithmetic.
    Q("s19_stream_session_timers",
      (s, d) => StreamingQueries.withStateShuffle(s) {
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
        try {
          import s.implicits._
          import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
          Tables.events(s, d)
          val schema = s.read.parquet(s"$d/events.parquet").schema
          val name = StreamingQueries.freshSinkName(s, "s19_sink")
          val ckpt = graft.util.TempDirs.create("graft_s19_ckpt").toString
          val srcDir = graft.util.TempDirs.create("graft_s19_src")
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$d/events.parquet"),
            srcDir.resolve("events.parquet"))
          val q = s.readStream.schema(schema).parquet(srcDir.toString)
            .select(col("user_id"),
              StreamingQueries.tsAsTimestamp(schema).as("evt"),
              StreamingQueries.tsAsMicros(schema).as("us"))
            .withWatermark("evt", "1 minute")
            .select(col("user_id"), col("us")).as[(Long, Long)]
            .groupByKey(_._1)
            .transformWithState(new SessionTimerProcessor(GapUs),
              TimeMode.EventTime(), OutputMode.Append())
            .toDF("user_id", "n_events", "start_us", "end_us")
            .writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
          q.processAllAvailable()
          q.stop()
          s.table(name).orderBy("user_id", "start_us")
        } finally {
          prev match {
            case Some(v) => s.conf.set(key, v)
            case None => s.conf.unset(key)
          }
        }
      },
      Some("""WITH flagged AS (
          |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
          |    CASE WHEN lag(epoch_ns(ts) // 1000) OVER w IS NULL
          |           OR epoch_ns(ts) // 1000 - lag(epoch_ns(ts) // 1000) OVER w
          |              > 1800000000
          |         THEN 1 ELSE 0 END AS new_s
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
          |sess AS (
          |  SELECT user_id, us,
          |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |      AS session_id
          |  FROM flagged),
          |agg AS (
          |  SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
          |    min(us) AS start_us, max(us) AS end_us
          |  FROM sess GROUP BY 1, 2),
          |wm AS (
          |  SELECT max(epoch_ns(ts)) // 1000 // 1000 - 60000 AS wm_ms
          |  FROM events)
          |SELECT a.user_id, a.n_events, a.start_us, a.end_us
          |FROM agg a, wm
          |WHERE a.session_id < (SELECT max(session_id) FROM agg b
          |                      WHERE b.user_id = a.user_id)
          |   OR (a.end_us + 1800000000) // 1000 <= wm.wm_ms
          |ORDER BY a.user_id, a.start_us""".stripMargin),
      streaming = true)
  )
}

/** s19's StatefulProcessor: per-user open session in a ValueState,
  * closed either by an in-batch gap (emit immediately) or by an
  * event-time TIMER at `last_event + gap` once the watermark passes
  * it. Per-key batch input is sorted in memory — the same per-user
  * timeline cost the batch window sort pays. Visible to tests so
  * Round5bSpec drives THIS class across micro-batches and the
  * timer-expiry boundary.
  */
private[graft] class SessionTimerProcessor(gapUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long, Long)] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, ValueState}

  // (start_us, last_us, n_events) of the open session
  @transient private var open: ValueState[(Long, Long, Long)] = _

  private def expiryMs(lastUs: Long): Long = (lastUs + gapUs) / 1000

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getValueState[(Long, Long, Long)]("open",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long)],
      timers: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, Long, Long)] = {
    val us = rows.map(_._2).toArray
    java.util.Arrays.sort(us)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var (st, last, n) =
      if (open.exists()) open.get() else (-1L, -1L, 0L)
    if (last >= 0) getHandle.deleteTimer(expiryMs(last))
    us.foreach { u =>
      if (st < 0) { st = u; last = u; n = 1L }
      else if (u > last) {
        if (u - last > gapUs) {
          out += ((key, n, st, last)); st = u; last = u; n = 1L
        } else { last = u; n += 1L }
      } else {
        // cross-batch out-of-order arrival (above the watermark but
        // before the open session's tail): the watermark delay is far
        // smaller than the gap, so it always belongs to the open
        // session — extend bounds, never move `last` backwards
        n += 1L
        if (u < st) st = u
      }
    }
    open.update((st, last, n))
    getHandle.registerTimer(expiryMs(last))
    out.iterator
  }

  override def handleExpiredTimer(
      key: Long,
      timers: org.apache.spark.sql.streaming.TimerValues,
      info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[(Long, Long, Long, Long)] = {
    if (!open.exists()) Iterator.empty
    else {
      val (st, last, n) = open.get()
      // a stale timer (session extended since registration) must not
      // close the current session early
      if (info.getExpiryTimeInMs() >= expiryMs(last)) {
        open.clear()
        Iterator.single((key, n, st, last))
      } else Iterator.empty
    }
  }
}
