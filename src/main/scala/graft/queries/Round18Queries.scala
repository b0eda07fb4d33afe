package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.ManifestScan
import graft.store.ZoneRange

/** Round-18 additions: the INCREMENTAL-recompute layer on the unified
  * FileLog commit core — a row-level change feed between table
  * versions (x33, Delta CDF / Iceberg incremental-read semantics), a
  * materialized aggregate maintained FROM that feed instead of a
  * full rescan (x34, the 100 TB reason the feed exists), widening
  * schema evolution (x35), MERGE-style zone-pruned upsert (x36), and
  * the streaming composition (s27: table ← exactly-once micro-batch
  * sink, live index ← per-batch feed windows). All ride the round-17
  * unification: appends, zone-pruned deletes/upserts and data-neutral
  * compactions flow through one versioned log, so the feed is pure
  * log arithmetic plus scans bounded by the CHANGED files.
  *
  * Reference tie-in: the reference rebuilds its whole index to absorb
  * any change (`generate_report.py` re-ingests per run); the feed is
  * the scalable replacement — downstream state refreshes from the
  * delta, never the table.
  */
object Round18Queries {

  private val FeedCols = Seq("doc_id", "lang")

  /** Shared builder for x33/x34: a manifest table under `dir` grown
    * through the log's real mutation surface — two exactly-once
    * appends (thirds of `documents` by doc_id mod 3), then optionally
    * a third append, a data-neutral compaction and a zone-pruned
    * single-language delete. Version numbers are deterministic
    * (fresh dir: v1, v2, ... in call order).
    */
  private def appendThird(s: SparkSession, d: String, dir: String,
      third: Int, batchId: Long): Unit = {
    val b = Tables.documents(s, d)
      .where(col("doc_id") % 3 === third)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    ManifestScan.appendBatch(s, dir, b, FeedCols, batchId)
    ()
  }

  // ---- Bench plumbing for the x34 refresh pair: a table grown in 32
  // id-range-clustered appends (so every file owns a tight doc_id
  // zone), materialized at v32, then a delta of one more append (v33)
  // and one zone-pruned delete (v34). The pair prices what the change
  // feed buys a materialized view: the incremental path reads the
  // DELTA's files (one appended + the few the delete touched), the
  // full path rescans every file — at 100 TB that's the difference
  // between a merge and a nightly table scan.

  private[graft] def x34BenchBuild(s: SparkSession, d: String,
      dir: String): Long = {
    // materialized ONCE inside the timed build: the 34 appends below
    // each filter one id range, and without this every append re-ran
    // the parquet scan + projection (34 corpus reads for one table
    // build). Same rows, same per-append single-partition writes (the
    // x34_files gauges pin the 33-file layout).
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .localCheckpoint(true)
    val w = docs.agg(max("doc_id")).head.getLong(0) / 33 + 1
    // one writer task per append (coalesce(1), no shuffle): each batch
    // is ~1/33 of the corpus, and without it every append's write job
    // schedules a task per checkpoint partition with all but one
    // producing nothing — 34 jobs × ~31 empty tasks of pure scheduling.
    // Same rows, same 33-file layout (the x34_files gauges pin it);
    // warm pass 4.49 → 4.08 s.
    (0 until 32).foreach { i => // v1..v32: id-range-clustered batches
      ManifestScan.appendBatch(s, dir,
        docs.where(col("doc_id") >= i * w && col("doc_id") < (i + 1) * w),
        FeedCols, i.toLong, shape = _.coalesce(1))
    }
    // the delta the refresh pair consumes:
    ManifestScan.appendBatch(s, dir, // v33: the last id range
      docs.where(col("doc_id") >= 32 * w), FeedCols, 32L,
      shape = _.coalesce(1))
    ManifestScan.delete(s, dir, // v34: touches only batch 0's file
      Map("doc_id" -> ZoneRange.I64R(0L, w / 4)), FeedCols)
    w
  }

  /** Per-lang (count, sum) over the table as of version `v`. */
  private[graft] def x34Mat(s: SparkSession, dir: String,
      v: Int): DataFrame =
    ManifestScan.readPrunedAsOf(s, dir, v, Map.empty)._1
      .groupBy("lang")
      .agg(count(lit(1)).as("n0"), sum("n_chars").as("c0"))

  /** Incremental refresh: fold the (fromV, toV] feed into `mat`. */
  private[graft] def x34Incremental(s: SparkSession, dir: String,
      mat: DataFrame, fromV: Int, toV: Int): DataFrame = {
    val delta = ManifestScan.changes(s, dir, fromV, toV)
      .withColumn("sgn",
        when(col("_change_type") === "insert", 1L).otherwise(-1L))
      .groupBy("lang")
      .agg(sum(col("sgn")).as("dn"),
        sum(col("sgn") * col("n_chars")).as("dc"))
    mat.join(delta, Seq("lang"), "full_outer")
      .select(col("lang"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("c0"), lit(0L)) + coalesce(col("dc"), lit(0L)))
          .as("sum_chars"))
      .where(col("n_docs") > 0)
  }

  /** The baseline the feed replaces: full recompute at the head. */
  private[graft] def x34FullRecompute(s: SparkSession,
      dir: String): DataFrame =
    ManifestScan.readPrunedRanges(s, dir, Map.empty)._1
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))

  val all: Seq[Q] = Seq(

    // X33 — row-level CHANGE FEED over a log-structured table: two
    // appends (v1, v2), a compaction (v3, committed with
    // dataChange=false — the feed SKIPS it without scanning a byte,
    // Delta's dataChange bit), and a zone-pruned delete of one
    // language (v4). `changes(0, 4)` replays the history as tagged
    // rows: inserts carry the version that appended them, the delete
    // surfaces the removed rows' old image diffed over ONLY the files
    // the delete touched (exceptAll both ways, multiset semantics).
    // Scale shape: append versions cost a scan of exactly their added
    // files, rewrite versions a diff of exactly their touched files,
    // compactions nothing — the feed is O(changed data), never
    // O(table), which is what lets a downstream consumer at 100 TB
    // refresh from the delta instead of rescanning. The oracle
    // recomputes the expected feed from the mutation definitions.
    Q("x33_change_feed",
      (s, d) => {
        val dir = graft.util.TempDirs.create("graft_x33_m").toString
        appendThird(s, d, dir, 0, 0L) // v1
        appendThird(s, d, dir, 1, 1L) // v2
        ManifestScan.compact(s, dir, "doc_id", 4, FeedCols) // v3, row-neutral
        ManifestScan.delete(s, dir,
          Map("lang" -> ZoneRange.StrR("de", "de")), FeedCols) // v4
        ManifestScan.changes(s, dir, 0, 4)
          .select(col("doc_id"), col("lang"),
            col("_change_type").as("change_type"),
            col("_commit_version").as("commit_version"))
          .orderBy("commit_version", "change_type", "doc_id")
      },
      Some("""SELECT doc_id, lang, 'insert' AS change_type,
          |  CAST(1 AS BIGINT) AS commit_version
          |FROM documents WHERE doc_id % 3 = 0
          |UNION ALL
          |SELECT doc_id, lang, 'insert', CAST(2 AS BIGINT)
          |FROM documents WHERE doc_id % 3 = 1
          |UNION ALL
          |SELECT doc_id, lang, 'delete', CAST(4 AS BIGINT)
          |FROM documents WHERE doc_id % 3 IN (0, 1) AND lang = 'de'
          |ORDER BY commit_version, change_type, doc_id""".stripMargin)),

    // X34 — INCREMENTAL materialized-aggregate maintenance: a per-lang
    // (count, sum) is materialized from a FULL scan pinned at v2
    // (time travel), the table then takes an append (v3), a compaction
    // (v4, skipped by flag) and a delete (v5), and the view refreshes
    // by folding the CHANGE FEED (2, 5] into the materialized state —
    // +row for inserts, −row for deletes, groups emptied by the
    // refresh dropped. The refresh reads the delta files only: at
    // 100 TB this is the difference between a nightly full-table
    // groupBy and a delta-sized merge (the standard IVM contract
    // change feeds exist to serve). The oracle computes the SAME
    // aggregate directly over the final table state — incremental
    // must equal recompute exactly (integer arithmetic throughout,
    // no float drift to hide behind).
    Q("x34_incremental_agg",
      (s, d) => {
        val dir = graft.util.TempDirs.create("graft_x34_m").toString
        appendThird(s, d, dir, 0, 0L) // v1
        appendThird(s, d, dir, 1, 1L) // v2
        val mat = ManifestScan.readPrunedAsOf(s, dir, 2, Map.empty)._1
          .groupBy("lang")
          .agg(count(lit(1)).as("n0"), sum("n_chars").as("c0"))
        appendThird(s, d, dir, 2, 2L) // v3
        ManifestScan.compact(s, dir, "doc_id", 4, FeedCols) // v4, row-neutral
        ManifestScan.delete(s, dir,
          Map("lang" -> ZoneRange.StrR("de", "de")), FeedCols) // v5
        val delta = ManifestScan.changes(s, dir, 2, 5)
          .withColumn("sgn",
            when(col("_change_type") === "insert", 1L).otherwise(-1L))
          .groupBy("lang")
          .agg(sum(col("sgn")).as("dn"),
            sum(col("sgn") * col("n_chars")).as("dc"))
        mat.join(delta, Seq("lang"), "full_outer")
          .select(col("lang"),
            (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n_docs"),
            (coalesce(col("c0"), lit(0L)) + coalesce(col("dc"), lit(0L)))
              .as("sum_chars"))
          .where(col("n_docs") > 0)
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM documents WHERE lang <> 'de'
          |GROUP BY lang ORDER BY lang""".stripMargin)),

    // X35 — SCHEMA EVOLUTION (widening appends): v1 lands (doc_id,
    // lang); v2 appends the remaining docs WITH a new n_chars column,
    // widening the logged schema. Reads resolve every file against
    // the LOGGED schema, so v1's files — never rewritten — surface
    // n_chars as NULL (parquet's missing-column rule under an
    // explicit reader schema): at 100 TB adding a column costs one
    // log commit, not a rewrite of history, the Delta/Iceberg
    // mergeSchema contract. Narrowing/retyping appends are refused
    // loudly (spec-pinned). The aggregate distinguishes rows by
    // n_chars presence, so a lazy "fill everything" or "drop old
    // rows" implementation hash-mismatches the oracle.
    Q("x35_schema_evolution",
      (s, d) => {
        val dir = graft.util.TempDirs.create("graft_x35_m").toString
        val docs = Tables.documents(s, d)
        ManifestScan.appendBatch(s, dir,
          docs.where(col("doc_id") % 3 === 0)
            .select(col("doc_id"), col("lang")),
          FeedCols, 0L) // v1: narrow schema
        ManifestScan.appendBatch(s, dir,
          docs.where(col("doc_id") % 3 =!= 0)
            .select(col("doc_id"), col("lang"), col("n_chars")),
          FeedCols, 1L) // v2: widened with n_chars
        ManifestScan.readPrunedRanges(s, dir, Map.empty)._1
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            count(col("n_chars")).as("n_with_chars"),
            sum("n_chars").as("sum_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
          |  count(CASE WHEN doc_id % 3 <> 0 THEN n_chars END)
          |    AS n_with_chars,
          |  CAST(sum(CASE WHEN doc_id % 3 <> 0 THEN n_chars END) AS BIGINT)
          |    AS sum_chars
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // X36 — MERGE-style upsert (Delta MERGE WHEN MATCHED UPDATE /
    // WHEN NOT MATCHED INSERT), zone-pruned by the key envelope: the
    // update batch REPLACES every doc_id ≡ 7 (mod 10) with a bumped
    // n_chars and INSERTS shifted copies of every doc_id ≡ 3 — one
    // atomic version, only key-overlapping files rewritten (at 100 TB
    // a key-clustered upsert rewrites a handful of files, never the
    // table). The final-state aggregate is keyed so a wrong merge —
    // duplicated matched rows, dropped inserts, un-bumped updates —
    // hash-mismatches the oracle's direct recomputation.
    Q("x36_merge_upsert",
      (s, d) => {
        val dir = graft.util.TempDirs.create("graft_x36_m").toString
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        ManifestScan.appendBatch(s, dir,
          docs.where(col("doc_id") % 3 === 0), FeedCols, 0L) // v1
        ManifestScan.appendBatch(s, dir,
          docs.where(col("doc_id") % 3 =!= 0), FeedCols, 1L) // v2
        val updates = docs.where(col("doc_id") % 10 === 7)
            .withColumn("n_chars", col("n_chars") + 1000000L)
          .unionByName(docs.where(col("doc_id") % 10 === 3)
            .withColumn("doc_id", col("doc_id") + 10000000L))
        ManifestScan.upsert(s, dir, updates, "doc_id", FeedCols) // v3
        ManifestScan.readPrunedRanges(s, dir, Map.empty)._1
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"))
          .orderBy("lang")
      },
      Some("""WITH fin AS (
          |  SELECT doc_id, lang,
          |    CASE WHEN doc_id % 10 = 7 THEN n_chars + 1000000
          |         ELSE n_chars END AS n_chars
          |  FROM documents
          |  UNION ALL
          |  SELECT doc_id + 10000000, lang, n_chars
          |  FROM documents WHERE doc_id % 10 = 3)
          |SELECT lang, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM fin GROUP BY lang ORDER BY lang""".stripMargin)),

    // S27 — STREAMING feed-driven index sync, the round's pieces
    // composed end-to-end: a file stream lands embedding micro-batches
    // in a manifest table (exactly-once appendBatch, the s26
    // contract), and after each batch a consumer reads the table's
    // CHANGE FEED since its last synced version and applies it to a
    // live LSH index (applyChanges: net per-id actions → upsert /
    // delete). A post-stream upstream DELETE flows through the same
    // loop — the index follows the table without ever rescanning it
    // (per-sync cost is O(delta), the property that lets a search
    // index track a 100 TB embedding table). applyChanges is
    // idempotent (net actions), so a replayed/overlapping window
    // can't double-apply. The oracle is the upstream table's final
    // state: the synced index must hold exactly those ids.
    Q("s27_stream_feed_sync",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding"))
        val srcDir = graft.util.TempDirs.create("graft_s27_src").toString
        val tblDir = graft.util.TempDirs.create("graft_s27_tbl").toString
        val ckpt = graft.util.TempDirs.create("graft_s27_ckpt").toString
        val idxDir = graft.util.TempDirs.create("graft_s27_idx").toString
        emb.repartitionByRange(4, col("id"))
          .write.mode("overwrite").parquet(srcDir)
        val store = graft.store.VectorStore.build(s, emb.limit(0),
          s"$idxDir/index", graft.lsh.LshConfig(dim = 64, seed = 27L))
        var synced = 0 // the consumer's high-water version
        val schema = s.read.parquet(srcDir).schema
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir)
          .writeStream
          .foreachBatch { (b: DataFrame, bid: Long) =>
            ManifestScan.appendBatch(s, tblDir, b, Seq("id"), batchId = bid,
              shape = _.repartitionByRange(2, col("id")))
            val cur = graft.store.FileLog.read(tblDir).version
            if (cur > synced) {
              store.applyChanges(ManifestScan.changes(s, tblDir, synced, cur))
              synced = cur
            }
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        q.stop()
        // an upstream delete flows through the same consumer loop
        ManifestScan.delete(s, tblDir,
          Map("id" -> graft.store.ZoneRange.I64R(0L, 99L)), Seq("id"))
        val cur = graft.store.FileLog.read(tblDir).version
        store.applyChanges(ManifestScan.changes(s, tblDir, synced, cur))
        store.indexDf.select(col("id")).orderBy("id")
      },
      Some("SELECT vec_id AS id FROM embeddings WHERE vec_id > 99 ORDER BY id"),
      streaming = true),

    // S28 — streaming DEDUP-AT-INGEST against ALL history: each
    // micro-batch is deduplicated within itself (min doc_id per text
    // fingerprint), anti-joined against the fingerprints of EVERY
    // previously accepted document (the growing corpus table — state
    // that survives restarts, unlike in-memory stream state), and the
    // survivors land exactly-once. The history side is read COLUMN-
    // PRUNED (only the 32-byte fingerprint column of the corpus scan
    // feeds the anti-join — at 100 TB that is a ~1% read of the
    // table, and a production layout hash-clusters the fingerprint
    // column so the join also file-prunes; the d1 batch dedup's
    // posture, made incremental). Which copy of a cross-batch
    // duplicate survives depends on arrival order, so the oracle pins
    // the order-invariant truth: the accepted corpus carries exactly
    // the distinct texts, each once. The stream carries planted
    // RE-CRAWLS (every 7th doc again under a high doc_id, landing in
    // a LATER micro-batch than its original via the id-range file
    // split) so the cross-history path provably rejects rows at every
    // sf — a gate that forgot its history would land ~14% extra rows
    // and fail the row-count half of the oracle compare.
    Q("s28_stream_dedup_gate",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("text"))
        val docs = base.unionByName(base // the re-crawl copies
          .where(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L))
        val srcDir = graft.util.TempDirs.create("graft_s28_src").toString
        val corpusDir = graft.util.TempDirs.create("graft_s28_corp").toString
        val ckpt = graft.util.TempDirs.create("graft_s28_ckpt").toString
        docs.repartitionByRange(4, col("doc_id"))
          .write.mode("overwrite").parquet(srcDir)
        val schema = s.read.parquet(srcDir).schema
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir)
          .writeStream
          .foreachBatch { (b: DataFrame, bid: Long) =>
            val withH = b.withColumn("h", md5(col("text")))
            val inBatch = withH.withColumn("__rn",
                row_number().over(
                  Window.partitionBy("h").orderBy("doc_id")))
              .where(col("__rn") === 1).drop("__rn")
            val fresh =
              if (graft.store.FileLog.exists(corpusDir)) {
                val hist = ManifestScan
                  .readPrunedRanges(s, corpusDir, Map.empty)._1
                  .select("h") // column-pruned: fingerprints only
                inBatch.join(hist, Seq("h"), "left_anti")
              } else inBatch
            ManifestScan.appendBatch(s, corpusDir, fresh,
              Seq("doc_id"), batchId = bid)
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        q.stop()
        ManifestScan.readPrunedRanges(s, corpusDir, Map.empty)._1
          .select(col("h")).orderBy("h")
      },
      Some("SELECT DISTINCT md5(text) AS h FROM documents ORDER BY h"),
      streaming = true)
  )
}
