package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TextFunctions => TF}

/** Round-6 (session 2) additions:
  *
  *  - d22: statistical-LM fluency scoring — the CCNet/Wenzek et al.
  *    perplexity-filter shape: corpus bigram conditional
  *    probabilities with add-one smoothing, per-doc mean bigram
  *    probability in fixed-point µ-units (integer floor division, so
  *    both engines agree bit-for-bit where floating log-likelihoods
  *    would not), keep = above the corpus mean. The counts tables
  *    ARE the language model — no external artifact.
  *  - p10: the curation FUNNEL capstone — Gopher rules (d20) ∧ DSIR
  *    importance (d21) ∧ duplicate-span gate (d19) composed into one
  *    plan, reporting survivors and surviving tokens per stage. The
  *    per-stage attrition table is the artifact every data-curation
  *    run ships (what fraction each gate removes).
  *  - r75: runtime bloom-filter join pruning — Spark's
  *    injected-subquery bloom filter lets the fact-table scan drop
  *    rows whose join key cannot match the filtered dimension BEFORE
  *    the shuffle; the 100-TB lever for selective shuffle joins that
  *    are too big to broadcast.
  *  - x21: Z-ORDER (Morton-interleaved) data layout — range-
  *    repartition + sort on the interleaved key clusters BOTH filter
  *    dimensions into every file, so a rectangle predicate prunes by
  *    parquet min/max stats on two columns at once; the layout move
  *    behind Delta/Iceberg OPTIMIZE ZORDER, expressed with plain
  *    Spark primitives (results are layout-invariant — the oracle
  *    reads the raw table).
  */
object Round6bQueries {

  private val Scale = 1000000L
  private val DsirBuckets = 64

  /** Bigram stream (a = previous word hash, b2 = current), one row
    * per adjacent pair: posexplode + lag over (doc_id, pos). The
    * window's doc_id hash partitioning is the same key as the later
    * per-doc rollup.
    */
  private def bigrams(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(TF.wordHashes(col("text"))).as(Seq("pos", "wh")))
      .withColumn("a",
        lag("wh", 1).over(Window.partitionBy("doc_id").orderBy("pos")))
      .where(col("a").isNotNull)
      .select(col("doc_id"), col("a"), col("wh").as("b2"))

  /** DuckDB twin of [[bigrams]]: adjacent pairs straight from the
    * word-hash list (docs with <2 words contribute no rows, matching
    * the lag filter).
    */
  private val bigramsSql: String =
    s"""w0 AS (SELECT doc_id, ${TF.wordHashesSql("text")} AS wh FROM documents),
       |bg0 AS (SELECT doc_id,
       |          unnest(list_transform(range(2, len(wh) + 1),
       |            i -> [wh[i-1], wh[i]])) AS bg
       |        FROM w0),
       |bg AS (SELECT doc_id, bg[1] AS a, bg[2] AS b2 FROM bg0)""".stripMargin

  val all: Seq[Q] = Seq(

    // D22 — bigram-LM fluency score: P(b|a) ≈ (c2(a,b)+1) /
    // (c1(a)+V) with add-one smoothing over the corpus's own counts,
    // per-doc fluency = mean µ-scaled P over its bigrams, keep =
    // above the corpus-wide mean. At 100 TB: the count tables are
    // vocabulary-bounded keyed aggregates (map-side combined), the
    // probability join is equi-keyed on the bigram — the same
    // shuffle-bounded shape as m5's posting lists, and the model
    // "trains" in the same pass that scores.
    Q("d22_bigram_fluency",
      (s, d) => {
        val bg = bigrams(s, d).localCheckpoint(true)
        val c2 = bg.groupBy("a", "b2").agg(count(lit(1)).as("c2"))
        val c1 = bg.groupBy("a").agg(count(lit(1)).as("c1"))
        val vocab = Tables.documents(s, d)
          .select(explode(TF.wordHashes(col("text"))).as("wh"))
          .agg(countDistinct("wh").as("v"))
        val lut = c2.join(c1, "a").crossJoin(broadcast(vocab))
          .select(col("a"), col("b2"),
            expr(s"(c2 + 1L) * ${Scale}L DIV (c1 + v)").as("p_micro"))
        val scored = bg.join(lut, Seq("a", "b2")).localCheckpoint(true)
        val global = scored
          .agg(expr("sum(p_micro) DIV count(1)").as("global_micro"))
        scored.groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            sum("p_micro").as("psum"))
          .crossJoin(broadcast(global))
          .select(col("doc_id"), col("n_bigrams"),
            expr("psum DIV n_bigrams").as("fluency_micro"),
            (expr("psum DIV n_bigrams") > col("global_micro"))
              .cast("int").as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $bigramsSql,
           |c2 AS (SELECT a, b2, count(*) AS c2 FROM bg GROUP BY a, b2),
           |c1 AS (SELECT a, count(*) AS c1 FROM bg GROUP BY a),
           |vocab AS (SELECT count(DISTINCT wh) AS v
           |          FROM (SELECT unnest(wh) AS wh FROM w0)),
           |lut AS (
           |  SELECT c2.a, c2.b2,
           |    CAST((c2 + 1) * $Scale AS BIGINT)
           |      // CAST(c1 + (SELECT v FROM vocab) AS BIGINT) AS p_micro
           |  FROM c2 JOIN c1 ON c2.a = c1.a),
           |scored AS (
           |  SELECT bg.doc_id, p_micro
           |  FROM bg JOIN lut ON bg.a = lut.a AND bg.b2 = lut.b2),
           |gl AS (SELECT CAST(sum(p_micro) AS BIGINT) // count(*)
           |          AS global_micro FROM scored)
           |SELECT doc_id,
           |  CAST(count(*) AS BIGINT) AS n_bigrams,
           |  CAST(sum(p_micro) AS BIGINT) // count(*) AS fluency_micro,
           |  CAST(CAST(sum(p_micro) AS BIGINT) // count(*)
           |       > (SELECT global_micro FROM gl) AS INT) AS keep
           |FROM scored
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // P10 — the curation funnel: stage-by-stage survival through the
    // round-6 gates (Gopher rules → DSIR importance → duplicate-span
    // cap dup_ratio < 2/3, integer-exact as 3·n_dup < 2·n_shingles).
    // One row per stage with surviving docs and tokens — the
    // attrition report of a pre-training data run. Each gate is the
    // same computation its standalone query declares (d20/d21/d19);
    // the funnel joins three per-doc flag tables on doc_id and
    // unpivots the cumulative conjunctions via stack().
    Q("p10_curation_funnel",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // gopher flag (row-local, d20 semantics)
        val g = docs.withColumn("w", TF.words(col("text")))
          .select(col("doc_id"),
            size(col("w")).cast("long").as("n_words"),
            length(regexp_replace(col("text"), " ", ""))
              .cast("long").as("n_letters"),
            size(filter(col("w"), x => x.rlike("[a-zA-Z]")))
              .cast("long").as("n_alpha"),
            size(array_intersect(col("w"),
              typedLit(Seq("the", "a", "of", "and", "to"))))
              .cast("long").as("n_stop"),
            size(filter(col("w"), x =>
              x.contains("#") || x.contains("…")))
              .cast("long").as("n_symbol"))
          .select(col("doc_id"), col("n_words"),
            (col("n_words").between(50L, 100000L) &&
              (col("n_letters").cast("double") / col("n_words"))
                .between(3.0, 10.0) &&
              col("n_alpha").cast("double") / col("n_words") >= 0.8 &&
              col("n_stop") >= 2 &&
              col("n_symbol").cast("double") / col("n_words") <= 0.1)
              .cast("long").as("g"))
        // dsir flag (d21 semantics)
        val w = docs.select(col("doc_id"), col("lang"),
            explode(TF.wordHashes(col("text"))).as("wh"))
          .withColumn("b", col("wh") % lit(DsirBuckets.toLong))
        val raw = w.groupBy("b").agg(count(lit(1)).as("r"))
        val tgt = w.where(col("lang") === "en")
          .groupBy("b").agg(count(lit(1)).as("t"))
        val lut = raw.join(tgt, Seq("b"), "left")
          .na.fill(0L, Seq("t"))
          .select(col("b"),
            expr(s"(t + 1L) * ${Scale}L DIV (r + 1L)").as("ratio_micro"))
        val totals = raw.agg(sum("r").as("rt")).crossJoin(
          tgt.agg(sum("t").as("tt")))
          .select(expr(s"(tt + $DsirBuckets) * ${Scale}L DIV " +
            s"(rt + $DsirBuckets)").as("base_micro"))
        val i = w.join(broadcast(lut), "b")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("nw"), sum("ratio_micro").as("score"))
          .crossJoin(broadcast(totals))
          .select(col("doc_id"),
            (expr("score DIV nw") > col("base_micro"))
              .cast("long").as("i"))
        // duplicate-span flag (d19 semantics, integer threshold)
        val sh = docs.select(col("doc_id"),
          explode(TextQueries.shingleHashes).as("sh"))
        val df = sh.groupBy("sh").agg(countDistinct("doc_id").as("df"))
        val u = sh.join(df, "sh")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_sh"),
            sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
          .select(col("doc_id"),
            (col("n_dup") * 3 < col("n_sh") * 2).cast("long").as("u"))
        g.join(i, "doc_id").join(u, "doc_id")
          .select(col("n_words"), expr(
            "stack(4, '0_all', 1L, '1_gopher', g, " +
              "'2_dsir', g * i, '3_dup_span', g * i * u) AS (stage, alive)"))
          .where(col("alive") === 1L)
          .groupBy("stage")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_words").as("n_tokens"))
          .orderBy("stage")
      },
      Some(s"""WITH g AS (
           |  SELECT doc_id, n_words,
           |    CAST(n_words BETWEEN 50 AND 100000
           |      AND CAST(n_letters AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0
           |      AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
           |      AND n_stop >= 2
           |      AND CAST(n_symbol AS DOUBLE) / n_words <= 0.1
           |      AS BIGINT) AS g
           |  FROM (SELECT doc_id,
           |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           |      CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_letters,
           |      CAST(len(list_filter(string_split(text, ' '),
           |        x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
           |      CAST(len(list_filter(list_distinct(string_split(text, ' ')),
           |        x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) AS n_stop,
           |      CAST(len(list_filter(string_split(text, ' '),
           |        x -> contains(x, '#') OR contains(x, '…'))) AS BIGINT) AS n_symbol
           |    FROM documents)),
           |wd AS (
           |  SELECT doc_id, lang, wh % $DsirBuckets AS b
           |  FROM (SELECT doc_id, lang,
           |          unnest(${TF.wordHashesSql("text")}) AS wh
           |        FROM documents)),
           |raw AS (SELECT b, count(*) AS r FROM wd GROUP BY b),
           |tgt AS (SELECT b, count(*) AS t FROM wd WHERE lang = 'en' GROUP BY b),
           |lut AS (
           |  SELECT raw.b,
           |    CAST((coalesce(t, 0) + 1) * $Scale AS BIGINT)
           |      // CAST(r + 1 AS BIGINT) AS ratio_micro
           |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
           |base AS (
           |  SELECT CAST((SELECT CAST(sum(t) AS BIGINT) FROM tgt)
           |           + $DsirBuckets AS BIGINT) * $Scale
           |      // CAST((SELECT CAST(sum(r) AS BIGINT) FROM raw)
           |           + $DsirBuckets AS BIGINT) AS base_micro),
           |i AS (
           |  SELECT wd.doc_id,
           |    CAST(CAST(sum(ratio_micro) AS BIGINT) // count(*)
           |         > (SELECT base_micro FROM base) AS BIGINT) AS i
           |  FROM wd JOIN lut ON wd.b = lut.b
           |  GROUP BY wd.doc_id),
           |wh AS (SELECT doc_id, ${TF.wordHashesSql("text")} AS wh FROM documents),
           |sh0 AS (SELECT doc_id, ${TextQueries.shingleHashesSql} AS shs FROM wh),
           |sh AS (SELECT doc_id, unnest(shs) AS sh FROM sh0),
           |dfq AS (SELECT sh, count(DISTINCT doc_id) AS df FROM sh GROUP BY sh),
           |u AS (
           |  SELECT s.doc_id,
           |    CAST(CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 3
           |         < count(*) * 2 AS BIGINT) AS u
           |  FROM sh s JOIN dfq d ON s.sh = d.sh
           |  GROUP BY s.doc_id),
           |flags AS (
           |  SELECT g.n_words, g.g, i.i, u.u
           |  FROM g JOIN i ON g.doc_id = i.doc_id
           |         JOIN u ON g.doc_id = u.doc_id),
           |stages AS (
           |  SELECT '0_all' AS stage, 1 AS alive, n_words FROM flags
           |  UNION ALL
           |  SELECT '1_gopher', g, n_words FROM flags
           |  UNION ALL
           |  SELECT '2_dsir', g * i, n_words FROM flags
           |  UNION ALL
           |  SELECT '3_dup_span', g * i * u, n_words FROM flags)
           |SELECT stage,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_words) AS BIGINT) AS n_tokens
           |FROM stages WHERE alive = 1
           |GROUP BY stage ORDER BY stage""".stripMargin)),

    // R75 — runtime bloom-filter join pruning: orders is filtered to
    // one priority (selective, but at 100 TB too big to broadcast —
    // autoBroadcast is off to model that), so Spark injects a bloom
    // filter built from the filtered keys into the lineitem scan:
    // non-matching rows die at the scan, BEFORE the join shuffle.
    // Thresholds are opened up so the optimization fires at test
    // scale; the conf deltas are restored after the join materializes
    // under localCheckpoint (the e11 pattern), so no other query sees
    // them. Results are filter-invariant — the oracle is the plain
    // join.
    Q("r75_bloom_runtime_filter",
      (s, d) => {
        val confs = Seq(
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
            .join(
              Tables.orders(s, d)
                .where(col("o_orderpriority") === "1-URGENT")
                .select(col("o_orderkey"), col("o_orderpriority")),
              col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n_items"),
              sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
                .cast("double").as("revenue"))
            .withColumn("revenue", round(col("revenue"), 6))
            .orderBy("o_orderpriority")
            .localCheckpoint(true)
        } finally saved.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None)    => s.conf.unset(k)
        }
      },
      Some("""SELECT o_orderpriority,
          |  count(*) AS n_items,
          |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
          |    AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE o_orderpriority = '1-URGENT'
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)),

    // X21 — Z-order layout: interleave the low 16 bits of the two
    // rectangle-filter dimensions (user_id, event hour) into a Morton
    // key, range-repartition + sort the table on it, and answer a
    // two-dimensional rectangle query from the re-laid-out files. At
    // 100 TB every file then carries narrow parquet min/max ranges in
    // BOTH dimensions (Round6Spec measures the per-file spans), so
    // the scan prunes row groups on either predicate — one layout
    // serving two filter columns, where a single-column sort serves
    // only one. Results are layout-invariant; the oracle reads the
    // raw events table.
    Q("x21_zorder_layout",
      (s, d) => {
        val dir = graft.util.TempDirs.create("graft_x21_z").toString
        Round6bQueries.zorderWrite(s, d, dir)
        Round6bQueries.zorderRead(s, dir)
      },
      Some("""SELECT count(*) AS n_events,
          |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
          |    AS sum_value
          |FROM events
          |WHERE user_id BETWEEN 100 AND 199
          |  AND epoch_ns(ts) // 3600000000000 BETWEEN 473592 AND 473712""".stripMargin)),

    // E13 — binary quantization through the PERSISTED index: the same
    // BQ semantics as e12, but the coarse pass scans the QuantIndex's
    // stored `sig` column (written at build time next to sq8/pq — the
    // FAISS-style multi-tier layout), so candidate generation reads
    // 1/32 of the vector bytes and the exact re-rank runs under id
    // pushdown. Sign packing is parameterless, so unlike e8/e9 the
    // oracle is static — it recomputes sign bits from the raw table
    // and must land on the identical top-k.
    Q("e13_bitq_index",
      (s, d) => {
        val idx = QuantCache.forDir(s, d)
        val q = VectorQueries.qvec(s, d, 0L)
        val cand = idx.candidateIds(idx.coarse(graft.store.QuantTier.Bitq, q, 50))
        idx.exactDist(cand, q)
          .select(col("id").as("vec_id"), round(col("dist"), 6).as("dist"))
          .orderBy(col("dist"), col("vec_id")).limit(10)
      },
      Some(s"""WITH q AS (SELECT embedding AS qe FROM embeddings
           |  WHERE vec_id = 0),
           |h AS (
           |  SELECT e.vec_id,
           |    CAST(list_sum(list_transform(range(1, len(e.embedding) + 1),
           |      i -> CASE WHEN (e.embedding[i] > 0) <> (q.qe[i] > 0)
           |           THEN 1 ELSE 0 END)) AS INT) AS hamming
           |  FROM embeddings e CROSS JOIN q),
           |cand AS (SELECT vec_id, hamming FROM h
           |         ORDER BY hamming, vec_id LIMIT 50)
           |SELECT c.vec_id,
           |  round(${graft.functions.DuckSql.l2sq("e.embedding", "q.qe")}, 6)
           |    AS dist
           |FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
           |CROSS JOIN q
           |ORDER BY dist, c.vec_id LIMIT 10""".stripMargin))
  )

  /** Morton-interleave the low 16 bits of two long columns: bit i of
    * x lands at position 2i, bit i of y at 2i+1 — plain codegen'd
    * integer arithmetic (32 shift-and-mask terms, no UDF).
    */
  private[graft] def morton16(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Write events Z-ordered on (user_id, hour_bucket) to `dir`:
    * min-max scale each dimension to 8 bits (equal weight in the
    * interleave regardless of raw ranges — the step every Z-order
    * implementation performs), Morton-interleave, range-repartition
    * into 16 Morton ranges, sort within partitions.
    */
  private[graft] def zorderWrite(s: org.apache.spark.sql.SparkSession,
      d: String, dir: String): Unit = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr("ts div 3600000000000").as("hour_bucket"),
        col("value"))
    val b = ev.agg(min("user_id").as("ul"), max("user_id").as("uh"),
      min("hour_bucket").as("hl"), max("hour_bucket").as("hh")).head
    def scale8(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      (c - lit(lo)) * lit(255L) / lit(math.max(1L, hi - lo))
    ev.withColumn("z", morton16(
        scale8(col("user_id"), b.getLong(0), b.getLong(1)).cast("long"),
        scale8(col("hour_bucket"), b.getLong(2), b.getLong(3)).cast("long")))
      .repartitionByRange(16, col("z"))
      .sortWithinPartitions("z")
      .drop("z")
      .write.mode("overwrite").parquet(dir)
  }

  /** x21's rectangle query over an already Z-ordered directory —
    * exposed so Bench can time the layout's read-side payoff
    * separately from the one-time write cost.
    */
  private[graft] def zorderRead(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(dir)
      .where(col("user_id").between(100L, 199L) &&
        col("hour_bucket").between(473592L, 473712L))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(
          org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_value"))
      .select(col("n_events"),
        round(col("sum_value"), 6).as("sum_value"))
}
