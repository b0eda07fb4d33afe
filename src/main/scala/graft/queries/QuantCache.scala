package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables
import graft.store.{QuantConfig, QuantIndex, QuantModel}
import graft.functions.DuckSql

/** Per-(session, scale-factor) cache of the built [[QuantIndex]] over
  * the `embeddings` table, so e3/e6/e8 share one encode-once build —
  * the index semantics the queries exercise: build cost is paid once
  * (like `index_build` in the bench protocol), searches scan stored
  * codes. Also publishes the PQ oracle SQL for the dir most recently
  * built, with the trained codebooks injected as literals (the same
  * trick v5 uses for the LSH matrix).
  */
object QuantCache {

  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, QuantIndex]

  // Oracle SQL keyed by the same appId|dir key as the index cache, so
  // builds over two sf dirs in one process never serve each other's
  // trained literals.
  private val oracles =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, String]]

  /** Late-bound DuckDB twin for `name`, trained-literal-injected; empty
    * until a build has run in this process, and empty again (rows-only
    * fallback — never a wrong oracle) if more than one dir was built.
    */
  def lateOracle(name: String): () => Option[String] =
    () => oracles.values.toSeq match {
      case Seq(one) => one.get(name)
      case _        => None
    }

  def forDir(spark: SparkSession, dir: String): QuantIndex = {
    val key = spark.sparkContext.applicationId + "|" + dir
    cache.getOrElseUpdate(key, {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id").cast("long").as("id"), col("embedding"))
      val path = graft.util.TempDirs.create("graft_quant").toString + "/index"
      val idx = QuantIndex.build(spark, emb, path, QuantConfig())
      oracles.put(key, Map(
        "e3_ivf_search" -> ivfSql(idx.model),
        "e8_pq_search" -> pqSql(idx.model, pruned = false),
        "e9_ivfpq_search" -> pqSql(idx.model, pruned = true),
        "e10_batch_pq_knn" -> batchPqSql(idx.model),
        "e14_ivfpq_residual" -> pqrSql(idx.model),
        "e15_quant_error" -> quantErrSql(idx.model),
        "e18_ivf_recall_audit" -> ivfRecallSql(idx.model),
        "e24_opq_search" -> opqSql(idx.model)))
      idx
    })
  }

  // ----------------------------------------------------- oracle twin

  private def dlit(d: Double): String = f"$d%.17e"

  /** `cl(cid, ce)` CTE body with the TRAINED coarse centroids injected
    * as literals (cid = 0-based centroid index, matching the Spark
    * cell ids exactly).
    */
  private def clCte(m: QuantModel): String = {
    val cents = m.ivfCentroids.map(c => c.map(dlit).mkString("[", ", ", "]"))
      .mkString("[", ",\n    ", "]")
    s"""cl AS (SELECT CAST(i - 1 AS BIGINT) AS cid, cv[i] AS ce
       |  FROM (SELECT $cents AS cv), range(1, ${m.cfg.ivfCells + 1}) t(i))"""
      .stripMargin
  }

  /** DuckDB twin of the IVF search (e3): assign every vector to its
    * nearest TRAINED centroid (injected literals), probe the 2 cells
    * nearest the query, exact top-10 within them.
    */
  private[queries] def ivfSql(m: QuantModel): String =
    s"""WITH ${clCte(m)},
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |asg AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, cl.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${DuckSql.l2sq("e.embedding", "cl.ce")}, cl.cid) AS rn
       |    FROM embeddings e CROSS JOIN cl)
       |  WHERE rn = 1),
       |qc AS (
       |  SELECT cid FROM (
       |    SELECT cl.cid,
       |           row_number() OVER (ORDER BY ${DuckSql.l2sq("cl.ce", "q.qe")}, cl.cid) AS rn
       |    FROM cl, q)
       |  WHERE rn <= 2)
       |SELECT vec_id, round(dd, 6) AS dist FROM (
       |  SELECT a.vec_id AS vec_id, ${DuckSql.l2sq("a.embedding", "q.qe")} AS dd
       |  FROM asg a, q WHERE a.cid IN (SELECT cid FROM qc))
       |ORDER BY dd, vec_id LIMIT 10""".stripMargin

  /** DuckDB twin of the [[graft.store.QuantIndex]] `search` at an
    * arbitrary depth `nprobe` (exact within the `nprobe` nearest IVF
    * cells), the chosen depth echoed as a column — e19's
    * recall-targeted replay: injected LATE, after the measured curve
    * picks nprobe, so the curve-driven choice itself is hash-checked
    * (a wrong choice probes different cells and the rows diverge).
    */
  private[queries] def ivfSqlAtNprobe(m: QuantModel, nprobe: Int): String =
    s"""WITH ${clCte(m)},
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |asg AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, cl.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${DuckSql.l2sq("e.embedding", "cl.ce")}, cl.cid) AS rn
       |    FROM embeddings e CROSS JOIN cl)
       |  WHERE rn = 1),
       |qc AS (
       |  SELECT cid FROM (
       |    SELECT cl.cid,
       |           row_number() OVER (ORDER BY ${DuckSql.l2sq("cl.ce", "q.qe")}, cl.cid) AS rn
       |    FROM cl, q)
       |  WHERE rn <= $nprobe)
       |SELECT vec_id, round(dd, 6) AS dist, CAST($nprobe AS INT) AS nprobe FROM (
       |  SELECT a.vec_id AS vec_id, ${DuckSql.l2sq("a.embedding", "q.qe")} AS dd
       |  FROM asg a, q WHERE a.cid IN (SELECT cid FROM qc))
       |ORDER BY dd, vec_id LIMIT 10""".stripMargin

  /** DuckDB twin of the IVF recall audit (e18): for the 10-query
    * panel, exact top-10 over the whole corpus vs exact top-10 within
    * the single probed (nearest-centroid) cell, recall = overlap/10 —
    * cell assignment and query→cell routing recomputed in SQL from
    * the injected trained centroids, so the MEASURED recall value
    * itself is hash-checked (the m8 treatment applied to the IVF
    * tier).
    */
  private[queries] def ivfRecallSql(m: QuantModel): String =
    s"""WITH ${clCte(m)},
       |q AS (SELECT vec_id AS qid, embedding AS qe
       |      FROM embeddings WHERE vec_id < 10),
       |asg AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, cl.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${DuckSql.l2sq("e.embedding", "cl.ce")}, cl.cid) AS rn
       |    FROM embeddings e CROSS JOIN cl)
       |  WHERE rn = 1),
       |qc AS (
       |  SELECT qid, cid AS qcell FROM (
       |    SELECT q.qid, cl.cid,
       |           row_number() OVER (PARTITION BY q.qid
       |             ORDER BY ${DuckSql.l2sq("cl.ce", "q.qe")}, cl.cid) AS rn
       |    FROM cl, q)
       |  WHERE rn = 1),
       |sc AS (
       |  SELECT q.qid, a.vec_id, a.cid,
       |         ${DuckSql.l2sq("a.embedding", "q.qe")} AS dd
       |  FROM asg a, q),
       |ex AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |           row_number() OVER (PARTITION BY qid ORDER BY dd, vec_id) AS rn
       |    FROM sc)
       |  WHERE rn <= 10),
       |pr AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT sc.qid, sc.vec_id,
       |           row_number() OVER (PARTITION BY sc.qid
       |             ORDER BY sc.dd, sc.vec_id) AS rn
       |    FROM sc JOIN qc ON sc.qid = qc.qid AND sc.cid = qc.qcell)
       |  WHERE rn <= 10)
       |SELECT ex.qid, CAST(qc.qcell AS INT) AS probed_cell,
       |  round(CAST(count(p.vec_id) AS DOUBLE) / 10, 6) AS recall_at10
       |FROM ex
       |LEFT JOIN pr p ON ex.qid = p.qid AND ex.vec_id = p.vec_id
       |JOIN qc ON qc.qid = ex.qid
       |GROUP BY ex.qid, qc.qcell ORDER BY ex.qid""".stripMargin

  /** DuckDB SQL replicating the PQ pipeline bit-for-bit: encode each
    * row against the INJECTED codebook literals (exact %.17e double
    * round-trip), build the query's LUT in SQL from the same literals,
    * ADC = Σ_j lut[j][code_j] with the same left-to-right fold, coarse
    * top-100 by (adc, vec_id), exact re-rank to top-10 by rounded
    * distance. Mirrors the Spark plan in EmbeddingQueries e8; with
    * `pruned`, the coarse pass is additionally restricted to the 2 IVF
    * cells nearest the query (the e9 IVFPQ twin; cell assignment is
    * recomputed in SQL exactly like e3's oracle).
    */
  private[queries] def pqSql(m: QuantModel, pruned: Boolean): String = {
    val M = m.cfg.pqSubspaces
    val sub = m.sub
    val books = m.pqBooks.map(book =>
      book.map(c => c.map(dlit).mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")).mkString("[", ",\n    ", "]")
    // Σ_i (x[(j-1)*sub+i] - cent[i])², the per-subspace distance of a
    // list column `e` to one codebook centroid `cent` (both doubles).
    def subDist(e: String): String =
      s"list_sum(list_transform(range(1, ${sub + 1}), i -> " +
        s"(CAST(($e)[(j-1)*$sub+i] AS DOUBLE) - cent[i]) * " +
        s"(CAST(($e)[(j-1)*$sub+i] AS DOUBLE) - cent[i])))"
    val adcTerms = (1 to M).map(j => s"lt[$j][c[$j]]").mkString(" + ")
    val ivfCtes = if (!pruned) "" else
      s"""${clCte(m)},
         |asg AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, cl.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${DuckSql.l2sq("e.embedding", "cl.ce")}, cl.cid) AS rn
         |    FROM embeddings e CROSS JOIN cl)
         |  WHERE rn = 1),
         |qc AS (
         |  SELECT cid FROM (
         |    SELECT cl.cid,
         |      row_number() OVER (ORDER BY ${DuckSql.l2sq("cl.ce", "q.qe")}, cl.cid) AS rn
         |    FROM cl, q)
         |  WHERE rn <= 2),
         |""".stripMargin
    val candFilter = if (!pruned) "" else
      """
        |  JOIN asg ON codes.vec_id = asg.vec_id
        |    AND asg.cid IN (SELECT cid FROM qc)""".stripMargin
    s"""WITH bk AS (SELECT $books AS b),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |${ivfCtes}lut AS (
       |  SELECT list_transform(range(1, ${M + 1}), j ->
       |    list_transform(b[j], cent -> ${subDist("qe")})) AS lt
       |  FROM q, bk),
       |codes AS (
       |  SELECT vec_id, list_transform(dl, dj ->
       |    list_position(dj, list_min(dj))) AS c
       |  FROM (
       |    SELECT vec_id, list_transform(range(1, ${M + 1}), j ->
       |      list_transform(b[j], cent -> ${subDist("embedding")})) AS dl
       |    FROM embeddings, bk)),
       |cand AS (
       |  SELECT codes.vec_id AS vec_id, $adcTerms AS adc
       |  FROM codes$candFilter, lut
       |  ORDER BY adc, vec_id LIMIT 100)
       |SELECT e.vec_id, round(${DuckSql.l2sq("e.embedding", "q.qe")}, 6) AS dist
       |FROM cand JOIN embeddings e ON cand.vec_id = e.vec_id, q
       |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin
  }

  /** `rt(r)` CTE body with the TRAINED OPQ rotation injected as a
    * list-of-rows literal.
    */
  private def rotCte(m: QuantModel): String = {
    val rows = m.opqRot.map(r => r.map(dlit).mkString("[", ", ", "]"))
      .mkString("[", ",\n    ", "]")
    s"rt AS (SELECT $rows AS r)"
  }

  /** R·x as a SQL list expression — ascending-i inner sums, the exact
    * fold of the [[graft.expressions.VecMatVec]] kernel, so rotated
    * doubles are bit-identical across engines.
    */
  private def rotExpr(e: String, dim: Int): String =
    s"list_transform(range(1, ${dim + 1}), rr -> " +
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> " +
      s"r[rr][i] * CAST(($e)[i] AS DOUBLE))))"

  /** DuckDB twin of the opq tier's
    * [[graft.store.QuantIndex.searchTwoStage]] at an arbitrary measured
    * re-rank budget, the chosen coarseN echoed as
    * a column — e25's recall-targeted replay (the e19/v21 pattern on
    * the coarseN axis): injected LATE, after the measured curve picks
    * the budget, so the curve-driven choice itself is hash-checked (a
    * wrong budget admits a different candidate set and the rows
    * diverge).
    */
  private[queries] def opqSqlAt(m: QuantModel, coarseN: Int): String =
    opqSql(m, coarseN, echoN = true)

  /** DuckDB twin of the OPQ search (e24): rotate every embedding AND
    * the query by the injected trained rotation, encode against the
    * injected OPQ books, ADC with the rotated query's LUT, coarse
    * top-`coarseN`, exact re-rank on the ORIGINAL embeddings (R is
    * orthogonal — the re-ranked metric is the same). The entire
    * rotate→encode→ADC pipeline is replayed in SQL, so the trained
    * rotation itself is hash-checked.
    */
  private[queries] def opqSql(m: QuantModel, coarseN: Int = 100,
      echoN: Boolean = false): String = {
    val M = m.cfg.pqSubspaces
    val sub = m.sub
    val dim = m.dim
    val books = m.opqBooks.map(book =>
      book.map(c => c.map(dlit).mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")).mkString("[", ",\n    ", "]")
    def subDist(e: String): String =
      s"list_sum(list_transform(range(1, ${sub + 1}), i -> " +
        s"(CAST(($e)[(j-1)*$sub+i] AS DOUBLE) - cent[i]) * " +
        s"(CAST(($e)[(j-1)*$sub+i] AS DOUBLE) - cent[i])))"
    val adcTerms = (1 to M).map(j => s"lt[$j][c[$j]]").mkString(" + ")
    s"""WITH bk AS (SELECT $books AS b),
       |${rotCte(m)},
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |rq AS (SELECT ${rotExpr("q.qe", dim)} AS qe FROM q, rt),
       |re AS (SELECT e.vec_id, ${rotExpr("e.embedding", dim)} AS emb
       |       FROM embeddings e, rt),
       |lut AS (
       |  SELECT list_transform(range(1, ${M + 1}), j ->
       |    list_transform(b[j], cent -> ${subDist("qe")})) AS lt
       |  FROM rq, bk),
       |codes AS (
       |  SELECT vec_id, list_transform(dl, dj ->
       |    list_position(dj, list_min(dj))) AS c
       |  FROM (
       |    SELECT vec_id, list_transform(range(1, ${M + 1}), j ->
       |      list_transform(b[j], cent -> ${subDist("emb")})) AS dl
       |    FROM re, bk)),
       |cand AS (
       |  SELECT codes.vec_id AS vec_id, $adcTerms AS adc
       |  FROM codes, lut
       |  ORDER BY adc, vec_id LIMIT $coarseN)
       |SELECT e.vec_id, round(${DuckSql.l2sq("e.embedding", "q.qe")}, 6) AS dist${
        if (echoN) s", CAST($coarseN AS INT) AS coarse_n" else ""}
       |FROM cand JOIN embeddings e ON cand.vec_id = e.vec_id, q
       |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin
  }

  /** DuckDB twin of the exact-kNN fallback of
    * [[graft.store.QuantIndex.searchAdcAtRecall]] (no measured point
    * met the target): plain exact top-10, coarse_n echoed as −1.
    */
  private[queries] def exactFallbackSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id,
       |  round(${DuckSql.l2sq("e.embedding", "q.qe")}, 6) AS dist,
       |  CAST(-1 AS INT) AS coarse_n
       |FROM embeddings e, q
       |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin

  /** DuckDB twin of the RESIDUAL IVFPQ search (e14): cell assignment
    * and the 2 probed cells recomputed in SQL exactly like e9's; each
    * vector's RESIDUAL against its own cell centroid is encoded with
    * the injected residual books; each probed cell gets its own LUT
    * from the query's residual against THAT centroid; ADC joins a
    * row's codes to its cell's LUT. Coarse top-100 by (adc, vec_id),
    * exact re-rank to top-10 — all bit-identical to the Spark plan.
    */
  private[queries] def pqrSql(m: QuantModel): String = {
    val M = m.cfg.pqSubspaces
    val sub = m.sub
    val dim = m.dim
    val books = m.pqrBooks.map(book =>
      book.map(c => c.map(dlit).mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")).mkString("[", ",\n    ", "]")
    // per-subspace distance of the double residual list `r` to one
    // residual-codebook centroid `cent` (j is the subspace index in
    // scope at the call site)
    val subDist =
      s"list_sum(list_transform(range(1, ${sub + 1}), i -> " +
        s"(r[(j-1)*$sub+i] - cent[i]) * (r[(j-1)*$sub+i] - cent[i])))"
    val adcTerms = (1 to M).map(j => s"lut.lt[$j][codes.c[$j]]").mkString(" + ")
    s"""WITH bk AS (SELECT $books AS b),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |${clCte(m)},
       |asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, cl.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${DuckSql.l2sq("e.embedding", "cl.ce")}, cl.cid) AS rn
       |    FROM embeddings e CROSS JOIN cl)
       |  WHERE rn = 1),
       |qc AS (
       |  SELECT cid FROM (
       |    SELECT cl.cid,
       |      row_number() OVER (ORDER BY ${DuckSql.l2sq("cl.ce", "q.qe")}, cl.cid) AS rn
       |    FROM cl, q)
       |  WHERE rn <= 2),
       |res AS (
       |  SELECT e.vec_id, a.cid, list_transform(range(1, ${dim + 1}), i ->
       |    CAST(e.embedding[i] AS DOUBLE) - CAST(cl.ce[i] AS DOUBLE)) AS r
       |  FROM embeddings e
       |  JOIN asg a ON e.vec_id = a.vec_id
       |  JOIN cl ON cl.cid = a.cid
       |  WHERE a.cid IN (SELECT cid FROM qc)),
       |codes AS (
       |  SELECT vec_id, cid, list_transform(dl, dj ->
       |    list_position(dj, list_min(dj))) AS c
       |  FROM (
       |    SELECT vec_id, cid, list_transform(range(1, ${M + 1}), j ->
       |      list_transform(b[j], cent -> $subDist)) AS dl
       |    FROM res, bk)),
       |qres AS (
       |  SELECT qc.cid, list_transform(range(1, ${dim + 1}), i ->
       |    CAST(q.qe[i] AS DOUBLE) - CAST(cl.ce[i] AS DOUBLE)) AS r
       |  FROM qc JOIN cl ON cl.cid = qc.cid, q),
       |lut AS (
       |  SELECT cid, list_transform(range(1, ${M + 1}), j ->
       |    list_transform(b[j], cent -> $subDist)) AS lt
       |  FROM qres, bk),
       |cand AS (
       |  SELECT codes.vec_id AS vec_id, $adcTerms AS adc
       |  FROM codes JOIN lut ON codes.cid = lut.cid
       |  ORDER BY adc, vec_id LIMIT 100)
       |SELECT e.vec_id, round(${DuckSql.l2sq("e.embedding", "q.qe")}, 6) AS dist
       |FROM cand JOIN embeddings e ON cand.vec_id = e.vec_id, q
       |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin
  }

  /** DuckDB twin of the reconstruction-error audit (e15): re-encode
    * every vector against the injected models exactly as the build
    * does (SQ8 round, PQ/RPQ argmin, IVF cell assignment), decode, and
    * report the per-tier mean squared error per dimension in integer
    * nano-units — sum of per-row floor'd Longs // n, so the mean is
    * engine-exact.
    */
  private[queries] def quantErrSql(m: QuantModel): String = {
    val M = m.cfg.pqSubspaces
    val sub = m.sub
    val dim = m.dim
    def booksLit(bs: Array[Array[Array[Double]]]): String =
      bs.map(book => book.map(c => c.map(dlit).mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")).mkString("[", ",\n    ", "]")
    val mins = m.mins.map(dlit).mkString("[", ", ", "]")
    val scales = m.scales.map(dlit).mkString("[", ", ", "]")
    def subDist(e: String): String =
      s"list_sum(list_transform(range(1, ${sub + 1}), i -> " +
        s"(CAST(($e)[(j-1)*$sub+i] AS DOUBLE) - cent[i]) * " +
        s"(CAST(($e)[(j-1)*$sub+i] AS DOUBLE) - cent[i])))"
    val subDistR =
      s"list_sum(list_transform(range(1, ${sub + 1}), i -> " +
        s"(r[(j-1)*$sub+i] - cent[i]) * (r[(j-1)*$sub+i] - cent[i])))"
    // floor(l2sq(emb, dec)/dim * 1e9) as BIGINT for one decoded list
    def errU(dec: String): String =
      s"CAST(floor(${DuckSql.l2sq("e.embedding", dec)} / $dim " +
        s"* 1000000000) AS BIGINT)"
    // OPQ CTEs + union arm only when the tier was trained (r13 ADVICE
    // #2: opqRot/opqBooks literals are empty otherwise and the SQL
    // would not parse) — the Spark side gates its stack identically.
    val opqCtes = if (!m.opqEnabled) "" else
      s""",
         |${rotCte(m)},
         |bko AS (SELECT ${booksLit(m.opqBooks)} AS b),
         |re AS (
         |  SELECT e.vec_id, ${rotExpr("e.embedding", dim)} AS emb
         |  FROM embeddings e, rt),
         |opqc AS (
         |  SELECT vec_id, list_transform(dl, dj ->
         |    list_position(dj, list_min(dj))) AS c
         |  FROM (
         |    SELECT vec_id, list_transform(range(1, ${M + 1}), j ->
         |      list_transform(b[j], cent -> ${subDist("emb")})) AS dl
         |    FROM re, bko)),
         |opqd AS (
         |  SELECT opqc.vec_id,
         |    flatten(list_transform(range(1, ${M + 1}), j -> b[j][c[j]])) AS dec
         |  FROM opqc, bko)""".stripMargin
    val opqArm = if (!m.opqEnabled) "" else
      s"""
         |  UNION ALL
         |  -- opq error lives in the ROTATED space (an isometry of the
         |  -- original — same number in exact math): rotated emb vs the
         |  -- coded centroids
         |  SELECT 'opq', CAST(floor(${DuckSql.l2sq("re.emb", "p.dec")}
         |    / $dim * 1000000000) AS BIGINT)
         |  FROM re JOIN opqd p ON re.vec_id = p.vec_id""".stripMargin
    s"""WITH bk AS (SELECT ${booksLit(m.pqBooks)} AS b),
       |bkr AS (SELECT ${booksLit(m.pqrBooks)} AS b),
       |mn AS (SELECT $mins AS m, $scales AS sc),
       |sq8d AS (
       |  SELECT e.vec_id, list_transform(range(1, ${dim + 1}), i ->
       |    CASE WHEN sc[i] = 0 THEN m[i]
       |         ELSE m[i] + round((CAST(e.embedding[i] AS DOUBLE) - m[i])
       |                           * sc[i], 0) / sc[i] END) AS dec
       |  FROM embeddings e, mn),
       |i4d AS (
       |  SELECT e.vec_id, list_transform(range(1, ${dim + 1}), i ->
       |    CASE WHEN sc[i] = 0 THEN m[i]
       |         ELSE m[i] +
       |           ((CAST(round((CAST(e.embedding[i] AS DOUBLE) - m[i])
       |                        * sc[i], 0) AS BIGINT) // 16) * 16 + 7.5)
       |           / sc[i] END) AS dec
       |  FROM embeddings e, mn),
       |pqc AS (
       |  SELECT vec_id, list_transform(dl, dj ->
       |    list_position(dj, list_min(dj))) AS c
       |  FROM (
       |    SELECT vec_id, list_transform(range(1, ${M + 1}), j ->
       |      list_transform(b[j], cent -> ${subDist("embedding")})) AS dl
       |    FROM embeddings, bk)),
       |pqd AS (
       |  SELECT pqc.vec_id,
       |    flatten(list_transform(range(1, ${M + 1}), j -> b[j][c[j]])) AS dec
       |  FROM pqc, bk),
       |${clCte(m)},
       |asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, cl.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${DuckSql.l2sq("e.embedding", "cl.ce")}, cl.cid) AS rn
       |    FROM embeddings e CROSS JOIN cl)
       |  WHERE rn = 1),
       |res AS (
       |  SELECT e.vec_id, a.cid, list_transform(range(1, ${dim + 1}), i ->
       |    CAST(e.embedding[i] AS DOUBLE) - CAST(cl.ce[i] AS DOUBLE)) AS r
       |  FROM embeddings e
       |  JOIN asg a ON e.vec_id = a.vec_id
       |  JOIN cl ON cl.cid = a.cid),
       |pqrc AS (
       |  SELECT vec_id, cid, list_transform(dl, dj ->
       |    list_position(dj, list_min(dj))) AS c
       |  FROM (
       |    SELECT vec_id, cid, list_transform(range(1, ${M + 1}), j ->
       |      list_transform(b[j], cent -> $subDistR)) AS dl
       |    FROM res, bkr)),
       |pqrd AS (
       |  SELECT pqrc.vec_id, list_transform(range(1, ${dim + 1}), i ->
       |    CAST(cl.ce[i] AS DOUBLE) +
       |    flatten(list_transform(range(1, ${M + 1}), j -> b[j][c[j]]))[i])
       |    AS dec
       |  FROM pqrc JOIN cl ON cl.cid = pqrc.cid, bkr)$opqCtes
       |SELECT tier, CAST(sum(eu) // count(*) AS BIGINT) AS mean_err_u
       |FROM (
       |  SELECT 'sq8' AS tier, ${errU("s.dec")} AS eu
       |  FROM embeddings e JOIN sq8d s ON e.vec_id = s.vec_id
       |  UNION ALL
       |  SELECT 'i4', ${errU("s.dec")}
       |  FROM embeddings e JOIN i4d s ON e.vec_id = s.vec_id
       |  UNION ALL
       |  SELECT 'pq', ${errU("p.dec")}
       |  FROM embeddings e JOIN pqd p ON e.vec_id = p.vec_id
       |  UNION ALL
       |  SELECT 'pqr', ${errU("p.dec")}
       |  FROM embeddings e JOIN pqrd p ON e.vec_id = p.vec_id$opqArm)
       |GROUP BY tier ORDER BY tier""".stripMargin
  }

  /** DuckDB twin of the BATCHED PQ search (e10): 5 query vectors, a
    * per-query LUT from the injected codebooks, ADC over every
    * (query, vector) pair excluding self, coarse top-20 per query by
    * (adc, vec_id), exact re-rank to top-5 per query.
    */
  private[queries] def batchPqSql(m: QuantModel): String = {
    val M = m.cfg.pqSubspaces
    val sub = m.sub
    val books = m.pqBooks.map(book =>
      book.map(c => c.map(dlit).mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")).mkString("[", ",\n    ", "]")
    def subDist(e: String): String =
      s"list_sum(list_transform(range(1, ${sub + 1}), i -> " +
        s"(CAST(($e)[(j-1)*$sub+i] AS DOUBLE) - cent[i]) * " +
        s"(CAST(($e)[(j-1)*$sub+i] AS DOUBLE) - cent[i])))"
    val adcTerms = (1 to M).map(j => s"l.lt[$j][c.c[$j]]").mkString(" + ")
    s"""WITH bk AS (SELECT $books AS b),
       |qs AS (SELECT vec_id AS query_id, embedding AS qe
       |       FROM embeddings WHERE vec_id < 5),
       |luts AS (
       |  SELECT query_id, list_transform(range(1, ${M + 1}), j ->
       |    list_transform(b[j], cent -> ${subDist("qe")})) AS lt
       |  FROM qs, bk),
       |codes AS (
       |  SELECT vec_id, list_transform(dl, dj ->
       |    list_position(dj, list_min(dj))) AS c
       |  FROM (
       |    SELECT vec_id, list_transform(range(1, ${M + 1}), j ->
       |      list_transform(b[j], cent -> ${subDist("embedding")})) AS dl
       |    FROM embeddings, bk)),
       |coarse AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT l.query_id, c.vec_id,
       |      row_number() OVER (PARTITION BY l.query_id
       |        ORDER BY $adcTerms, c.vec_id) AS rn
       |    FROM codes c, luts l WHERE c.vec_id <> l.query_id)
       |  WHERE rn <= 20),
       |rer AS (
       |  SELECT co.query_id, e.vec_id,
       |    ${DuckSql.l2sq("e.embedding", "qs.qe")} AS d
       |  FROM coarse co
       |  JOIN embeddings e ON co.vec_id = e.vec_id
       |  JOIN qs ON co.query_id = qs.query_id)
       |SELECT query_id, rank, vec_id, round(d, 6) AS dist FROM (
       |  SELECT query_id, vec_id, d,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY d, vec_id) AS INT) AS rank
       |  FROM rer)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }
}
