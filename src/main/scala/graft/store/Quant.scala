package graft.store

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}

/** The selectable quantization tiers of a [[QuantIndex]]. Each
  * selected tier costs one encode pass over the corpus at build time
  * and one stored code column forever after — at 100 TB an unused
  * tier is a full corpus read plus real bytes per row, so builds
  * should select what they will search. The FAISS index-factory
  * composability the reference *claims* (`Readme.md:29-35`,
  * `config/shard_node.yaml:6`) but never built.
  *
  * IVF cell assignment is NOT a tier: `cell` is the index's partition
  * column and is always present (it is what makes probing partition
  * pruning).
  */
object QuantTier {
  /** 8-bit scalar quantization (column `sq8`). */
  val Sq8 = "sq8"
  /** 4-bit nibble-packed truncation of SQ8 (column `i4`; needs the
    * SQ8 STATS — selecting it alone still trains mins/scales — but
    * stores only the packed nibbles).
    */
  val Int4 = "i4"
  /** Product quantization (column `pq`). */
  val Pq = "pq"
  /** Residual PQ against the coarse cell (column `pqr` — the FAISS
    * IVFPQ encoding).
    */
  val Pqr = "pqr"
  /** 1-bit sign signatures (column `sig`; parameterless). */
  val Bitq = "bitq"
  /** Optimized PQ — trained rotation then PQ (column `opq`). */
  val Opq = "opq"

  val All: Set[String] = Set(Sq8, Int4, Pq, Pqr, Bitq, Opq)

  def validate(tiers: Set[String]): Unit = {
    val unknown = tiers -- All
    require(unknown.isEmpty,
      s"unknown quant tier(s): ${unknown.mkString(", ")} " +
        s"(known: ${All.toSeq.sorted.mkString(", ")})")
  }
}

/** Quantized-index configuration: PQ (product quantization, `m`
  * subspaces × `k` centroids), SQ8 (per-dimension scalar quantization to
  * 0–255), and IVF (coarse cells). Mirrors the FAISS index families the
  * reference *claims* (`Readme.md:29-35`, HNSW/quantization story) while
  * its code ships only FlatL2 (`shard/shard_node.py:46-48`) — here all
  * three tiers are real: models are trained ONCE at `VectorStore.build`,
  * codes are persisted as columns next to the vectors (FAISS
  * encode-at-add semantics, `shard/shard_node.py:88`), and search scans
  * codes only until the exact re-rank.
  *
  * `tiers` selects which code tiers to train, encode and store
  * ([[QuantTier]]); the default keeps all of them (the bench
  * protocol's shape). An unselected tier trains nothing, writes no
  * column, and its search methods refuse with a rebuild hint.
  */
final case class QuantConfig(
    pqSubspaces: Int = 8,
    pqCentroids: Int = 16,
    ivfCells: Int = 16,
    sampleCap: Int = 8192,
    seed: Long = 42L,
    tiers: Set[String] = QuantTier.All) {
  QuantTier.validate(tiers)

  /** Whether the OPQ tier is selected (legacy accessor). */
  def opq: Boolean = tiers(QuantTier.Opq)
}

/** Trained quantization models + the encode/search column expressions.
  *
  * All encode/ADC math is built from codegen'd Catalyst expressions
  * (`transform`/`zip_with`/`aggregate`/`element_at`) — no UDFs, fully
  * distributed, and with a fixed left-to-right fold so the DuckDB twin
  * (`list_reduce` left fold) is bit-identical.
  */
final class QuantModel(
    val cfg: QuantConfig,
    val dim: Int,
    val mins: Array[Double],
    val scales: Array[Double],
    val ivfCentroids: Array[Array[Double]],
    val pqBooks: Array[Array[Array[Double]]],
    val pqrBooks: Array[Array[Array[Double]]],
    val opqRot: Array[Array[Double]] = Array.empty,
    val opqBooks: Array[Array[Array[Double]]] = Array.empty) {

  require(dim % cfg.pqSubspaces == 0,
    s"dim $dim not divisible by pqSubspaces ${cfg.pqSubspaces}")
  val sub: Int = dim / cfg.pqSubspaces

  /** Whether the OPQ tier was trained (selected at train time). */
  def opqEnabled: Boolean = opqRot.nonEmpty

  /** Whether the SQ8 stats were trained (the sq8 OR i4 tier was
    * selected — i4 codes derive from the SQ8 grid).
    */
  def sq8Enabled: Boolean = mins.nonEmpty

  /** Whether the plain-PQ books were trained. */
  def pqEnabled: Boolean = pqBooks.nonEmpty

  /** Whether the residual-PQ books were trained. */
  def pqrEnabled: Boolean = pqrBooks.nonEmpty

  /** The one refusal for a tier the index was built without: it has
    * neither the trained model nor the `column` codes.
    */
  private def requireTier(on: Boolean, tier: String, column: String): Unit =
    require(on, s"the '$tier' tier (column '$column') was not selected " +
      "in QuantConfig.tiers at build time — rebuild the index with the " +
      "tier selected")

  // ------------------------------------------------- encode (build time)

  private def expOf(c: Column) =
    org.apache.spark.sql.graft.ColumnBridge.expression(c)
  private def colOf(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.graft.ColumnBridge.column(e)

  /** SQ8 codes 0–255: round((x - min_i) * 255/(max_i - min_i)).
    * Non-negative, so Spark HALF_UP, Java Math.round and DuckDB round()
    * agree; distances over codes are integer math — bit-identical on any
    * engine. Compiled kernel ([[graft.expressions.VecSq8Encode]]) —
    * the interpreted-HOF twin below is spec-pinned bit-identical; the
    * kernels cut the 10M-row index build ~fourfold (it was spending
    * its wall interpreting per-element lambdas).
    */
  def sq8Col(emb: Column): Column = {
    requireTier(sq8Enabled, "sq8/i4", "sq8/i4")
    colOf(graft.expressions.VecSq8Encode(expOf(emb), mins, scales))
  }

  /** Interpreted-HOF twin of [[sq8Col]] (the shipped form through
    * round 15), kept for the kernel-equivalence pin.
    */
  private[graft] def sq8ColHof(emb: Column): Column = {
    val mnsL = typedlit(mins.toSeq)
    val ssL = typedlit(scales.toSeq)
    transform(emb, (x, i) =>
      round((x.cast("double") - element_at(mnsL, i + 1)) *
        element_at(ssL, i + 1), 0).cast("int"))
  }

  /** Σ (a_i - b_i)², left fold from 0.0 (DuckDB twin: list_reduce). */
  private def sqd(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** IVF cell = argmin over the coarse centroids (0-based; ties go to
    * the lowest cell id — first-match rule). Compiled kernel.
    */
  def ivfCellCol(emb: Column): Column =
    colOf(graft.expressions.VecIvfCell(expOf(emb), ivfCentroids))

  /** Interpreted-HOF twin of [[ivfCellCol]], kept for the pin. */
  private[graft] def ivfCellColHof(emb: Column): Column = {
    val e = emb.cast("array<double>")
    val dists = transform(typedLit(ivfCentroids.map(_.toSeq).toSeq),
      c => VF.l2sq(e, c))
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** PQ codes: per subspace j, the 1-based index of the nearest codebook
    * centroid (1-based so ADC is a direct `element_at` into the LUT).
    * Compiled kernel — all subspace argmins fused into one loop.
    */
  def pqCol(emb: Column): Column = {
    requireTier(pqEnabled, "pq", "pq")
    colOf(graft.expressions.VecPqEncode(expOf(emb), pqBooks, sub))
  }

  /** RESIDUAL PQ codes (the FAISS IVFPQ convention): the vector minus
    * its assigned coarse centroid is what gets product-quantized, so
    * each codebook only has to cover a cell-sized neighborhood instead
    * of the whole corpus spread — tighter codes at identical bytes.
    * `cell` must be the [[ivfCellCol]] assignment of the same row.
    * Compiled kernel — the residual subtraction happens inside the
    * distance loop, no intermediate array.
    */
  def pqrCol(emb: Column, cell: Column): Column = {
    requireTier(pqrEnabled, "pqr", "pqr")
    colOf(graft.expressions.VecPqrEncode(expOf(emb),
      expOf(cell.cast("int")), pqrBooks, sub, ivfCentroids))
  }

  /** Rotated embedding R·x (codegen matvec kernel) — the OPQ space
    * every opq code lives in. R is orthogonal, so L2 distances are
    * preserved exactly (in real math) and an OPQ search ranks the
    * same metric as the plain tiers.
    */
  def opqRotateCol(emb: Column): Column = {
    requireTier(opqEnabled, "opq", "opq")
    colOf(graft.expressions.VecMatVec(expOf(emb), opqRot))
  }

  /** OPQ codes: PQ codes of the ROTATED vector (Ge et al. 2013; FAISS
    * `OPQMatrix` + PQ). The rotation is trained to make the subspaces
    * independent-ish, so the same M×k code budget loses less signal
    * than [[pqCol]] — the e15 audit prices exactly that gap.
    */
  def opqCol(emb: Column): Column = {
    requireTier(opqEnabled, "opq", "opq")
    colOf(graft.expressions.VecPqEncode(
      expOf(opqRotateCol(emb)), opqBooks, sub))
  }

  /** Inverse of [[opqCol]] IN THE ROTATED SPACE: the concatenation of
    * the coded centroids. (Reconstruction in the original space would
    * be Rᵀ·this; the e15 audit compares errors in the rotated space,
    * which is the same number in exact math — R is an isometry.)
    */
  def opqDecodeCol(codes: Column): Column =
    flatten(array((0 until cfg.pqSubspaces).map(j =>
      element_at(typedLit(opqBooks(j).map(_.toSeq).toSeq),
        element_at(codes, j + 1))): _*))

  /** Driver-side R·q — query prep for the OPQ ADC (ascending-i sums,
    * the same fold as the codegen kernel).
    */
  def opqRotate(q: Array[Double]): Array[Double] =
    Array.tabulate(dim) { r =>
      val row = opqRot(r)
      var acc = 0.0; var i = 0
      while (i < dim) { acc += row(i) * q(i); i += 1 }
      acc
    }

  /** OPQ asymmetric-distance LUT: the ROTATED query against the OPQ
    * books (distances in rotated space = distances in original space,
    * R orthogonal).
    */
  def opqLut(q: Array[Double]): Array[Array[Double]] =
    lutFor(opqRotate(q), opqBooks)

  /** Interpreted-HOF twins of [[pqCol]]/[[pqrCol]], kept for the pin. */
  private[graft] def pqColHof(emb: Column): Column =
    codesFor(emb.cast("array<double>"), pqBooks)

  private[graft] def pqrColHof(emb: Column, cell: Column): Column = {
    val cents = typedLit(ivfCentroids.map(_.toSeq).toSeq)
    val r = zip_with(emb.cast("array<double>"),
      element_at(cents, cell.cast("int") + 1), (x, c) => x - c)
    codesFor(r, pqrBooks)
  }

  private def codesFor(e: Column,
                       books: Array[Array[Array[Double]]]): Column = {
    val codes = (0 until cfg.pqSubspaces).map { j =>
      val dists = transform(typedLit(books(j).map(_.toSeq).toSeq),
        cent => sqd(slice(e, j * sub + 1, sub), cent))
      array_position(dists, array_min(dists)).cast("int")
    }
    array(codes: _*)
  }

  // ------------------------------------------------- decode (audit)

  /** Inverse of [[sq8Col]]: mn_i + code_i/scale_i (constant dims — a
    * zero scale — decode to their min). Used by the reconstruction-
    * error audit (e15).
    */
  def sq8DecodeCol(codes: Column): Column = {
    val mnsL = typedlit(mins.toSeq)
    val ssL = typedlit(scales.toSeq)
    transform(codes, (c, i) => {
      val mn = element_at(mnsL, i + 1)
      val sc = element_at(ssL, i + 1)
      when(sc === 0.0, mn).otherwise(mn + c.cast("double") / sc)
    })
  }

  /** INT4 reconstruction from the stored SQ8 codes: the `i4` column is
    * BY CONSTRUCTION the top nibble of each SQ8 code (VecNibblePack,
    * pinned in Round8Spec), so decoding `sq8 >> 4` audits exactly what
    * the int4 tier sees — the bucket [16·b, 16·b+15] decodes to its
    * midpoint mn + (16·b + 7.5)/scale (constant dims to their min).
    */
  def int4DecodeCol(sq8Codes: Column): Column = {
    val mnsL = typedlit(mins.toSeq)
    val ssL = typedlit(scales.toSeq)
    transform(sq8Codes, (c, i) => {
      val mn = element_at(mnsL, i + 1)
      val sc = element_at(ssL, i + 1)
      when(sc === 0.0, mn).otherwise(
        mn + (shiftright(c.cast("int"), 4).cast("double") * 16.0 + 7.5) / sc)
    })
  }

  /** Inverse of [[pqCol]]: the concatenation of each subspace's coded
    * centroid — the quantized approximation PQ search actually "sees".
    */
  def pqDecodeCol(codes: Column): Column =
    flatten(array((0 until cfg.pqSubspaces).map(j =>
      element_at(typedLit(pqBooks(j).map(_.toSeq).toSeq),
        element_at(codes, j + 1))): _*))

  /** Inverse of [[pqrCol]]: cell centroid + coded residual centroids. */
  def pqrDecodeCol(codes: Column, cell: Column): Column = {
    val cents = typedLit(ivfCentroids.map(_.toSeq).toSeq)
    zip_with(element_at(cents, cell.cast("int") + 1),
      flatten(array((0 until cfg.pqSubspaces).map(j =>
        element_at(typedLit(pqrBooks(j).map(_.toSeq).toSeq),
          element_at(codes, j + 1))): _*)),
      (c, r) => c + r)
  }

  // ---------------------------------------------- query prep (driver)

  /** SQ8-encode a query vector (same formula as [[sq8Col]]). */
  def sq8Encode(q: Array[Double]): Array[Long] = {
    requireTier(sq8Enabled, "sq8/i4", "sq8/i4")
    Array.tabulate(dim)(i => Math.round((q(i) - mins(i)) * scales(i)))
  }

  /** Asymmetric-distance lookup table: lut(j)(c) = ||q_j − centroid_jc||². */
  def pqLut(q: Array[Double]): Array[Array[Double]] = {
    requireTier(pqEnabled, "pq", "pq")
    lutFor(q, pqBooks)
  }

  /** Residual-ADC lookup table for one probed cell: the query's residual
    * against THAT cell's coarse centroid, against the residual books.
    * One nprobe-sized family of LUTs per query — still driver math.
    */
  def pqrLut(q: Array[Double], cell: Int): Array[Array[Double]] = {
    requireTier(pqrEnabled, "pqr", "pqr")
    lutFor(Array.tabulate(dim)(i => q(i) - ivfCentroids(cell)(i)), pqrBooks)
  }

  private def lutFor(q: Array[Double],
                     books: Array[Array[Array[Double]]]): Array[Array[Double]] =
    Array.tabulate(cfg.pqSubspaces) { j =>
      books(j).map { c =>
        var acc = 0.0; var i = 0
        while (i < sub) { val d = c(i) - q(j * sub + i); acc += d * d; i += 1 }
        acc
      }
    }

  /** The `nprobe` cells nearest the query, by (distance, cell id). */
  def ivfNearestCells(q: Array[Double], nprobe: Int): Seq[Int] =
    ivfCentroids.zipWithIndex
      .map { case (c, i) => (VF.l2sqS(c, q), i) }
      .sortBy(identity).take(math.max(1, nprobe)).map(_._2).toSeq

  // ------------------------------------------------- ADC (search time)

  /** The ADC tier table — the one definition of each tier's coarse
    * distance, which the two-stage search and the coarseN audit both
    * run ([[AdcTier]]). Integer tiers (sq8, i4: code distance; bitq:
    * Hamming over sign signatures) are engine-exact; the LUT tiers
    * (pq, opq: M lookups + adds per row into the query's M×K table)
    * read only the nibble-sized codes.
    */
  private[store] lazy val adcTiers: Map[String, AdcTier[_]] = {
    val lutSum = (codes: Column, lut: Column) =>
      (0 until cfg.pqSubspaces).map(j =>
        element_at(element_at(lut, j + 1), element_at(codes, j + 1)))
        .reduce(_ + _)
    def rows(lut: Array[Array[Double]]): Seq[Seq[Double]] =
      lut.map(_.toSeq).toSeq
    Seq(
      new AdcTier(QuantTier.Sq8, "sq8", q => sq8Encode(q).toSeq,
        (codes, qc) => aggregate(zip_with(codes, qc,
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)),
      new AdcTier(QuantTier.Int4, "i4",
        q => VF.nibblePackS(sq8Encode(q)).toSeq, VF.nibbleL2),
      new AdcTier(QuantTier.Pq, "pq", q => rows(pqLut(q)), lutSum),
      new AdcTier(QuantTier.Opq, "opq", q => rows(opqLut(q)), lutSum),
      new AdcTier(QuantTier.Bitq, "sig", q => VF.signPackS(q).toSeq,
        VF.hamming64)
    ).map(t => t.name -> t).toMap
  }

  /** The ADC tier `name`. Refuses pqr (its knob is the joint
    * (nprobe, coarseN) pair, and its LUT depends on the row's cell —
    * [[QuantIndex.coarseIvfPqResidual]]) and a tier this index was
    * built without.
    */
  private[graft] def adcTier(name: String): AdcTier[_] = {
    val t = adcTiers.getOrElse(name, throw new IllegalArgumentException(
      s"no ADC tier '$name' (ADC tiers: sq8, i4, pq, opq, bitq; pqr's " +
        "knob is the joint (nprobe, coarseN) pair — audit nprobe via " +
        "auditRecallCurve)"))
    requireTier(cfg.tiers(name), name, t.column)
    t
  }

  // ------------------------------------------------------- persistence

  private def arr(a: Array[Double]): String =
    a.map(d => f"$d%.17e").mkString("[", ",", "]")

  /** Persist next to the index (flat row-major arrays: trivially
    * re-parseable without a JSON library, exact via %.17e round-trip).
    */
  def save(path: String): Unit = {
    val json = s"""{"pqSubspaces":${cfg.pqSubspaces},"pqCentroids":${cfg.pqCentroids},""" +
      s""""ivfCells":${cfg.ivfCells},"sampleCap":${cfg.sampleCap},"seed":${cfg.seed},""" +
      s""""tiers":"${cfg.tiers.toSeq.sorted.mkString(",")}",""" +
      s""""dim":$dim,"mins":${arr(mins)},"scales":${arr(scales)},""" +
      s""""ivf_flat":${arr(ivfCentroids.flatten)},"books_flat":${arr(pqBooks.flatten.flatten)},""" +
      s""""booksr_flat":${arr(pqrBooks.flatten.flatten)},""" +
      s""""opq_rot_flat":${arr(opqRot.flatten)},""" +
      s""""opq_books_flat":${arr(opqBooks.flatten.flatten)}}"""
    // Atomic (tmp + rename): this file's existence marks a versioned
    // index snapshot COMPLETE (QuantIndex.currentDataDir), so it must
    // never be observable half-written.
    graft.util.FsIo.writeStringAtomic(path, json)
  }
}

object QuantModel {

  /** Deterministic parallel tabulate: each slot is computed
    * independently (possibly concurrently) and written to its own
    * index, so the result is BIT-IDENTICAL to the sequential
    * `Array.tabulate` for any pure `f` — the only thing that changes
    * is wall-clock. This is how the trainer uses the driver's cores
    * without perturbing a single float: every floating-point
    * ACCUMULATION below stays in its original sequential order; only
    * independent per-slot computations fan out.
    */
  private[graft] def parTabulate[T: scala.reflect.ClassTag](n: Int)(
      f: Int => T): Array[T] = {
    val out = new Array[T](n)
    if (n > 0) {
      import scala.collection.parallel.CollectionConverters._
      (0 until n).toArray.par.foreach(i => out(i) = f(i))
    }
    out
  }

  /** Train all three models from the index input.
    *
    *  - SQ8 min/max: exact, one distributed aggregation pass;
    *  - IVF coarse centroids: the embeddings of the `ivfCells` smallest
    *    ids — deterministic and SQL-expressible (a k-means-trained
    *    variant exists as `p4_kmeans_ivf`; this keeps the hash oracle);
    *  - PQ codebooks: seeded k-means++/Lloyd's on a bounded ~sampleCap
    *    driver sample (every step-th id) — the FAISS convention: PQ
    *    *training* is in-memory over a capped sample regardless of corpus
    *    size, while encode and search stay fully distributed.
    *
    * The driver math (k-means families, OPQ alternation) runs the
    * independent pieces CONCURRENTLY — subspace books are independent
    * fits, opq/pq/(ivf→pqr) are independent chains — with bit-identical
    * results (QuantTrainEquivalenceSpec pins new == the sequential
    * reference): the bounded-sample training convention is fine at
    * 100 TB, but it has no business being single-threaded on a 32-core
    * driver (guide §1.2 step 2: per-task work, after the passes are
    * right).
    */
  def train(df: DataFrame, cfg: QuantConfig,
            idCol: String = "id", embCol: String = "embedding"): QuantModel = {
    import QuantTier._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // JIT/class-init warmup hidden behind the Spark jobs below: the
    // first OPQ iteration otherwise pays breeze's SVD class/BLAS-probe
    // init and the k-means loops' compilation inside the timed train
    // phase (measured ~2 s cold on a 32-core driver). Synthetic data,
    // result discarded — cannot touch the trained model.
    val warm = Future {
      val rnd = new scala.util.Random(7L)
      val pts = Array.fill(256)(Array.fill(8)(rnd.nextDouble()))
      fitSub(pts, 4, 1L)
      val m = breeze.linalg.DenseMatrix.tabulate(8, 8)((i, j) =>
        if (i == j) 1.0 else 0.1)
      val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(m)
      u * vt
    }
    val dim = df.select(size(col(embCol))).head.getInt(0)
    // SQ8 min/max stats: one distributed pass, needed by the sq8 AND
    // i4 tiers (i4 codes are the SQ8 grid's top nibbles). Unselected
    // tiers skip the pass entirely — at corpus scale it is a full
    // column read. (The 129-expression single-agg variant was measured
    // SLOWER cold — 2.2 vs 1.7 s of mostly codegen — so the explode +
    // map-side-combining groupBy stays; its shuffle is 64 rows per
    // partition regardless of corpus size.)
    val (mins, scales) =
      if (!cfg.tiers(Sq8) && !cfg.tiers(Int4))
        (Array.empty[Double], Array.empty[Double])
      else {
        val st = df.select(posexplode(col(embCol)).as(Seq("i", "x")))
          .groupBy("i")
          .agg(min(col("x").cast("double")).as("mn"),
            max(col("x").cast("double")).as("mx"))
          .orderBy("i").collect()
        require(st.length == dim,
          s"ragged embedding column: ${st.length} dims vs $dim")
        (st.map(_.getDouble(1)),
          st.map { r =>
            val (mn, mx) = (r.getDouble(1), r.getDouble(2))
            if (mx > mn) 255.0 / (mx - mn) else 0.0
          })
      }
    val slim = df.select(col(idCol).cast("long").as("id"),
      col(embCol).cast("array<double>").as("e"))
    val n = slim.count()
    val step = math.max(1L, n / cfg.sampleCap)
    // The (id, e) sample sorts on the DRIVER (≤ sampleCap rows): same
    // rows, same order as the old distributed orderBy, minus a
    // range-exchange job over the corpus.
    val sampleRows = slim.where(pmod(col("id"), lit(step)) === 0)
      .collect().sortBy(_.getLong(0))
    // The driver-side sortBy(id) equals the old distributed
    // orderBy("id") ONLY when sample ids are unique — duplicate ids
    // would reorder ties and silently change the trained model vs the
    // pinned sequential reference (ADVICE r15). Enforce the invariant.
    require(sampleRows.iterator.map(_.getLong(0)).toSet.size == sampleRows.length,
      "quant training sample carries duplicate ids — the bit-identity " +
        "contract requires unique ids (dedup the corpus id column)")
    val sample = sampleRows.map(_.getSeq[Double](1).toArray)
    // Join the JIT warmup; its result is DISCARDED by design, so a
    // warmup failure (e.g. BLAS/SVD init on an exotic JVM) must never
    // fail train() itself (ADVICE r15).
    scala.util.Try(Await.result(warm, Duration.Inf))
    val sub = dim / cfg.pqSubspaces
    // Coarse centroids are TRAINED (k-means on the bounded driver
    // sample — the FAISS convention, same as the PQ books) so IVF
    // cells are real Voronoi regions and residuals against them are
    // small; the trained centroids are injected into the DuckDB
    // oracles as literals, like the books. Always trained: `cell` is
    // the partition column regardless of tier selection. pqr depends
    // on ivf (residuals), so they form one chain; pq books and the
    // OPQ alternation are independent of it and of each other.
    val fIvfPqr = Future {
      val ivf = fitSub(sample, cfg.ivfCells, cfg.seed + 2000)
      val booksR =
        if (!cfg.tiers(Pqr)) Array.empty[Array[Array[Double]]]
        else {
          // Residual books train on (vector − nearest coarse centroid)
          // over the same sample; ties go to the lowest cell id,
          // matching ivfCellCol's array_position-first-match rule.
          val resSample = parTabulate(sample.length) { si =>
            val p = sample(si)
            val c = ivf.minBy(cc => graft.functions.VectorFunctions.l2sqS(cc, p))
            Array.tabulate(dim)(i => p(i) - c(i))
          }
          parTabulate(cfg.pqSubspaces)(j =>
            fitSub(resSample.map(_.slice(j * sub, (j + 1) * sub)),
              cfg.pqCentroids, cfg.seed + 1000 + j))
        }
      (ivf, booksR)
    }
    val fPq = Future {
      if (!cfg.tiers(Pq)) Array.empty[Array[Array[Double]]]
      else parTabulate(cfg.pqSubspaces)(j =>
        fitSub(sample.map(_.slice(j * sub, (j + 1) * sub)),
          cfg.pqCentroids, cfg.seed + j))
    }
    val fOpq = Future {
      if (cfg.tiers(Opq)) trainOpq(sample, cfg, dim)
      else (Array.empty[Array[Double]], Array.empty[Array[Array[Double]]])
    }
    val (ivf, booksR) = Await.result(fIvfPqr, Duration.Inf)
    val books = Await.result(fPq, Duration.Inf)
    val (rot, booksO) = Await.result(fOpq, Duration.Inf)
    new QuantModel(cfg, dim, mins, scales, ivf, books, booksR, rot, booksO)
  }

  /** OPQ training (Ge et al., CVPR 2013, the non-parametric variant
    * FAISS ships as `OPQMatrix`): alternate (a) fit PQ books on the
    * rotated sample, (b) re-solve the rotation as the orthogonal
    * Procrustes problem R = argmin ‖R·X − Y‖_F (Y = the quantized
    * rotated sample), whose closed form is U·Vᵀ from the SVD of
    * B = Y·Xᵀ. Iteration 0 uses the SAME k-means seeds as the plain
    * PQ books over the identity rotation — i.e. it IS plain PQ — and
    * the best (rot, books) by sample MSE across iterations is kept,
    * so sample-MSE(opq) ≤ sample-MSE(pq) by construction, never a
    * regression. Driver math over the bounded training sample, like
    * every other quantizer here; SVD via breeze (on Spark's own
    * classpath).
    */
  private[graft] def trainOpq(sample: Array[Array[Double]],
      cfg: QuantConfig, dim: Int)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val sub = dim / cfg.pqSubspaces
    def matVec(m: Array[Array[Double]], x: Array[Double]): Array[Double] =
      Array.tabulate(dim) { r =>
        var acc = 0.0; var i = 0
        while (i < dim) { acc += m(r)(i) * x(i); i += 1 }
        acc
      }
    // quantized approximation of one rotated point under `books`
    def reconstruct(books: Array[Array[Array[Double]]],
        xr: Array[Double]): Array[Double] = {
      val y = new Array[Double](dim)
      var j = 0
      while (j < cfg.pqSubspaces) {
        val book = books(j); val base = j * sub
        var best = 0; var bd = Double.PositiveInfinity; var c = 0
        while (c < book.length) {
          var acc = 0.0; var i = 0
          while (i < sub) {
            val d = xr(base + i) - book(c)(i); acc += d * d; i += 1
          }
          if (acc < bd) { bd = acc; best = c }
          c += 1
        }
        System.arraycopy(book(best), 0, y, base, sub)
        j += 1
      }
      y
    }
    var rot = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var bestRot = rot
    var bestBooks: Array[Array[Array[Double]]] = null
    var bestMse = Double.PositiveInfinity
    for (it <- 0 until 6) {
      // per-sample rotate/reconstruct/error are independent slots
      // (parTabulate: parallel, bit-identical); the MSE SUM stays a
      // sequential left fold in sample order, exactly as before, so
      // the best-iteration tie-break can never flip.
      val xr = parTabulate(sample.length)(si => matVec(rot, sample(si)))
      // iteration 0 (rot = I) reuses the plain-PQ seeds, so its books
      // ARE pqBooks and the best-tracking floor is exactly plain PQ
      val books = parTabulate(cfg.pqSubspaces)(j =>
        fitSub(xr.map(_.slice(j * sub, (j + 1) * sub)),
          cfg.pqCentroids, cfg.seed + j))
      val ys = parTabulate(sample.length)(si => reconstruct(books, xr(si)))
      val errs = parTabulate(sample.length) { si =>
        val x = xr(si); val y = ys(si)
        var acc = 0.0; var i = 0
        while (i < dim) { val d = x(i) - y(i); acc += d * d; i += 1 }
        acc
      }
      var errSum = 0.0
      var ei = 0
      while (ei < errs.length) { errSum += errs(ei); ei += 1 }
      val mse = errSum / sample.length
      if (mse < bestMse) { bestMse = mse; bestRot = rot; bestBooks = books }
      if (it < 5) {
        // Procrustes: B = Y·Xᵀ over the ORIGINAL sample, R = U·Vᵀ.
        // Parallel over ROWS of B: each cell (i, jj) still accumulates
        // over samples in sample order — per-cell FP order unchanged.
        val rows = parTabulate(dim) { i =>
          val row = new Array[Double](dim)
          var si = 0
          while (si < sample.length) {
            val x = sample(si); val yi = ys(si)(i)
            var jj = 0
            while (jj < dim) { row(jj) += yi * x(jj); jj += 1 }
            si += 1
          }
          row
        }
        val b = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
        var ri = 0
        while (ri < dim) {
          var jj = 0
          while (jj < dim) { b(ri, jj) = rows(ri)(jj); jj += 1 }
          ri += 1
        }
        val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(b)
        val r = u * vt
        rot = Array.tabulate(dim, dim)((i, j) => r(i, j))
      }
    }
    (bestRot, bestBooks)
  }

  /** Seeded k-means++ init + 10 Lloyd iterations over driver-side points
    * (an emptied cluster keeps its center). Deterministic for a given
    * (data, seed) and BIT-IDENTICAL to the sequential reference
    * (QuantTrainEquivalenceSpec): the k-means++ d² array updates
    * incrementally (min against only the NEW center — the same min the
    * full rescan computed, O(k·n·d) instead of O(k²·n·d)); Lloyd's
    * nearest-center assignment fans out per point (independent slots),
    * while the per-center coordinate SUMS accumulate sequentially in
    * point order, exactly as before.
    */
  private[graft] def fitSub(pts: Array[Array[Double]], k: Int,
                            seed: Long): Array[Array[Double]] = {
    require(pts.nonEmpty, "PQ training sample is empty")
    val rnd = new scala.util.Random(seed)
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    val centers = scala.collection.mutable.ArrayBuffer(
      pts(rnd.nextInt(pts.length)).clone())
    // d2(i) = min over current centers of sq(pts(i), c) — maintained
    // incrementally: after each new center only min(prev, dist-to-new)
    // per point, the identical value the per-round full rescan built.
    val d2 = parTabulate(pts.length)(i => sq(pts(i), centers(0)))
    while (centers.size < k) {
      var tot = 0.0
      var ti = 0
      while (ti < pts.length) { tot += d2(ti); ti += 1 }
      if (tot <= 0) centers += pts(rnd.nextInt(pts.length)).clone()
      else {
        var r = rnd.nextDouble() * tot; var i = 0
        while (i < pts.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
        centers += pts(i).clone()
      }
      val cNew = centers.last
      val upd = parTabulate(pts.length)(i => math.min(d2(i), sq(pts(i), cNew)))
      System.arraycopy(upd, 0, d2, 0, d2.length)
    }
    for (_ <- 0 until 10) {
      // nearest-center assignment: independent per point (strict-<
      // scan from c = 0, so ties keep going to the lowest center id)
      val best = parTabulate(pts.length) { pi =>
        val p = pts(pi)
        var b = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) {
          val dd = sq(p, centers(c))
          if (dd < bd) { bd = dd; b = c }; c += 1
        }
        b
      }
      val sums = Array.fill(k)(new Array[Double](pts(0).length))
      val counts = new Array[Long](k)
      var pi = 0
      while (pi < pts.length) {
        val p = pts(pi); val b = best(pi)
        counts(b) += 1
        var i = 0
        while (i < p.length) { sums(b)(i) += p(i); i += 1 }
        pi += 1
      }
      (0 until k).foreach { c =>
        if (counts(c) > 0) centers(c) = sums(c).map(_ / counts(c))
      }
    }
    centers.toArray
  }

  def load(path: String): QuantModel = {
    val s = graft.util.FsIo.readString(path)
    def field(key: String): String = {
      require(s.contains("\"" + key + "\":"),
        s"$path lacks '$key' — index built by an older graft version; " +
          "rebuild it with QuantIndex.build")
      val i = s.indexOf("\"" + key + "\":") + key.length + 3
      val end =
        if (s.charAt(i) == '[') s.indexOf(']', i) + 1
        else s.indexWhere(c => c == ',' || c == '}', i)
      s.substring(i, end)
    }
    def nums(key: String): Array[Double] = {
      val body = field(key).stripPrefix("[").stripSuffix("]").trim
      if (body.isEmpty) Array.empty
      else body.split(",").map(_.trim.toDouble)
    }
    // OPQ fields are absent from pre-r19 model files and empty when
    // trained without the tier — both load as a model without it
    def optNums(key: String): Array[Double] =
      if (s.contains("\"" + key + "\":")) nums(key) else Array.empty
    val opqTrained = optNums("opq_rot_flat").nonEmpty
    // `tiers` is absent from pre-r20 model files: those always
    // trained/encoded every tier (opq from r19, by its arrays).
    // Parsed directly, not via field() — the quoted value contains
    // commas, field()'s terminator.
    val tiers =
      if (s.contains("\"tiers\":\"")) {
        val i = s.indexOf("\"tiers\":\"") + 9
        s.substring(i, s.indexOf('"', i))
          .split(",").map(_.trim).filter(_.nonEmpty).toSet
      }
      else if (opqTrained) QuantTier.All
      else QuantTier.All - QuantTier.Opq
    val cfg = QuantConfig(
      field("pqSubspaces").trim.toInt, field("pqCentroids").trim.toInt,
      field("ivfCells").trim.toInt, field("sampleCap").trim.toInt,
      field("seed").trim.toLong, tiers = tiers)
    val dim = field("dim").trim.toInt
    val sub = dim / cfg.pqSubspaces
    val ivf = nums("ivf_flat").grouped(dim).toArray
    val books = nums("books_flat").grouped(sub).toArray
      .grouped(cfg.pqCentroids).toArray
    val booksR = nums("booksr_flat").grouped(sub).toArray
      .grouped(cfg.pqCentroids).toArray
    val rot = optNums("opq_rot_flat").grouped(dim).toArray
    val booksO = optNums("opq_books_flat").grouped(sub).toArray
      .grouped(cfg.pqCentroids).toArray
    new QuantModel(cfg, dim, nums("mins"), nums("scales"), ivf, books,
      booksR, rot, booksO)
  }

  def exists(path: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(path))
}

/** One ADC tier of a [[QuantIndex]]: its stored code column, the
  * query's `payload` (driver math over the trained model: encoded
  * codes, a sign signature, or an M×K lookup table) and the per-row
  * coarse `distance` of the codes to that payload. The two-stage search
  * folds the payload in as a literal ([[distanceTo]]); the coarseN
  * audit broadcasts one payload per panel query as a column
  * ([[panelFrame]]). Both call the one `distance`, so the audit prices
  * exactly the candidate sets the search computes.
  */
private[graft] final class AdcTier[P: TypeTag](val name: String,
    val column: String, payload: Array[Double] => P,
    distance: (Column, Column) => Column) {

  /** The coarse distance of each row's codes to `q`. */
  def distanceTo(q: Array[Double]): Column =
    distance(col(column), typedLit(payload(q)))

  /** One (qid, qe, payload) row per panel query, with the coarse
    * distance of each row's codes to its query's payload column.
    */
  def panelFrame(spark: SparkSession,
      panel: Seq[Array[Double]]): (DataFrame, Column) = {
    import spark.implicits._
    (panel.zipWithIndex.map { case (q, i) => (i.toLong, q.toSeq, payload(q)) }
      .toDF("qid", "qe", "payload"), distance(col(column), col("payload")))
  }
}
