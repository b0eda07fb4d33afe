package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}
import graft.lsh.LshConfig
import graft.store.{MultiTableStore, QuantConfig, QuantIndex, VectorStore}

/** 10M×64-D scale smoke — the r10 verdict's task #7: the 2M claims
  * re-proven at 5× the volume, across all three index layouts, with
  * every phase PRICED (build wall, audit wall, compact wall) so the
  * numbers exist to compare round over round.
  *
  *  - QuantIndex: build, two-stage byte crossover (coarse code scan
  *    reads ≪ the float column; IVF additionally partition-prunes),
  *    recall-audit cost (one corpus scan), and compact() healing a
  *    10-add fragmentation at ~10× the 2M file counts.
  *  - VectorStore: build, exact-vs-pruned search, measured recall
  *    curve cost at 10M.
  *  - MultiTableStore (L = 2 tables × 16 buckets — the ×L storage is
  *    the layout's defining cost, ×2 keeps the smoke inside the suite
  *    budget while exercising every mechanism): build, exact parity
  *    with the flat corpus, OR-probed search.
  *
  * `SPARK_GRAFT_TENM_N` overrides the corpus size for local iteration;
  * the default is the honest 10M.
  */
@Slow
class TenMillionSmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val N: Long =
    sys.env.get("SPARK_GRAFT_TENM_N").map(_.toLong).getOrElse(10000000L)
  private val Dim = 64

  /** Murmur3-uniform embeddings (MillionRowSmokeSpec's generator — no
    * periodic twins), float to match the production storage width.
    */
  private def gen(from: Long, until: Long) =
    spark.range(from, until).select(
      col("id"),
      transform(sequence(lit(0), lit(Dim - 1)),
        j => (hash(col("id"), j).cast("double") / lit(2147483648.0))
          .cast("float"))
        .as("embedding"))

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def qvec(id: Long): Array[Double] =
    gen(id, id + 1).head.getSeq[Float](1).map(_.toDouble).toArray

  test("QuantIndex at 10M: build, byte crossover, audit cost, compact") {
    val dir = graft.util.TempDirs.create("graft_10m_qi").toString
    // Tier-selective build (r20): this smoke searches ivf + ivfpq, so
    // it selects ONLY the pq tier — pricing exactly what it uses and
    // validating at 10M that an unselected tier costs nothing (the 1M
    // smoke keeps the full no-opq tier set for encode coverage). The
    // stats pass + 4 extra encode passes the old all-tiers build paid
    // here were dead weight for this test's assertions.
    val (idx, tBuild) = timed(
      QuantIndex.build(spark, gen(0, N), s"$dir/index",
        QuantConfig(tiers = Set(graft.store.QuantTier.Pq))))
    info(f"build: $tBuild%.1fs for $N%,d x $Dim-D")
    assert(idx.indexDf.count() == N)

    // crossover: warm median-of-3 wall for exact scan vs the pruned
    // two-stage tiers — at 10M the byte gap must materialize as time
    val q = qvec(123456L)
    def med3(body: => Unit): Double = {
      val ts = (0 until 3).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(1)
    }
    val tExact = med3 {
      idx.indexDf.select(col("id"),
          VF.l2sqLit(col("embedding"), q).as("dist"))
        .orderBy(col("dist"), col("id")).limit(10).collect()
    }
    val tIvf = med3(idx.search(q, 10, 2).collect())
    val tIvfpq = med3(idx.searchTwoStage(graft.store.QuantTier.Pq, q, 10, nprobe = 2).collect())
    info(f"wall: exact=$tExact%.2fs ivf(2/16)=$tIvf%.2fs ivfpq=$tIvfpq%.2fs")
    assert(tIvf < tExact,
      f"pruned IVF ($tIvf%.2fs) must beat the exact scan ($tExact%.2fs)")
    assert(tIvfpq < tExact,
      f"two-stage IVFPQ ($tIvfpq%.2fs) must beat the exact scan ($tExact%.2fs)")

    // recall-audit cost: the measured-curve machinery at 10M — one
    // corpus scan per call, priced
    val panel = (0L until 5L).map(i => qvec(i * 1000))
    val (recall, tAudit) = timed(idx.recallAtK(panel, k = 10, nprobe = 2))
    info(f"audit: recall@10(nprobe=2)=$recall%.2f in $tAudit%.1fs (5-query panel)")
    assert(recall > 0.2, f"2/16-cell recall implausibly low: $recall%.2f")

    // maintenance at 10x the 2M file counts: 10 adds fragment, compact
    // heals; zones survive (planning-time skip stays available)
    val files0 = VectorStore.countDataFiles(spark, s"$dir/index")
    (0 until 10).foreach { i =>
      idx.add(gen(N + i * 1000, N + (i + 1) * 1000))
    }
    val fragmented = VectorStore.countDataFiles(spark, s"$dir/index")
    assert(fragmented >= files0 + 10)
    val ((before, after), tCompact) =
      timed(idx.compact(targetRowsPerFile = 1 << 20, vacuumGraceMs = 0L))
    info(f"compact: $before%,d -> $after%,d files in $tCompact%.1fs " +
      s"(built $files0, fragmented $fragmented)")
    assert(after <= before)
    assert(idx.indexDf.count() == N + 10000)
    assert(graft.store.FileLog.read(s"$dir/index").zones.nonEmpty)
    // an added id is findable post-compact through the full probe path
    assert(idx.search(qvec(N), 1, idx.model.cfg.ivfCells)
      .head.getLong(0) == N)
  }

  test("VectorStore at 10M: build, pruned-vs-exact, measured curve cost") {
    val dir = graft.util.TempDirs.create("graft_10m_vs").toString
    val (store, tBuild) = timed(VectorStore.build(
      spark, gen(0, N), s"$dir/index", LshConfig(dim = Dim, seed = 42L)))
    info(f"build: $tBuild%.1fs for $N%,d x $Dim-D into 3 buckets")
    assert(store.indexDf.count() == N)

    val q = qvec(777L)
    val exact = store.search(q, 10, store.model.numBuckets)
      .collect().map(_.getLong(0)).toSeq
    val pruned = store.search(q, 10, 1).collect().map(_.getLong(0)).toSeq
    assert(exact.size == 10 && pruned.size == 10)
    // 1-probe candidates are a subset of the corpus: its top-10 can
    // only contain exact top-10 members or farther rows — never a
    // closer row the exact search missed (sanity of the pruning path)
    val exactSet = exact.toSet
    info(s"pruned∩exact@10 = ${pruned.count(exactSet.contains)}/10")

    val panel = (0L until 5L).map(i => qvec(i * 999))
    val (curve, tAudit) = timed(store.auditRecallCurve(panel, k = 10))
    info(f"curve: ${curve.map(c => f"$c%.2f").mkString(", ")} in $tAudit%.1fs")
    assert(curve.last > 0.999, "full-probe recall must be 1.0")
    assert(curve == curve.sorted, "measured curve must be monotone")
  }

  test("MultiTableStore at 10M x 2 tables: build, exact parity, OR-probe") {
    val dir = graft.util.TempDirs.create("graft_10m_mt").toString
    val cfg = LshConfig(numHashFunctions = 4, numHashTables = 2,
      dim = Dim, seed = 42L, multiTable = true)
    val (store, tBuild) = timed(
      MultiTableStore.build(spark, gen(0, N), s"$dir/index", cfg))
    info(f"build: $tBuild%.1fs for $N%,d x $Dim-D x ${cfg.numHashTables} tables")
    assert(store.indexDf.count() == N * cfg.numHashTables)

    val q = qvec(31337L)
    // exact over table 0 equals a flat exact scan of the corpus
    val flat = VectorStore.searchIn(
      gen(0, N).select(col("id"), col("embedding")), q, 10)
      .collect().map(_.getLong(0)).toSeq
    val viaMt = store.search(q, 10, store.maxDepth).collect().map(_.getLong(0)).toSeq
    assert(viaMt == flat, "table-0 exact must equal the flat corpus exact")

    val (hits, tProbe) = timed(
      store.search(q, 10, cfg.numHashTables).collect())
    info(f"2-probe OR-union search: ${hits.length} rows in $tProbe%.2fs")
    assert(hits.length == 10)
    assert(hits.map(_.getLong(0)).distinct.length == 10, "dup ids in OR-union")
  }
}
