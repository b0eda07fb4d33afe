package graft

import java.lang.Double.doubleToRawLongBits

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.lsh.LshConfig
import graft.store.{FileLog, IndexTable, MultiTableStore, QuantConfig,
  QuantIndex, QuantTier, SnapshotVacuumedException, VectorStore}

/** The kernel's one search rule on every layout, after every kind of
  * mutation: the executed search ([[IndexTable.topK]]) and the
  * DataFrame search both return what a brute-force oracle over the
  * model's own probe ranking returns — the same ids in the same order
  * with the same distance bits; and, under concurrent writers, only
  * committed snapshots.
  */
class TopKSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Dim = 8

  /** Seeded vectors for ids in [lo, hi); every 5th id repeats the
    * previous id's vector, so equal distances tie across ids.
    */
  private def vecs(lo: Long, hi: Long, seed: Long): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    var prev = Array.fill(Dim)(rnd.nextGaussian().toFloat)
    (lo until hi).map { id =>
      if (id % 5 != 0) prev = Array.fill(Dim)(rnd.nextGaussian().toFloat)
      (id, prev.clone())
    }
  }

  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame = {
    val sess = spark
    import sess.implicits._
    rows.toDF("id", "embedding")
  }

  private def asQuery(v: Array[Float]): Array[Double] = v.map(_.toDouble)

  /** Seeded queries: stored vectors (distance-0 ties) and fresh points. */
  private def queries(stored: Seq[(Long, Array[Float])], seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    stored.take(6).map(r => asQuery(r._2)) ++
      Seq.fill(6)(Array.fill(Dim)(rnd.nextGaussian()))
  }

  private def cellOf(r: Row, c: String): Int = r.getAs[Number](c).intValue()

  /** Which stored rows a depth-`depth` search may return, from the
    * layout's model alone (no kernel code): rows whose partition
    * columns lie in the model's own probe ranking (the LSH model's
    * `candidates` or `tableCandidates`, the IVF model's
    * `ivfNearestCells`); at `maxDepth`
    * every row, or table 0 (one full copy) on the ×L layout.
    */
  private def probed(t: IndexTable, q: Array[Double],
      depth: Int): Row => Boolean = {
    val all = depth >= t.maxDepth
    t match {
      case s: VectorStore =>
        val cells = s.model.candidates(q, depth).toSet
        r => all || cells(cellOf(r, "bucket"))
      case s: MultiTableStore =>
        val pairs = s.model.tableCandidates(q, depth).toSet
        r => if (all) cellOf(r, "table") == 0
          else pairs((cellOf(r, "table"), cellOf(r, "bucket")))
      case s: QuantIndex =>
        val cells = s.model.ivfNearestCells(q, depth).toSet
        r => all || cells(cellOf(r, "cell"))
    }
  }

  /** `topK` and `search(...).collect()` both equal an oracle outside
    * the kernel — the brute-force top-k over the live rows the model's
    * probe ranking selects ([[probed]]), one row per id — for seeded
    * (query, k, depth) draws, k in 1..120 plus one k beyond every row:
    * the same ids in the same order with the same distance bits.
    */
  private def agree(t: IndexTable, qs: Seq[Array[Double]], seed: Long,
      label: String): Unit = {
    val rnd = new scala.util.Random(seed)
    val draws = Seq.fill(8)((qs(rnd.nextInt(qs.size)), 1 + rnd.nextInt(120),
      1 + rnd.nextInt(t.maxDepth))) :+ ((qs.head, 100000, t.maxDepth))
    val stored = t.indexDf.collect()
    draws.foreach { case (q, k, depth) =>
      val keep = probed(t, q, depth)
      val want = brute(stored.filter(keep).map(r =>
        r.getAs[Long]("id") -> r.getAs[Seq[Float]]("embedding").toArray).toMap,
        q, k)
      val viaSearch = t.search(q, k, depth).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val viaTopK = t.topK(q, k, depth).toSeq
      Seq("search" -> viaSearch, "topK" -> viaTopK).foreach { case (how, got) =>
        val ctx = s"$label $how k=$k depth=$depth"
        assert(got.map(_._1) == want.map(_._1), ctx)
        assert(got.map(x => doubleToRawLongBits(x._2)) ==
          want.map(x => doubleToRawLongBits(x._2)), ctx)
      }
    }
  }

  /** Build, then add, delete, upsert, compact (and `extra`), checking
    * agreement after each; then a query of the wrong dimension, then an
    * empty index.
    */
  private def mutate(label: String, build: DataFrame => IndexTable,
      extra: IndexTable => IndexTable = identity,
      pin: IndexTable => Unit = _ => ()): Unit = {
    val base = vecs(0, 300, 1L)
    val qs = queries(base, 2L)
    var t = build(frame(base))
    def step(name: String)(op: => Unit): Unit = {
      op
      pin(t)
      agree(t, qs, name.hashCode.toLong, s"$label after $name")
    }
    step("build")(())
    step("add")(t.add(frame(vecs(300, 400, 3L))))
    step("delete")(t.delete((0L until 400L by 7).toSeq))
    step("upsert")(t.upsert(frame(
      vecs(1, 60, 4L).filter(_._1 % 7 != 0) ++ vecs(400, 420, 5L))))
    step("compact")(t.compact(targetRowsPerFile = 64, vacuumGraceMs = 0L))
    step("extra") { t = extra(t) }

    val wrong = Array.fill(Dim + 1)(0.5)
    val e1 = intercept[Exception](t.search(wrong, 5, t.maxDepth).collect())
    val e2 = intercept[Exception](t.topK(wrong, 5, t.maxDepth))
    Seq(e1, e2).foreach(e => assert(
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage)
          .contains("vector dimensions differ")), e))

    val live = t.indexDf.select("id").distinct().collect().map(_.getLong(0))
    t.delete(live.toSeq)
    pin(t)
    assert(t.topK(qs.head, 10, t.maxDepth).isEmpty)
    assert(t.search(qs.head, 10, t.maxDepth).collect().isEmpty)
    agree(t, qs, 9L, s"$label empty")
  }

  private def dir(name: String): String =
    graft.util.TempDirs.create(name).toString + "/index"

  test("topK equals search on the LSH layout") {
    val d = dir("topk_lsh")
    mutate("lsh", df => VectorStore.build(spark, df, d,
      LshConfig(numHashFunctions = 3, numHashTables = 5, dim = Dim, seed = 3L)))
  }

  test("topK equals search on the multi-table layout (dedup across tables)") {
    val d = dir("topk_multi")
    mutate("multi", df => MultiTableStore.build(spark, df, d,
      LshConfig(numHashFunctions = 2, numHashTables = 3, dim = Dim,
        seed = 3L, multiTable = true)))
  }

  private val quantCfg = QuantConfig(pqSubspaces = 4, ivfCells = 6,
    tiers = Set(QuantTier.Pq))

  test("topK equals search on the quant layout, including after retrain") {
    val d = dir("topk_quant")
    mutate("quant", df => QuantIndex.build(spark, df, d, quantCfg),
      extra = t => t.asInstanceOf[QuantIndex].retrain(vacuumGraceMs = 0L))
  }

  test("topK equals search on the resident quant copy") {
    val d = dir("topk_quant_resident")
    mutate("quant resident",
      df => QuantIndex.build(spark, df, d, quantCfg).cacheIndex(),
      extra = t => t.asInstanceOf[QuantIndex].retrain(vacuumGraceMs = 0L),
      // every commit drops the resident copy: pin it again
      pin = t => {
        val idx = t.asInstanceOf[QuantIndex]
        idx.cacheIndex()
        assert(idx.indexDf.queryExecution.optimizedPlan.toString
          .contains("InMemoryRelation"))
      })
  }

  // ------------------------------------------- snapshots under writes

  /** Exact top-k over a driver-side copy of the live vectors, in the
    * engine's fold order, ties by id.
    */
  private def brute(live: Map[Long, Array[Float]], q: Array[Double],
      k: Int): Seq[(Long, Double)] =
    live.toSeq.map { case (id, v) =>
      var acc = 0.0
      var j = 0
      while (j < v.length) { val d = v(j).toDouble - q(j); acc += d * d; j += 1 }
      (id, acc)
    }.sortBy(x => (x._2, x._1)).take(k)

  test("searches racing adds, deletes and compactions see whole snapshots; " +
      "a search after add sees its rows") {
    val d = dir("topk_race")
    val base = vecs(0, 400, 11L)
    val st = VectorStore.build(spark, frame(base), d,
      LshConfig(numHashFunctions = 3, numHashTables = 4, dim = Dim, seed = 5L))
    val q = queries(base, 12L).last
    // the writer's script and the answer after each of its commits
    val script: Seq[(String, Either[Seq[(Long, Array[Float])], Seq[Long]])] =
      Seq("add" -> Left(vecs(1000, 1040, 13L)),
        "delete" -> Right(base.map(_._1).filter(_ % 3 == 0)),
        "compact" -> Left(Nil),
        "add" -> Left(vecs(2000, 2040, 14L)),
        "delete" -> Right((1000L until 1040L by 2).toSeq),
        "compact" -> Left(Nil))
    val states = script.scanLeft(base.toMap) {
      case (live, ("add", Left(rows))) => live ++ rows
      case (live, ("delete", Right(ids))) => live -- ids
      case (live, _) => live
    }
    val answers = states.map(brute(_, q, 10))
    val committed = new java.util.concurrent.atomic.AtomicInteger(0)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val readers = (0 until 2).map { _ =>
        pool.submit(() => {
          val seen = Seq.newBuilder[(Int, Seq[(Long, Double)], Int)]
          while (!done.get()) {
            val lo = committed.get()
            val got = st.topK(q, 10, st.maxDepth).toSeq
            seen += ((lo, got, committed.get()))
          }
          seen.result()
        })
      }
      script.foreach {
        case ("add", Left(rows)) =>
          st.add(frame(rows))
          // issued after add returned: the new rows are visible
          val (id, v) = rows.head
          assert(st.topK(asQuery(v), 1, st.maxDepth).head == ((id, 0.0)))
          committed.incrementAndGet()
        case ("delete", Right(ids)) =>
          st.delete(ids); committed.incrementAndGet()
        case _ =>
          st.compact(targetRowsPerFile = 128); committed.incrementAndGet()
      }
      done.set(true)
      val seen = readers.flatMap(_.get())
      assert(seen.nonEmpty)
      seen.foreach { case (lo, got, hi) =>
        // the state at the call, or one committed while it ran
        val ok = (lo to math.min(hi + 1, states.size - 1))
          .exists(answers(_) == got)
        assert(ok, s"a search between commits $lo and $hi saw no committed state")
      }
      info(s"${seen.size} racing searches, each a committed state")
    } finally pool.shutdownNow()
  }

  test("the snapshot memo stays bounded over 20 commits; a vacuumed " +
      "snapshot surfaces as SnapshotVacuumedException") {
    val d = dir("topk_memo")
    val base = vecs(0, 200, 21L)
    val st = VectorStore.build(spark, frame(base), d,
      LshConfig(numHashFunctions = 3, numHashTables = 3, dim = Dim, seed = 5L))
    val q = asQuery(base.head._2)
    (0 until 20).foreach { i =>
      st.add(frame(vecs(1000 + i * 5, 1005 + i * 5, 30L + i)))
      assert(st.topK(q, 3, st.maxDepth).head._2 == 0.0)
    }
    assert(st.cachedSnapshots <= 8, st.cachedSnapshots)
    // a reader that resolved and planned its snapshot before a rewrite
    // and an ungraced vacuum removed the files
    st.topK(q, 3, st.maxDepth)
    // typed by the search itself, no `classified` wrapper
    val pinned = FileLog.read(d)
    st.compact(vacuumGraceMs = 0L)
    intercept[SnapshotVacuumedException](st.topKAt(pinned, q, 3, st.maxDepth))
  }
}
