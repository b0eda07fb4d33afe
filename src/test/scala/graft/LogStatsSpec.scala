package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.lsh.LshConfig
import graft.server.Json
import graft.sources.ManifestScan
import graft.store.{FileLog, IndexTable, MultiTableStore, QuantConfig,
  QuantIndex, VectorStore, ZoneRange}
import graft.util.FsIo

/** The log's per-file statistics policy: every commit records a row
  * count for each file it adds (and the layout's zones), so after any
  * sequence of mutations the log alone answers "how many rows", and
  * the mutation paths' row accounting reads the log, opening footers
  * only for files it has no count for.
  *
  * Seeded random sequences of small operations run against the three
  * index layouts and a manifest table; after every step each live file
  * has a logged count, the counts sum to a full `count()` (L × the
  * vectors on the multi-table layout), the zones equal a fresh footer
  * read, and every returned delete/upsert number equals a reference
  * model's. Default sizes run in the default suite; the larger sweep is
  * tagged `graft.Slow`.
  */
class LogStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Dim = 8

  /** Deterministic (id, embedding) rows for `ids`, shifted by `shift`
    * so an upsert can move an id to another partition.
    */
  private def rows(ids: Seq[Long], shift: Double = 0.0): DataFrame = {
    val sess = spark
    import sess.implicits._
    ids.toDF("id").repartition(3).select(col("id"),
      transform(sequence(lit(0), lit(Dim - 1)),
        j => (hash(col("id"), j).cast("double") / lit(2147483648.0) +
          lit(shift)).cast("float")).as("embedding"))
  }

  /** Change-feed window: `ups` as inserts, `dels` as deletes. */
  private def feed(ups: Seq[Long], dels: Seq[Long]): DataFrame = {
    val sess = spark
    import sess.implicits._
    rows(ups, 0.25).unionByName(dels.toDF("id").select(col("id"),
      lit(null).cast("array<float>").as("embedding")))
      .withColumn("_change_type",
        when(col("embedding").isNull, lit("delete")).otherwise(lit("insert")))
      .withColumn("_commit_version", lit(1L))
  }

  /** Every live file has a logged count, the counts sum to `expected`
    * stored rows (and to a full count), the logged zones equal a fresh
    * footer read of the live files, and the appended files are live.
    */
  private def checkLog(dir: String, df: DataFrame, zoneCols: Seq[String],
      expected: Long, step: String): Unit = {
    val st = FileLog.read(dir)
    assert(st.rows.keySet == st.files.toSet,
      s"$step: files without a logged count: " +
        st.files.filterNot(st.rows.contains).mkString(", "))
    val fresh = FileLog.footers(spark, st.files, zoneCols)
    assert(st.rows == fresh.rows, s"$step: logged counts differ from footers")
    assert(st.zones == fresh.zones, s"$step: logged zones differ from footers")
    assert(st.rows.values.sum == expected, s"$step: logged rows")
    assert(st.appended.subsetOf(st.files.toSet), s"$step: appended files not live")
    assert(df.count() == expected, s"$step: count()")
  }

  private def draw[T](g: Gen[T], seed: Seed): (T, Seed) = {
    val s = seed.next
    (g.pureApply(Gen.Parameters.default, s), s)
  }

  /** One seeded random mutation sequence on an index table, checked
    * after every step against the set of live ids.
    */
  private def indexSequence(layout: String, seed: Long, steps: Int): Unit = {
    val dir = graft.util.TempDirs.create(s"logstats_$layout").toString + "/index"
    var live = (0L until 300L).toSet
    val (t, dataDir, copies, zoneCols): (IndexTable, String, Int, Seq[String]) =
      layout match {
        case "lsh" => (VectorStore.build(spark, rows(live.toSeq), dir,
          LshConfig(dim = Dim, seed = 7L)), dir, 1, Nil)
        case "multi" => (MultiTableStore.build(spark, rows(live.toSeq), dir,
          LshConfig(numHashFunctions = 2, numHashTables = 3, dim = Dim,
            seed = 7L, multiTable = true)), dir, 3, Nil)
        case "quant" =>
          val q = QuantIndex.build(spark, rows(live.toSeq), dir,
            QuantConfig(ivfCells = 4))
          (q, q.dataDir, 1, Seq("id"))
      }
    def check(step: String): Unit =
      checkLog(dataDir, t.indexDf, zoneCols, copies * live.size.toLong,
        s"$layout seed $seed $step")
    check("build")
    var next = 1000L
    var rng = Seed(seed)
    val op = Gen.oneOf("add", "delete", "upsert", "applyChanges", "compact")
    (1 to steps).foreach { i =>
      val (name, s1) = draw(op, rng)
      val (n, s2) = draw(Gen.choose(1, 40), s1)
      val (picked, s3) = draw(Gen.pick(math.min(n, live.size), live.toSeq.sorted), s2)
      rng = s3
      val old = picked.toSeq
      val fresh = (next until next + n).toSeq
      name match {
        case "add" =>
          val before = FileLog.read(dataDir).files.toSet
          t.add(rows(fresh))
          val after = FileLog.read(dataDir)
          assert((after.files.toSet -- before).subsetOf(after.appended),
            s"$layout seed $seed step $i: an add's files are appended")
          live ++= fresh; next += n
        case "delete" => // plus ids that were never stored
          val removed = t.delete(old ++ Seq(-1L, -2L))
          assert(removed == old.size, s"$layout seed $seed step $i: delete count")
          live --= old
        case "upsert" =>
          t.upsert(rows(old, 0.5).unionByName(rows(fresh)))
          live ++= fresh; next += n
        case "applyChanges" =>
          val (ups, dels) = old.splitAt(old.size / 2)
          assert(t.applyChanges(feed(ups ++ fresh, dels)) ==
            ((ups.size + fresh.size).toLong, dels.size.toLong),
            s"$layout seed $seed step $i: applyChanges counts")
          live = live -- dels ++ fresh; next += n
        case "compact" =>
          t.compact(50L, vacuumGraceMs = 0L)
          assert(FileLog.read(dataDir).appended.isEmpty,
            s"$layout seed $seed step $i: compaction seals every file")
      }
      check(s"step $i ($name)")
    }
  }

  /** One seeded random mutation sequence on a manifest table, checked
    * after every step against the set of live keys.
    */
  private def manifestSequence(seed: Long, steps: Int): Unit = {
    val dir = graft.util.TempDirs.create("logstats_manifest").toString + "/tbl"
    val cols = Seq("id")
    var live = (0L until 300L).toSet
    var batch = 0L
    ManifestScan.appendBatch(spark, dir, rows(live.toSeq), cols, batch)
    def check(step: String): Unit =
      checkLog(dir, ManifestScan.readPrunedRanges(spark, dir, Map.empty)._1, cols,
        live.size.toLong, s"manifest seed $seed $step")
    check("seed")
    var next = 1000L
    var rng = Seed(seed)
    val op = Gen.oneOf("appendBatch", "delete", "upsert", "compact",
      "compactWhere")
    (1 to steps).foreach { i =>
      val (name, s1) = draw(op, rng)
      val (n, s2) = draw(Gen.choose(1, 40), s1)
      val (lo, s3) = draw(Gen.choose(0L, next), s2)
      rng = s3
      val fresh = (next until next + n).toSeq
      val range = ZoneRange.I64R(lo, lo + n)
      name match {
        case "appendBatch" =>
          batch += 1
          ManifestScan.appendBatch(spark, dir, rows(fresh), cols, batch)
          live ++= fresh; next += n
        case "delete" =>
          val hit = live.filter(id => id >= lo && id <= lo + n)
          assert(ManifestScan.delete(spark, dir, Map("id" -> range), cols) ==
            hit.size, s"manifest seed $seed step $i: delete count")
          live --= hit
        case "upsert" =>
          val old = live.filter(id => id >= lo && id <= lo + n).toSeq
          assert(ManifestScan.upsert(spark, dir,
            rows(old, 0.5).unionByName(rows(fresh)), "id", cols) ==
            (old.size.toLong, fresh.size.toLong),
            s"manifest seed $seed step $i: upsert counts")
          live ++= fresh; next += n
        case "compact" =>
          ManifestScan.compact(spark, dir, "id", 3, cols)
        case "compactWhere" =>
          ManifestScan.compactWhere(spark, dir, Map("id" -> range), "id", 2,
            cols)
      }
      check(s"step $i ($name)")
    }
  }

  Seq("lsh", "multi", "quant").foreach { layout =>
    test(s"every commit logs row counts and zones: $layout layout") {
      indexSequence(layout, seed = 11L, steps = 6)
    }
  }

  test("every commit logs row counts and zones: manifest table") {
    manifestSequence(seed = 11L, steps = 6)
  }

  test("log stats sweep: longer sequences on every layout",
      org.scalatest.Tag("graft.Slow")) {
    (21L to 24L).foreach { seed =>
      Seq("lsh", "multi", "quant").foreach(indexSequence(_, seed, steps = 15))
      manifestSequence(seed, steps = 15)
    }
  }

  /** Rewrite `dir`'s current snapshot as a new version record WITHOUT
    * row counts, by hand — the shape of a log written before every
    * commit recorded them.
    */
  private def stripCounts(dir: String): Unit = {
    val st = FileLog.read(dir)
    val v = st.version + 1
    val json = Json.write(ListMap("version" -> v.toLong,
      "schema" -> st.schemaDdl, "files" -> st.files.sorted.toVector))
    FsIo.writeString(s"$dir/_files.v$v.json", json)
    FsIo.writeString(FileLog.currentPath(dir), json)
    assert(FileLog.read(dir).rows.isEmpty)
  }

  test("row accounting reads the log, and footers for a log without counts") {
    val dir = graft.util.TempDirs.create("logstats_nocounts").toString
    val cfg = LshConfig(dim = Dim, seed = 7L)
    val ids = (0L until 400L)
    val withCounts = VectorStore.build(spark, rows(ids), s"$dir/a", cfg)
    val without = VectorStore.build(spark, rows(ids), s"$dir/b", cfg)
    stripCounts(s"$dir/b")
    val st = FileLog.read(s"$dir/b")
    val counts = FileLog.fileRows(spark, st, st.files)
    assert(counts == FileLog.footers(spark, st.files, Nil).rows)
    assert(counts.values.sum == 400L)
    // the same delete, upsert and compaction return the same numbers
    // on both; after the whole-table compaction every file of the
    // stripped log has a logged count again
    Seq(withCounts, without).foreach { s =>
      assert(s.delete((0L until 30L) ++ Seq(-5L)) == 30L)
      s.upsert(rows(30L until 60L, 0.5))
    }
    assert(withCounts.compact(40L, vacuumGraceMs = 0L) ==
      without.compact(40L, vacuumGraceMs = 0L))
    Seq(s"$dir/a", s"$dir/b").foreach { d =>
      val s = FileLog.read(d)
      assert(s.files.forall(s.rows.contains))
      assert(s.rows.values.sum == 370L)
    }
    // a manifest table whose log lost its counts still answers deletes
    // and upserts exactly
    val tbl = s"$dir/tbl"
    ManifestScan.appendBatch(spark, tbl, rows(ids), Seq("id"), 0L)
    stripCounts(tbl)
    assert(ManifestScan.delete(spark, tbl,
      Map("id" -> ZoneRange.I64R(0L, 49L)), Seq("id")) == 50L)
    assert(ManifestScan.upsert(spark, tbl,
      rows(40L until 80L, 0.5), "id", Seq("id")) == (30L, 10L))
  }
}
