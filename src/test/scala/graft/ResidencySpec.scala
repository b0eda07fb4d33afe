package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lsh.LshConfig
import graft.server.Json
import graft.store.{FileLog, PreparedScan, QuantConfig, QuantIndex,
  VectorStore}
import graft.util.FsIo

/** Resident vector blocks: the sealed files of a table (a build's, a
  * rewrite's, a compaction's — not an `add`'s) are decoded once, by the
  * first search that probes them, into Spark's block manager; later
  * searches read the blocks, and a file loses its block when the table
  * retires it.
  */
class ResidencySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Dim = 16

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id"),
      transform(sequence(lit(0), lit(Dim - 1)),
        j => (hash(col("id"), j).cast("double") / lit(2147483648.0))
          .cast("float")).as("embedding"))

  private def vec(i: Long): Array[Double] =
    rows(i, i + 1).head.getSeq[Float](1).map(_.toDouble).toArray

  private def decoded(body: => Any): Long = {
    val d0 = PreparedScan.decoded.get()
    body
    PreparedScan.decoded.get() - d0
  }

  /** Files whose blocks Spark's block manager holds under `dir`. */
  private def cachedUnder(dir: String): Set[String] = {
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.getRDDStorageInfo.map(_.name)
      .filter(_.contains(dir)).toSet
  }

  private def live(dir: String): FileLog.State = FileLog.read(dir)

  private def sealedLive(dir: String): Set[String] = {
    val st = live(dir)
    st.files.toSet -- st.appended
  }

  test("a new build's first search decodes its probed sealed files, " +
      "the second decodes none") {
    val qi = QuantIndex.build(spark, rows(0, 2000),
      graft.util.TempDirs.create("res_build").toString + "/quant",
      QuantConfig(ivfCells = 8))
    val dir = qi.dataDir
    val q = vec(7L)
    assert(live(dir).appended.isEmpty, "a build commits sealed files")
    val probed = decoded(qi.topK(q, 10, 2))
    assert(probed >= 1L && probed < live(dir).files.size, probed)
    assert(decoded(qi.topK(q, 10, 2)) == 0L)
    val all = decoded(qi.topK(q, 10, qi.maxDepth))
    assert(all == live(dir).files.size - probed)
    assert(decoded(qi.topK(q, 10, qi.maxDepth)) == 0L)
    assert(cachedUnder(dir) == live(dir).files.toSet)
    // the blocks answer exactly as the DataFrame search does
    val want = qi.search(q, 10, qi.maxDepth).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(qi.topK(q, 10, qi.maxDepth).toSeq == want)
  }

  test("an add's files are logged as appended and never resident; " +
      "a delete or a compaction leaves blocks only for live sealed files") {
    val dir = graft.util.TempDirs.create("res_life").toString + "/lsh"
    val st = VectorStore.build(spark, rows(0, 2000), dir,
      LshConfig(numHashTables = 4, dim = Dim, seed = 7L))
    val q = vec(7L)
    st.topK(q, 10, st.maxDepth)
    val built = live(dir).files.toSet
    assert(cachedUnder(dir) == built)

    val before = live(dir).files.toSet
    st.add(rows(5000, 5100))
    st.add(rows(5100, 5200))
    val added = live(dir).files.toSet -- before
    assert(added.nonEmpty && live(dir).appended == added)
    val s0 = PreparedScan.scanned.get()
    assert(decoded(st.topK(q, 10, st.maxDepth)) == 0L)
    assert(PreparedScan.scanned.get() - s0 == added.size.toLong,
      "the appended files are read from parquet")
    assert(st.residentFiles.intersect(added).isEmpty)
    assert(cachedUnder(dir) == built)

    // a delete rewrites the touched cells: their old files (sealed or
    // appended) leave, the rewritten ones are sealed
    st.delete((0L until 2000L by 3).toSeq)
    assert(live(dir).appended.isEmpty || live(dir).appended.subsetOf(added))
    assert(cachedUnder(dir).subsetOf(sealedLive(dir)))
    st.topK(q, 10, st.maxDepth)
    assert(cachedUnder(dir) == sealedLive(dir))

    st.add(rows(6000, 6100))
    st.topK(q, 10, st.maxDepth)
    st.compact(vacuumGraceMs = 0L)
    assert(live(dir).appended.isEmpty, "compaction seals every file")
    assert(cachedUnder(dir).isEmpty, "compaction retired every file")
    st.topK(q, 10, st.maxDepth)
    assert(cachedUnder(dir) == live(dir).files.toSet)
    assert(decoded(st.topK(q, 10, st.maxDepth)) == 0L)
  }

  test("a log written without the appended set reads back with every " +
      "file sealed") {
    val dir = graft.util.TempDirs.create("res_legacy").toString + "/lsh"
    val st = VectorStore.build(spark, rows(0, 1000), dir,
      LshConfig(numHashTables = 4, dim = Dim, seed = 7L))
    st.add(rows(5000, 5100))
    assert(live(dir).appended.nonEmpty)
    // drop the field from every record, as an older writer wrote them
    val logFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.matches("""_files(\.v\d+)?\.json""")).map(_.toString)
    assert(logFiles.length >= 3)
    logFiles.foreach { f =>
      val m = Json.parse(FsIo.readString(f)).asInstanceOf[Map[String, Any]]
      FsIo.writeString(f, Json.write(m -- Seq("appended", "appended_drop")))
    }
    val old = live(dir)
    assert(old.appended.isEmpty)
    val reopened = VectorStore.open(spark, dir)
    val q = vec(7L)
    assert(decoded(reopened.topK(q, 10, reopened.maxDepth)) ==
      old.files.size.toLong)
    assert(reopened.residentFiles == old.files.toSet)
  }
}
