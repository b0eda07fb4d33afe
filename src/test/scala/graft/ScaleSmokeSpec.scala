package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}
import graft.lsh.LshConfig
import graft.store.VectorStore

/** Scale smoke: the store pipeline at 100k vectors (200× the sf0.001
  * fixture) built from a deterministic expression-generated corpus —
  * no driver-side data, the generator is a codegen'd projection over
  * spark.range, which is exactly how a 100 TB load would flow
  * (source → projection → bucketed write, nothing through the
  * driver). Checks that build → exact search → pruned search keep
  * their contracts when the corpus no longer fits a toy profile.
  */
@Slow
class ScaleSmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val N = 100000
  private val Dim = 64

  /** Deterministic pseudo-embedding: e[j] = sin(id * (j+1) * 0.001),
    * cast to float like the real embeddings column.
    */
  private def corpus = spark.range(N).select(
    col("id"),
    transform(sequence(lit(0), lit(Dim - 1)),
      j => sin(col("id") * (j + 1) * lit(0.001)).cast("float"))
      .as("embedding"))

  test("100k-vector build + exact search matches brute force") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scale").toString
    val store = VectorStore.build(spark, corpus, s"$dir/index",
      LshConfig(dim = Dim, numHashTables = 16, seed = 7L))
    assert(store.indexDf.count() == N)

    val q = corpus.where(col("id") === 12345)
      .head.getSeq[Float](1).map(_.toDouble).toArray
    val viaStore = store.search(q, 10, store.model.numBuckets)
      .select(col("id"), round(col("dist"), 6).as("dist"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = corpus
      .select(col("id"), VF.l2sqLit(col("embedding"), q).as("dist"))
      .orderBy(col("dist"), col("id")).limit(10)
      .select(col("id"), round(col("dist"), 6).as("dist"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaStore == brute)
    assert(viaStore.head._1 == 12345L && viaStore.head._2 == 0.0)

    // pruned search keeps its contracts: k rows, ascending distances,
    // and the query's own vector surfaces from its primary bucket
    val pruned = store.search(q, 10, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pruned.size == 10)
    assert(pruned.map(_._2) == pruned.map(_._2).sorted)
    assert(pruned.head._1 == 12345L && pruned.head._2 == 0.0,
      "self must surface from the primary bucket")
  }
}
