package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.lsh.LshConfig
import graft.store.VectorStore
import graft.queries.VectorQueries

class VectorStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val store: VectorStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft_store").toString
    VectorStore.build(spark,
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")),
      s"$dir/index", LshConfig(dim = 64, seed = 42L))
  }

  private lazy val q: Array[Double] = VectorQueries.qvec(spark, TestSpark.sf, 0)

  test("build persists model + bucketed partitions, reopen works") {
    val reopened = VectorStore.open(spark, store.path)
    assert(reopened.model.matrix.flatten.toSeq ==
      store.model.matrix.flatten.toSeq)
    assert(store.indexDf.columns.toSet == Set("id", "embedding", "bucket"))
    assert(store.indexDf.count() == 500)
  }

  test("exact search returns k ascending, ties by id, self first") {
    val r = store.search(q, 10, 3).collect()
    assert(r.length == 10)
    assert(r.head.getLong(0) == 0L && r.head.getDouble(1) == 0.0)
    val dists = r.map(_.getDouble(1)).toSeq
    assert(dists == dists.sorted)
  }

  test("k-clamp: k<=0 behaves as k=1 (coordinator.py:144-147)") {
    assert(store.search(q, 0, 3).count() == 1)
    assert(store.search(q, -5, 3).count() == 1)
  }

  test("k > ntotal returns all rows (shard_node.py:118-120)") {
    assert(store.search(q, 10000, 3).count() == 500)
  }

  test("empty index returns empty, no error (shard_node.py:122-124)") {
    val r = VectorStore.searchIn(
      store.indexDf.where(lit(false)), q, 10)
    assert(r.count() == 0)
  }

  test("pruned results are a subset of exact; probes=all equals exact") {
    val exact = store.search(q, 20, 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = store.search(q, 500, 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val pruned = store.search(q, 20, 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pruned.toSet.subsetOf(full))
    val exactAgain = store.search(q, 20, 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(exact == exactAgain)
  }

  test("kNN(k) is a prefix of kNN(k+5)") {
    val k10 = store.search(q, 10, 3).collect().map(_.getLong(0)).toSeq
    val k15 = store.search(q, 15, 3).collect().map(_.getLong(0)).toSeq
    assert(k15.take(10) == k10)
  }

  test("stats: counts sum to total, buckets valid, imbalance finite") {
    val s = store.stats().collect()
    assert(s.map(_.getLong(1)).sum == 500)
    assert(s.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 3))
    assert(s.forall(r => r.getDouble(4) >= 0.0))
  }
}

class FilteredSearchSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("metadata rides through the store; filtered search matches plain plan") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_meta").toString
    val store = graft.store.VectorStore.build(spark,
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding"), col("label")),
      s"$dir/index", graft.lsh.LshConfig(dim = 64, seed = 42L))
    assert(store.indexDf.columns.toSet ==
      Set("id", "embedding", "label", "bucket"))
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0)
    val viaStore = store.search(q, 10, 3, filter = col("label") === 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaQuery = SparkEntry.queries("v11_filtered_knn")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(viaStore.map(_._1) == viaQuery.map(_._1))
    assert(viaStore.forall { case (_, dist) => dist >= 0 })
  }
}

class MutationSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.functions._

  private def freshStore() = {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft_mut").toString
    graft.store.VectorStore.build(spark,
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")),
      s"$dir/index", graft.lsh.LshConfig(dim = 64, seed = 42L))
  }

  test("delete removes ids, leaves other buckets' files untouched") {
    val store = freshStore()
    val before = store.indexDf.count()
    val victims = store.search(
      graft.queries.VectorQueries.qvec(TestSpark.spark, TestSpark.sf, 0),
      5, 3).collect().map(_.getLong(0)).toSeq
    val removed = store.delete(victims)
    assert(removed == victims.length)
    assert(store.indexDf.count() == before - victims.length)
    assert(store.indexDf.where(
      col("id").isin(victims.map(Long.box): _*)).count() == 0)
    // idempotent: deleting again removes nothing
    assert(store.delete(victims) == 0L)
  }

  test("delete that empties a bucket retires it from the log; compact reclaims") {
    val store = freshStore()
    val bucketIds = store.indexDf
      .where(col("bucket") === 0).select("id")
      .collect().map(_.getLong(0)).toSeq
    assert(bucketIds.nonEmpty)
    store.delete(bucketIds)
    assert(store.indexDf.where(col("bucket") === 0).count() == 0)
    // the log commit retires every bucket=0 file immediately (readers
    // never see the emptied bucket) ...
    assert(!graft.store.FileLog.read(store.path).files
      .exists(_.contains("/bucket=0/")))
    // ... and compaction's vacuum reclaims the retired files physically
    // (graceMs = 0 opts out of the default in-flight-reader grace)
    store.compact(targetRowsPerFile = 1024, vacuumGraceMs = 0L)
    val dir = java.nio.file.Paths.get(s"${store.path}/bucket=0")
    val leftover =
      if (!java.nio.file.Files.exists(dir)) Seq.empty
      else {
        val s = java.nio.file.Files.list(dir)
        try {
          val it = s.iterator()
          val buf = Seq.newBuilder[String]
          while (it.hasNext) {
            val n = it.next().getFileName.toString
            if (n.endsWith(".parquet")) buf += n
          }
          buf.result()
        } finally s.close()
      }
    assert(leftover.isEmpty, s"unreclaimed files in emptied bucket: $leftover")
  }

  test("upsert replaces an existing vector and inserts a new one") {
    val spark = TestSpark.spark
    import spark.implicits._
    val store = freshStore()
    val before = store.indexDf.count()
    // replace id 7 with the embedding of id 3 (may change buckets),
    // insert brand-new id 100000 with id 5's embedding
    def emb(i: Long) = Tables.embeddings(spark, TestSpark.sf)
      .where(col("vec_id") === i).head.getSeq[Float](1).toArray
    val batch = Seq((7L, emb(3L)), (100000L, emb(5L)))
      .toDF("id", "embedding")
    store.upsert(batch)
    assert(store.indexDf.count() == before + 1)
    assert(store.indexDf.where(col("id") === 7L).count() == 1)
    // searching with id 3's embedding must now find id 7 at distance 0
    val q3 = emb(3L).map(_.toDouble)
    val top = store.search(q3, 3, 3).collect()
    assert(top.exists(r => r.getLong(0) == 7L && r.getDouble(1) == 0.0))
    val q5 = emb(5L).map(_.toDouble)
    val top5 = store.search(q5, 3, 3).collect()
    assert(top5.exists(r => r.getLong(0) == 100000L && r.getDouble(1) == 0.0))
  }

  test("bulk upsert where most ids change bucket: no stale rows, no dups") {
    val spark = TestSpark.spark
    val store = freshStore()
    val before = store.indexDf.count()
    // Re-embed 300 of 500 ids with a DIFFERENT stored vector (id+123's
    // embedding) — across 3 LSH buckets, ~2/3 of them land in a new
    // bucket, the bulk re-embed shape the id-collect path would have
    // funneled through the driver.
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val batch = emb.where(col("vec_id") < 300)
      .select(col("vec_id").as("id"),
        (col("vec_id") + 123).as("src_id"))
      .join(emb.select(col("vec_id").as("src_id"),
        col("embedding")), "src_id")
      .select(col("id"), col("embedding"))
    val movedExpected = store.indexDf.as("o")
      .join(graft.store.VectorStore.bucketize(batch, store.model).as("n"), "id")
      .where(col("o.bucket") =!= col("n.bucket")).count()
    assert(movedExpected > 150, s"fixture should move many ids, moved $movedExpected")
    store.upsert(batch)
    assert(store.indexDf.count() == before, "no inserts: count unchanged")
    val dups = store.indexDf.groupBy("id").count().where(col("count") > 1).count()
    assert(dups == 0, "an id must appear exactly once after a bulk move")
    // every re-embedded id now sits in the bucket of its NEW embedding
    val misplaced = store.indexDf.as("o")
      .join(graft.store.VectorStore.bucketize(batch, store.model)
        .select(col("id"), col("bucket").as("nb")), "id")
      .where(col("o.bucket") =!= col("nb")).count()
    assert(misplaced == 0, s"$misplaced ids left in their old bucket")
  }
  test("compact merges small files without changing search results") {
    // fresh store, ingested in 5 small appends -> >= 5 files total
    val spark = TestSpark.spark
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val s2 = graft.store.VectorStore.build(spark, emb.where(col("id") < 100),
      s"$dir/index", graft.lsh.LshConfig(dim = 64, seed = 42L))
    (1 to 4).foreach { b =>
      s2.add(emb.where(col("id") >= b * 100 && col("id") < (b + 1) * 100))
    }
    val exactBefore = s2.search(q, 20, s2.model.numBuckets)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (before, after) = s2.compact()
    assert(before >= 5, s"expected >=5 small files, saw $before")
    assert(after < before, s"compaction did not reduce files: $before -> $after")
    assert(after <= s2.model.numBuckets,
      s"expected <= one file per bucket at this size, saw $after")
    val exactAfter = s2.search(q, 20, s2.model.numBuckets)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(exactAfter == exactBefore)
    assert(s2.indexDf.count() == 500)
  }

  test("reshard to a 16-bucket layout keeps exact search invariant") {
    val spark = TestSpark.spark
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0)
    val store = freshStore()
    val dir = java.nio.file.Files.createTempDirectory("graft_reshard").toString
    val wide = store.reshard(s"$dir/index16",
      graft.lsh.LshConfig(dim = 64, numHashTables = 16, seed = 99L))
    assert(wide.model.numBuckets == 16)
    assert(wide.indexDf.count() == store.indexDf.count())
    def exact(s: graft.store.VectorStore) =
      s.search(q, 10, s.model.numBuckets)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(exact(wide) == exact(store),
      "exact search must be invariant under resharding")
    // new layout actually took: >1 bucket directory under the new path
    val p0 = new org.apache.hadoop.fs.Path(wide.path)
    val fs = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketDirs = fs.listStatus(p0)
      .count(_.getPath.getName.startsWith("bucket="))
    assert(bucketDirs > 3, s"expected a spread over 16 buckets, saw $bucketDirs")
  }

}
