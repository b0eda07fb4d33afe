package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{GridPart, QuantConfig, QuantIndex, QuantTier}

/** The exact grid exchange (r16): each enumerated grid key must own
  * its OWN shuffle partition — the property the store writers rely on
  * for one-writer-task-per-partition-directory — and the remap must
  * never change WHAT is written, only where.
  */
class GridPartSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("salts: pmod(murmur3int(salt(i), 42), n) == i for every i, n") {
    (1 to 96).foreach { n =>
      val s = GridPart.salts(n)
      assert(s.length == n)
      (0 until n).foreach { i =>
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(s(i), 42)
        assert(((h % n) + n) % n == i, s"n=$n i=$i salt=${s(i)}")
      }
    }
  }

  test("exactRange: every key gets its own partition (no stacking, " +
      "no empties among present keys)") {
    val df = spark.range(1600).select(
      (col("id") % 16).cast("int").as("cell"), col("id"))
    val placed = GridPart.exactRange(df, 16, col("cell"))
      .select(col("cell"), expr("spark_partition_id()").as("p"))
      .distinct().collect().map(r => r.getInt(0) -> r.getInt(1))
    assert(placed.length == 16, "a cell was split across partitions")
    assert(placed.map(_._2).distinct.length == 16,
      s"cells stacked on one partition: ${placed.sorted.mkString(",")}")
    // the plain hash exchange demonstrably stacks (the bug this fixes)
    val hashed = df.repartition(16, col("cell"))
      .select(col("cell"), expr("spark_partition_id()").as("p"))
      .distinct().collect().map(_.getInt(1)).distinct
    assert(hashed.length < 16,
      "murmur3 unexpectedly bijective on 0..15 — test premise broken")
  }

  test("exact (sparse keys): 1:1 placement; unmapped keys co-locate, " +
      "never split") {
    val keys = Seq(3, 7, 11, 42)
    val df = spark.range(500).select(
      (col("id") % 50).cast("int").as("k"), col("id"))
    val placed = GridPart.exact(df, keys, col("k"))
      .select(col("k"), expr("spark_partition_id()").as("p"))
      .distinct().collect().map(r => r.getInt(0) -> r.getInt(1))
    val mapped = placed.filter(kv => keys.contains(kv._1))
    assert(mapped.length == keys.size)
    assert(mapped.map(_._2).distinct.length == keys.size,
      s"mapped keys stacked: ${mapped.sorted.mkString(",")}")
    // every unmapped key sits on exactly one partition (the null slot)
    val unmappedParts = placed.filterNot(kv => keys.contains(kv._1))
      .map(_._2).distinct
    assert(unmappedParts.length == 1,
      s"unmapped keys split across ${unmappedParts.length} partitions")
  }

  test("quant build still writes one file per non-empty cell and " +
      "searches are unchanged by the exchange") {
    val dir = graft.util.TempDirs.create("graft_gridpart").toString
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val idx = QuantIndex.build(spark, emb.where(col("id") < 300),
      s"$dir/index", QuantConfig(tiers = Set(QuantTier.Pq)))
    val files = graft.store.FileLog.read(idx.dataDir).files
    val cells = files.flatMap(f =>
      "/cell=(\\d+)/".r.findFirstMatchIn(f).map(_.group(1).toInt))
    assert(cells.length == files.length, "unparsable data file path")
    assert(cells.distinct.length == cells.length,
      s"a cell wrote >1 file: ${cells.sorted.mkString(",")}")
    val q = emb.where(col("id") === 0).head.getSeq[Float](1)
      .map(_.toDouble).toArray
    val got = idx.searchTwoStage(QuantTier.Pq, q, 5).collect().map(_.getLong(0)).toSeq
    assert(got.nonEmpty)
  }
}
