package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.lsh.{LshConfig, LshModel}

class LshModelSpec extends AnyFunSuite {
  val cfg = LshConfig(numHashFunctions = 4, numHashTables = 3, dim = 8, seed = 7L)
  val model = LshModel(cfg)

  /** Seeded property loop (scalatestplus bridge unavailable offline). */
  private def forRandomVecs(n: Int)(f: Array[Double] => Unit): Unit = {
    val rng = new java.util.Random(12345L)
    (0 until n).foreach { _ =>
      f(Array.fill(cfg.dim)(rng.nextGaussian() * 10))
    }
  }

  test("seeded: same seed, same matrix; different seed differs") {
    assert(LshModel(cfg).matrix.flatten.toSeq == model.matrix.flatten.toSeq)
    assert(LshModel(cfg.copy(seed = 8L)).matrix.flatten.toSeq !=
      model.matrix.flatten.toSeq)
  }

  test("bucket in [0, numBuckets) for random vectors") {
    forRandomVecs(500) { v =>
      val b = model.bucket(v)
      assert(b >= 0 && b < cfg.numHashTables)
    }
  }

  test("sign-LSH is scale invariant (normalization is a no-op)") {
    forRandomVecs(200) { v =>
      assert(model.bucket(v) == model.bucket(v.map(_ * 0.001)))
      assert(model.bucket(v) == model.bucket(v.map(_ * 250.0)))
    }
  }

  test("zero vector gets bucket 0 (all bits off)") {
    assert(model.bucket(Array.fill(cfg.dim)(0.0)) == 0)
  }

  test("candidates: primary first, distinct, correct size") {
    forRandomVecs(200) { v =>
      (1 to 3).foreach { p =>
        val c = model.candidates(v, p)
        assert(c.size == p)
        assert(c.head == model.bucket(v))
        assert(c.distinct.size == c.size)
        assert(c.forall(b => b >= 0 && b < cfg.numHashTables))
      }
    }
  }

  test("probes >= numBuckets covers every bucket (exact mode)") {
    forRandomVecs(100) { v =>
      assert(model.candidates(v, 3).toSet == Set(0, 1, 2))
    }
  }

  test("probe rankings are prefix-stable: depth p probes the first p " +
      "codes of the full ranking") {
    val single = Seq(model,
      LshModel(LshConfig(numHashFunctions = 4, numHashTables = 16, dim = 8,
        seed = 3L)))
    val multi = LshModel(LshConfig(numHashFunctions = 3, numHashTables = 4,
      dim = 8, seed = 5L, multiTable = true))
    val grid = multi.cfg.numHashTables * multi.bucketsPerTable
    forRandomVecs(50) { v =>
      single.foreach { m =>
        val full = m.candidates(v, m.numBuckets)
        (1 to m.numBuckets).foreach(p =>
          assert(m.candidates(v, p) == full.take(p), s"candidates p=$p"))
      }
      val full = multi.tableCandidates(v, grid)
      (1 to grid).foreach(p =>
        assert(multi.tableCandidates(v, p) == full.take(p),
          s"tableCandidates p=$p"))
    }
  }

  test("save/load roundtrip") {
    val p = java.nio.file.Files.createTempFile("lsh", ".json").toString
    model.save(p)
    val m2 = LshModel.load(p)
    assert(m2.cfg == cfg)
    assert(m2.matrix.flatten.toSeq == model.matrix.flatten.toSeq)
  }

  // 16 tables x 4 fns = 64 projection bits: bit 63 is 1L<<63 =
  // Long.MIN_VALUE, so the pre-floorMod formula emitted buckets in
  // (-16, 16) — 31 partitions on a store claiming 16. Pin the fix on
  // driver formula, codegen expression, AND the on-disk layout.
  test("64-bit config: buckets stay in [0, numBuckets) everywhere") {
    val cfg16 = LshConfig(numHashFunctions = 4, numHashTables = 16,
      dim = 8, seed = 7L)
    val m16 = LshModel(cfg16)
    forRandomVecs(500) { v =>
      val b = m16.bucket(v)
      assert(b >= 0 && b < 16, s"driver bucket $b out of range")
    }
    // negative-sum corner exactly: only bit 63 set → sum = Long.MIN_VALUE,
    // floorMod(Long.MIN_VALUE, 16) = 0 (Java % would give -8... sign issues)
    assert(m16.bucketOfBits(Array.tabulate(64)(j => if (j == 63) 1 else 0)) ==
      java.lang.Math.floorMod(Long.MinValue, 16L).toInt)
  }

  test("16-table store: <= numBuckets partitions; candidates cover all") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val dir = graft.util.TempDirs.create("graft_lsh16").toString + "/index"
    val store = graft.store.VectorStore.build(spark,
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")),
      dir, LshConfig(numHashTables = 16, dim = 64, seed = 42L))
    val stored = store.indexDf.select("bucket").distinct()
      .collect().map(_.getAs[Number](0).intValue()).toSet
    assert(stored.forall(b => b >= 0 && b < 16), s"out-of-range: $stored")
    assert(stored.size <= 16)
    // on-disk partition directories match — no hidden negative dirs
    val dirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(_.getName.stripPrefix("bucket=").toInt).toSet
    assert(dirs == stored, s"disk $dirs != data $stored")
    // probes=numBuckets enumerates the complete bucket space, so the
    // candidates path covers every stored bucket (exactness at p=16)
    forRandomVecs(50) { v0 =>
      val v = java.util.Arrays.copyOf(v0, 64)
      val c = store.model.candidates(v, 16).toSet
      assert(stored.subsetOf(c), s"candidates $c miss ${stored.diff(c)}")
    }
  }

  test("bucketCol matches driver-side bucket on real data") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val m = graft.queries.VectorQueries.model
    val rows = Tables.embeddings(spark, TestSpark.sf)
      .withColumn("b", m.bucketCol(col("embedding")))
      .select("vec_id", "embedding", "b").limit(50).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      assert(r.getInt(2) == m.bucket(v), s"vec_id=${r.getLong(0)}")
    }
  }
}
