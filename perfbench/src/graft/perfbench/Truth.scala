package graft.perfbench

import java.nio.{ByteOrder, DoubleBuffer, FloatBuffer}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.server.Json

/** The generated inputs of one run (see perfbench/gen.py), mapped
  * read-only outside the JVM heap so the benchmark's own copy of the
  * corpus does not count in `mem_mb`. Row r of `vectors.f32` is the
  * vector first stored under id r; rows at or past `nBase` are the
  * reserve that adds and upserts draw from.
  */
final class Data(dir: String) {
  private val meta = Json.parse(new String(
    Files.readAllBytes(Paths.get(dir, "meta.json")), "UTF-8"))
    .asInstanceOf[Map[String, Any]]
  private def int(k: String): Int = Json.asLong(meta(k)).toInt

  val dim: Int = int("dim")
  val nBase: Int = int("n_base")
  val nTotal: Int = int("n_total")
  val nQueries: Int = int("n_queries")
  val corpusPath: String = s"$dir/corpus.parquet"

  private def map(name: String) = {
    val ch = FileChannel.open(Paths.get(dir, name), StandardOpenOption.READ)
    try ch.map(FileChannel.MapMode.READ_ONLY, 0, ch.size()).order(ByteOrder.LITTLE_ENDIAN)
    finally ch.close()
  }
  private val vecs: FloatBuffer = map("vectors.f32").asFloatBuffer()
  private val qs: DoubleBuffer = map("queries.f64").asDoubleBuffer()
  require(vecs.capacity == nTotal * dim && qs.capacity == nQueries * dim,
    "input files do not match meta.json")

  def vector(row: Int): Array[Float] = {
    val a = new Array[Float](dim)
    vecs.get(row * dim, a)
    a
  }

  def query(i: Int): Array[Double] = {
    val a = new Array[Double](dim)
    qs.get(i * dim, a)
    a
  }

  /** Squared L2 in the engine's fold order (each float widened to
    * double, summed left to right), so it equals the engine's distance
    * bit for bit.
    */
  def dist(row: Int, q: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val base = row * dim
    while (i < dim) {
      val d = vecs.get(base + i).toDouble - q(i)
      acc += d * d
      i += 1
    }
    acc
  }
}

/** The benchmark's own record of which id holds which vector: every
  * reply is checked against brute force over it. Ids are < nTotal.
  */
final class Live(val data: Data) {
  private val rowOf = Array.tabulate(data.nTotal)(i => if (i < data.nBase) i else -1)
  private var n = data.nBase

  def count: Int = synchronized(n)
  def contains(id: Long): Boolean =
    id >= 0 && id < rowOf.length && rowOf(id.toInt) >= 0
  def row(id: Long): Int = rowOf(id.toInt)

  def put(id: Long, row: Int): Unit = synchronized {
    if (rowOf(id.toInt) < 0) n += 1
    rowOf(id.toInt) = row
  }

  def remove(id: Long): Unit = synchronized {
    if (rowOf(id.toInt) >= 0) n -= 1
    rowOf(id.toInt) = -1
  }

  def ids: Array[Long] = rowOf.indices.filter(rowOf(_) >= 0).map(_.toLong).toArray

  /** `n` distinct live ids drawn by `rnd`. */
  def sample(rnd: java.util.SplittableRandom, want: Int): Array[Long] = {
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (picked.size < want) {
      val id = rnd.nextInt(rowOf.length).toLong
      if (contains(id)) picked += id
    }
    picked.toArray
  }

  def dist(id: Long, q: Array[Double]): Double = data.dist(row(id), q)

  /** Brute-force top-k, double precision, ties broken by id. */
  def topK(q: Array[Double], k: Int): Array[(Long, Double)] = {
    val ids = new Array[Long](k)
    val ds = new Array[Double](k)
    var size = 0
    var id = 0
    while (id < rowOf.length) {
      val r = rowOf(id)
      if (r >= 0) {
        val d = data.dist(r, q)
        if (size < k || d < ds(size - 1) || (d == ds(size - 1) && id < ids(size - 1))) {
          var j = if (size < k) size else k - 1
          while (j > 0 && (ds(j - 1) > d || (ds(j - 1) == d && ids(j - 1) > id))) {
            ds(j) = ds(j - 1); ids(j) = ids(j - 1); j -= 1
          }
          ds(j) = d; ids(j) = id
          if (size < k) size += 1
        }
      }
      id += 1
    }
    Array.tabulate(size)(i => (ids(i), ds(i)))
  }
}

/** Reply checks. Distances compare within 1e-9 relative. */
object Check {
  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  private def sortedDistinct(got: Array[(Long, Double)]): Boolean =
    got.map(_._1).distinct.length == got.length &&
      got.indices.drop(1).forall(i => got(i - 1)._2 <= got(i)._2)

  /** An exact reply must be the brute-force top-k in order. A different
    * id at a position is accepted only when its true distance ties the
    * brute-force distance there (tie order within rounding is free).
    */
  def exact(live: Live, q: Array[Double], want: Array[(Long, Double)],
      got: Array[(Long, Double)]): Boolean =
    got.length == want.length && sortedDistinct(got) && got.indices.forall { i =>
      val (id, d) = got(i)
      close(d, want(i)._2) &&
        (id == want(i)._1 || (live.contains(id) && close(live.dist(id, q), want(i)._2)))
    }

  /** An approximate reply must hold k distinct live ids, each with its
    * true distance, in distance order.
    */
  def ann(live: Live, q: Array[Double], k: Int, got: Array[(Long, Double)]): Boolean =
    got.length == math.min(k, live.count) && sortedDistinct(got) &&
      got.forall { case (id, d) => live.contains(id) && close(live.dist(id, q), d) }

  /** |top-10 returned ∩ true top-10| / 10. */
  def recall10(want: Array[(Long, Double)], got: Array[(Long, Double)]): Double =
    got.take(10).map(_._1).toSet.intersect(want.take(10).map(_._1).toSet).size / 10.0
}

object Stats {
  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
