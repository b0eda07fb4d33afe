package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lsh.LshConfig
import graft.store.{MaintenancePolicy, MultiTableStore, QuantConfig,
  QuantIndex, VectorStore}

/** Spark jobs per store mutation, on all three index layouts. At
  * micro-batch volumes every job costs its scheduling floor, so the
  * job count is the noise-free cost model of the write paths; this
  * spec pins each (layout, operation) count at or below its recorded
  * ceiling, so a refactor of the shared mutation code cannot add a job
  * unnoticed. Lower a ceiling when a change removes a job.
  */
class JobsPerOpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Dim = 16

  /** Deterministic (id, embedding) rows for ids in [lo, hi), shifted
    * by `shift` so an upsert can move an id to another partition.
    */
  private def rows(lo: Long, hi: Long, shift: Double = 0.0): DataFrame =
    spark.range(lo, hi).select(col("id"),
      transform(sequence(lit(0), lit(Dim - 1)),
        j => (hash(col("id"), j).cast("double") / lit(2147483648.0) +
          lit(shift)).cast("float")).as("embedding"))

  /** A change-feed window in [[graft.sources.ManifestScan.changes]]'s
    * shape: `ups` as inserts, `dels` as deletes, all at one version.
    */
  private def feed(ups: DataFrame, dels: Seq[Long]): DataFrame = {
    val sess = spark
    import sess.implicits._
    val d = dels.toDF("id").select(col("id"),
      lit(null).cast("array<float>").as("embedding"))
    ups.unionByName(d)
      .withColumn("_change_type",
        when(col("embedding").isNull, lit("delete")).otherwise(lit("insert")))
      .withColumn("_commit_version", lit(1L))
  }

  private val jobs = new AtomicLong(0L)
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    l
  }

  private def counted(body: => Any): Long = {
    listener
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    val j0 = jobs.get()
    body
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    jobs.get() - j0
  }

  /** (layout, operation) → the most jobs it may take. */
  private val Ceiling = Map(
    ("lsh", "add") -> 2L,
    ("lsh", "delete") -> 8L,
    ("lsh", "upsert") -> 8L,
    ("lsh", "applyChanges upsert") -> 10L,
    ("lsh", "applyChanges delete") -> 10L,
    ("lsh", "compact") -> 2L,
    ("multi", "add") -> 2L,
    ("multi", "delete") -> 8L,
    ("multi", "upsert") -> 8L,
    ("multi", "applyChanges upsert") -> 10L,
    ("multi", "applyChanges delete") -> 10L,
    ("multi", "compact") -> 2L,
    ("quant", "add") -> 2L,
    ("quant", "delete") -> 8L,
    ("quant", "upsert") -> 8L,
    ("quant", "applyChanges upsert") -> 10L,
    ("quant", "applyChanges delete") -> 10L,
    ("quant", "compact") -> 2L,
    ("quant", "maintain") -> 2L)

  /** The shared mutation script: every operation on one store, each
    * counted in isolation. `upsert` is None for a layout without it.
    */
  private def script(layout: String,
      add: DataFrame => Any,
      delete: Seq[Long] => Any,
      upsert: Option[DataFrame => Any],
      applyChanges: DataFrame => Any,
      compact: () => Any): Seq[((String, String), Long)] = {
    val out = Seq.newBuilder[((String, String), Long)]
    def rec(op: String)(body: => Any): Unit = {
      val n = counted(body)
      info(f"$layout%-6s $op%-22s $n%2d jobs")
      out += (layout, op) -> n
    }
    rec("add")(add(rows(2000, 2200)))
    rec("delete")(delete(100L until 150L))
    upsert.foreach(u => rec("upsert")(u(rows(150, 250, shift = 0.5)
      .unionByName(rows(2200, 2250)))))
    rec("applyChanges upsert")(applyChanges(
      feed(rows(250, 300, shift = 0.5).unionByName(rows(2250, 2300)), Nil)))
    rec("applyChanges delete")(applyChanges(feed(
      rows(0, 0), (300L until 350L))))
    rec("compact")(compact())
    out.result()
  }

  private def check(counts: Seq[((String, String), Long)]): Unit =
    counts.foreach { case (key, n) =>
      assert(n <= Ceiling(key), s"$key took $n jobs, ceiling ${Ceiling(key)}")
    }

  test("jobs per mutation: LSH VectorStore") {
    val dir = graft.util.TempDirs.create("jobs_lsh").toString
    val st = VectorStore.build(spark, rows(0, 2000), s"$dir/index",
      LshConfig(dim = Dim, seed = 7L))
    check(script("lsh", st.add(_), st.delete(_), Some(st.upsert(_)),
      st.applyChanges(_), () => st.compact(vacuumGraceMs = 0L)))
  }

  test("jobs per mutation: MultiTableStore") {
    val dir = graft.util.TempDirs.create("jobs_multi").toString
    val st = MultiTableStore.build(spark, rows(0, 2000), s"$dir/index",
      LshConfig(numHashFunctions = 2, numHashTables = 3, dim = Dim,
        seed = 7L, multiTable = true))
    check(script("multi", st.add(_), st.delete(_), Some(st.upsert(_)),
      st.applyChanges(_), () => st.compact(vacuumGraceMs = 0L)))
  }

  test("jobs per mutation: QuantIndex, including maintain on hot cells") {
    val dir = graft.util.TempDirs.create("jobs_quant").toString
    val idx = QuantIndex.build(spark, rows(0, 2000), s"$dir/index",
      QuantConfig(ivfCells = 8))
    check(script("quant", idx.add(_), idx.delete(_), Some(idx.upsert(_)),
      idx.applyChanges(_), () => idx.compact(vacuumGraceMs = 0L)))
    // two more appends give the touched cells 3 live files each
    idx.add(rows(3000, 3100))
    idx.add(rows(3100, 3200))
    val n = counted {
      val (rep, _) = idx.maintain(MaintenancePolicy(maxFilesPerCell = 1,
        vacuumGraceMs = 0L))
      assert(rep.compacted)
    }
    info(f"quant  maintain               $n%2d jobs")
    check(Seq(("quant", "maintain") -> n))
  }
}
