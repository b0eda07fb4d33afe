package graft.store

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD,
  PartitionedFile}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.expressions.VecEval

/** One snapshot's (id, embedding) scan, executed by every top-k search
  * over that snapshot ([[IndexTable.topK]]) without query planning. What
  * the DataFrame search gets from Catalyst — column pruning, the
  * vectorized parquet reader, an in-memory relation in place of the
  * files when the frame is cached — comes from one Catalyst plan, and a
  * search then costs one `runJob`:
  *
  *  - a parquet file scan is regrouped by grid cell, so a search reads
  *    only its probed cells' files, packed by size into
  *    ≤ min(probed cells, defaultParallelism) tasks. The planned reader
  *    ([[PreparedScan.Reader]]) reads any whole-file split of its
  *    schema, so a logged snapshot needs no plan of its own: it takes
  *    the reader planned for an earlier snapshot of the same schema and
  *    its files from the log ([[PreparedScan.over]]);
  *  - any other scan (a resident copy, a directory whose paths name no
  *    cell) is planned per snapshot, runs its partitions in as many
  *    tasks and keeps only rows whose grid code is probed.
  *
  * Each task keeps a bounded (dist, id) heap ([[TopKHeap]]); the
  * driver merges the ≤ k rows of each task. Distances are the same
  * left-to-right float→double fold as `vec_l2sq`, so a reply is
  * bit-identical to the DataFrame search's.
  */
private[graft] final class PreparedScan private (
    parent: RDD[InternalRow],
    byCell: Option[Map[Int, Seq[PartitionedFile]]],
    idOrd: Int, embOrd: Int, gridOrd: Int, floatEmb: Boolean,
    gridSize: Int) {

  /** The k nearest rows to `q` among the grid `cells`, ascending by
    * (dist, id); `dedup` keeps one row per id (the ×L layouts, which
    * store a vector once per table).
    */
  def topK(q: Array[Double], k: Int, cells: Seq[Int],
      dedup: Boolean): Array[(Long, Double)] = {
    val probed = cells.distinct
    val sc = parent.sparkContext
    val tasks = math.min(probed.size, sc.defaultParallelism)
    val (groups, keep) = byCell match {
      case Some(files) =>
        (PreparedScan.pack(probed.flatMap(files.getOrElse(_, Nil)), tasks),
          null)
      case None =>
        val keep =
          if (probed.size >= gridSize) null
          else {
            val b = new Array[Boolean](gridSize)
            probed.foreach(c => if (c >= 0 && c < gridSize) b(c) = true)
            b
          }
        (PreparedScan.chunk(parent.partitions, tasks), keep)
    }
    if (groups.isEmpty) return Array.empty
    val task = TopKTask(q, k, dedup, idOrd, embOrd, floatEmb, gridOrd, keep)
    TopKTask.merge(
      sc.runJob(new PreparedScan.ProbeRDD(parent, groups), TopKTask.job(task)),
      k, dedup)
  }
}

private[graft] object PreparedScan {

  /** Scans planned since start-up: a cost counter for the specs. */
  private[graft] val planned = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A planned parquet scan's reader: it reads any split of files with
    * the schema it was planned for, emitting requiredSchema ++
    * partitionSchema per row.
    */
  final class Reader private[PreparedScan] (val rdd: FileScanRDD,
      val floatEmb: Boolean) {
    val idOrd: Int = rdd.readSchema.fieldIndex("id")
    val embOrd: Int = rdd.readSchema.fieldIndex("embedding")
  }

  /** Plan `df`'s scan once, with the grid code of every row: the
    * planned query, whether embeddings are floats, and the parquet
    * reader when the plan is one file scan.
    */
  private def plan(df: DataFrame,
      layout: Layout): (QueryExecution, Boolean, Option[Reader]) = {
    planned.incrementAndGet()
    val sel = df.select(col("id"), col("embedding"), layout.gridKey.as("_g"))
    val floatEmb = sel.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val qe = sel.queryExecution
    val reader = qe.executedPlan.collect {
      case s: FileSourceScanExec => s.inputRDD
    } match {
      case Seq(rdd: FileScanRDD) => Some(new Reader(rdd, floatEmb))
      case _ => None
    }
    (qe, floatEmb, reader)
  }

  /** Plan `df`'s scan: its files grouped by cell when every path names
    * one, else the whole scan filtered by grid code.
    */
  def apply(df: DataFrame, layout: Layout): PreparedScan = {
    val (qe, floatEmb, reader) = plan(df, layout)
    reader.flatMap(r => over(r, r.rdd.filePartitions.flatMap(_.files), layout))
      .getOrElse(new PreparedScan(qe.toRdd, None, 0, 1, 2, floatEmb,
        layout.gridSize))
  }

  /** Plan `df`'s parquet reader alone, to scan later snapshots of the
    * same schema through [[over]]; None when `df` is not a file scan.
    */
  def reader(df: DataFrame, layout: Layout): Option[Reader] =
    plan(df, layout)._3

  /** `files` through a reader planned earlier, grouped by the grid cell
    * the current `layout` parses from each path; None when a path names
    * no cell.
    */
  def over(r: Reader, files: Seq[PartitionedFile],
      layout: Layout): Option[PreparedScan] = {
    val cells = files.map(f => layout.cellOf(f.filePath.toString))
    if (cells.forall(_.nonEmpty))
      Some(new PreparedScan(r.rdd,
        Some(files.zip(cells.flatten).groupMap(_._2)(_._1)), r.idOrd,
        r.embOrd, -1, r.floatEmb, layout.gridSize))
    else None
  }

  /** Files into ≤ `n` groups, largest first onto the lightest group. */
  private def pack(files: Seq[PartitionedFile],
      n: Int): Array[Array[Partition]] = {
    if (files.isEmpty) return Array.empty
    val bins = Array.fill(math.min(n, files.size))(
      Vector.newBuilder[PartitionedFile])
    val load = new Array[Long](bins.length)
    files.sortBy(-_.length).foreach { f =>
      val i = load.indices.minBy(load(_))
      bins(i) += f
      load(i) += f.length
    }
    bins.zipWithIndex.map { case (b, i) =>
      Array[Partition](FilePartition(i, b.result().toArray))
    }
  }

  /** Partitions into ≤ `n` contiguous groups. */
  private def chunk(parts: Array[Partition],
      n: Int): Array[Array[Partition]] =
    if (parts.isEmpty || n < 1) Array.empty
    else parts.grouped((parts.length + n - 1) / n).toArray

  /** The search's tasks: task i reads `groups(i)` of the planned scan,
    * in order. Split lists differ per search, so they are this RDD's
    * partitions rather than the parent's; the parent is a scan with no
    * shuffle below it, which the task reads directly.
    */
  private final class ProbeRDD(parent: RDD[InternalRow],
      @transient groups: Array[Array[Partition]])
      extends RDD[InternalRow](parent.sparkContext, Nil) {
    override protected def getPartitions: Array[Partition] =
      groups.zipWithIndex.map { case (g, i) => Group(i, g): Partition }
    override def compute(split: Partition,
        ctx: TaskContext): Iterator[InternalRow] =
      split.asInstanceOf[Group].parts.iterator
        .flatMap(parent.iterator(_, ctx))
  }

  private final case class Group(index: Int, parts: Array[Partition])
      extends Partition
}

/** One search task: score every row of a scan against `q` and keep
  * the k nearest. Rows come as vectorized batches or as rows; `keep`,
  * when set, admits only rows whose grid code (column `gridOrd`) it
  * marks.
  */
private[store] final case class TopKTask(q: Array[Double], k: Int,
    dedup: Boolean, idOrd: Int, embOrd: Int, floatEmb: Boolean,
    gridOrd: Int, keep: Array[Boolean]) {

  def run(it: Iterator[InternalRow]): (Array[Long], Array[Double]) = {
    val heap = new TopKHeap(k, dedup)
    it.foreach { (x: Any) =>
      x match {
        case b: ColumnarBatch =>
          val rows = b.rowIterator()
          while (rows.hasNext) score(rows.next(), heap)
        case r: InternalRow => score(r, heap)
      }
    }
    heap.entries
  }

  private def score(r: InternalRow, heap: TopKHeap): Unit =
    if (keep == null || (!r.isNullAt(gridOrd) && {
      val g = r.getInt(gridOrd)
      g >= 0 && g < keep.length && keep(g)
    })) {
      // the DataFrame search would rank this row first with a null
      // distance, which no (id, dist) reply can carry
      if (r.isNullAt(embOrd))
        throw new IllegalStateException(
          s"row id ${r.getLong(idOrd)} has a null embedding")
      val e = r.getArray(embOrd)
      val n = e.numElements()
      if (n != q.length) VecEval.foldLenMismatch("vec_l2sq", n, q.length)
      var acc = 0.0
      var j = 0
      if (floatEmb) while (j < n) {
        val d = e.getFloat(j).toDouble - q(j); acc += d * d; j += 1
      }
      else while (j < n) {
        val d = e.getDouble(j) - q(j); acc += d * d; j += 1
      }
      heap.offer(acc, r.getLong(idOrd))
    }
}

private[store] object TopKTask {

  /** The task function. It is written here, in a small object, because
    * `runJob` cleans its function, which reads the bytecode of the
    * class that wrote it.
    */
  def job(t: TopKTask): (TaskContext, Iterator[InternalRow]) =>
      (Array[Long], Array[Double]) = (_, it) => t.run(it)

  /** Merge the tasks' heaps: the k nearest overall, ascending. */
  def merge(parts: Array[(Array[Long], Array[Double])], k: Int,
      dedup: Boolean): Array[(Long, Double)] = {
    val heap = new TopKHeap(k, dedup)
    parts.foreach { case (ids, ds) =>
      var i = 0
      while (i < ids.length) { heap.offer(ds(i), ids(i)); i += 1 }
    }
    heap.sorted
  }
}

/** The k smallest (dist, id) pairs in Spark's sort order: dist
  * ascending (NaN last, −0.0 = 0.0), then id — a bounded max-heap on
  * primitive arrays. With `dedup`, an id is held at most once: copies
  * of one vector share their distance, so a second copy is a no-op.
  */
private[store] final class TopKHeap(k: Int, dedup: Boolean) {
  private var n = 0
  private var ds = new Array[Double](math.min(k, 16))
  private var ids = new Array[Long](ds.length)
  private val held =
    if (dedup) new java.util.HashSet[java.lang.Long] else null

  private def cmp(d1: Double, i1: Long, d2: Double, i2: Long): Int = {
    val c = if (d1 == d2) 0 else java.lang.Double.compare(d1, d2)
    if (c != 0) c else java.lang.Long.compare(i1, i2)
  }

  def offer(d: Double, id: Long): Unit =
    if (n < k) {
      if (dedup && !held.add(id)) return
      if (n == ds.length) {
        val cap = math.min(k.toLong, ds.length * 2L).toInt
        ds = java.util.Arrays.copyOf(ds, cap)
        ids = java.util.Arrays.copyOf(ids, cap)
      }
      var i = n
      n += 1
      while (i > 0 && cmp(ds((i - 1) / 2), ids((i - 1) / 2), d, id) < 0) {
        ds(i) = ds((i - 1) / 2); ids(i) = ids((i - 1) / 2); i = (i - 1) / 2
      }
      ds(i) = d; ids(i) = id
    } else if (cmp(d, id, ds(0), ids(0)) < 0) {
      if (dedup) {
        if (!held.add(id)) return
        held.remove(ids(0))
      }
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        if (l >= n) done = true
        else {
          val c =
            if (l + 1 < n && cmp(ds(l + 1), ids(l + 1), ds(l), ids(l)) > 0) l + 1
            else l
          if (cmp(ds(c), ids(c), d, id) > 0) {
            ds(i) = ds(c); ids(i) = ids(c); i = c
          } else done = true
        }
      }
      ds(i) = d; ids(i) = id
    }

  /** The held pairs, in heap order. */
  def entries: (Array[Long], Array[Double]) =
    (java.util.Arrays.copyOf(ids, n), java.util.Arrays.copyOf(ds, n))

  /** The held pairs, ascending. */
  def sorted: Array[(Long, Double)] =
    Array.tabulate(n)(i => (ids(i), ds(i)))
      .sortWith((a, b) => cmp(a._2, a._1, b._2, b._1) < 0)
}
