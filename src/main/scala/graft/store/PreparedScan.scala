package graft.store

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.graft.CacheBridge
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel
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
  *    its files from the log ([[PreparedScan.over]]). A file the table
  *    keeps resident (`resident`: a sealed file, see [[IndexTable]]) is
  *    read as its decoded [[PreparedScan.Block]] instead: the first
  *    search that touches it decodes the parquet once, inside its own
  *    task, into Spark's block manager, and every later search scores
  *    the block's flat arrays;
  *  - any other scan (a resident copy, a directory whose paths name no
  *    cell) is planned per snapshot, runs its partitions in as many
  *    tasks and keeps only rows whose grid code is probed.
  *
  * Each task keeps a bounded (dist, id) heap ([[TopKHeap]]); the
  * driver merges the ≤ k rows of each task. Distances are the same
  * left-to-right float→double fold as `vec_l2sq`, in row order, on
  * rows and blocks alike, so a reply is bit-identical to the DataFrame
  * search's.
  */
private[graft] final class PreparedScan private (
    parent: RDD[InternalRow],
    byCell: Option[Map[Int, Seq[(String, PartitionedFile)]]],
    resident: PreparedScan.Resident,
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
    val (groups, blocks, keep) = byCell match {
      case Some(files) =>
        val (groups, blocks) = PreparedScan.pack(
          probed.flatMap(files.getOrElse(_, Nil))
            .map { case (name, f) => (f, resident(name, f)) }, tasks)
        (groups, blocks, null)
      case None =>
        val keep =
          if (probed.size >= gridSize) null
          else {
            val b = new Array[Boolean](gridSize)
            probed.foreach(c => if (c >= 0 && c < gridSize) b(c) = true)
            b
          }
        (PreparedScan.chunk(parent.partitions, tasks),
          Array.empty[PreparedScan.BlockRDD], keep)
    }
    if (groups.isEmpty) return Array.empty
    val task = TopKTask(q, k, dedup, idOrd, embOrd, floatEmb, gridOrd, keep)
    TopKTask.merge(
      sc.runJob(new PreparedScan.ProbeRDD(parent, blocks, groups),
        TopKTask.job(task)),
      k, dedup)
  }
}

private[graft] object PreparedScan {

  /** Scans planned since start-up: a cost counter for the specs. */
  private[graft] val planned = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Files decoded into resident blocks since start-up: a cost counter
    * for the specs (a warm search decodes none).
    */
  private[graft] val decoded = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Probed files that by-cell searches read row by row from parquet
    * (not resident) since start-up: a cost counter for the specs.
    */
  private[graft] val scanned = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A planned parquet scan's reader: it reads any split of files with
    * the schema it was planned for, emitting requiredSchema ++
    * partitionSchema per row.
    */
  final class Reader private[PreparedScan] (val rdd: FileScanRDD,
      val floatEmb: Boolean) {
    val idOrd: Int = rdd.readSchema.fieldIndex("id")
    val embOrd: Int = rdd.readSchema.fieldIndex("embedding")
  }

  /** A logged file's resident block, when its table keeps one: (logged
    * path, split) → the block's RDD ([[block]]), or None to read the
    * file from parquet.
    */
  type Resident = (String, PartitionedFile) => Option[BlockRDD]

  private val NoneResident: Resident = (_, _) => None

  /** One file's (id, embedding) rows, decoded once: the ids and the
    * embeddings as ONE flat row-major n×dim array (`floats`, or
    * `doubles` for double embeddings; the other is null) — no per-row
    * objects. Decoding stops at the first row the distance fold cannot
    * score, a null embedding or a length other than the first row's,
    * and keeps it as (`badId`, `badLen`; −1 = null), so every search of
    * the block fails on that row as the row path does.
    */
  final class Block private[PreparedScan] (val ids: Array[Long],
      val floats: Array[Float], val doubles: Array[Double], val dim: Int,
      val badId: Long, val badLen: Int) extends Serializable

  private val Clean = -2

  /** The block of `rows` (a reader's output: vectorized batches or rows). */
  private def decode(rows: Iterator[InternalRow], idOrd: Int, embOrd: Int,
      floatEmb: Boolean): Block = {
    var n = 0
    var dim = -1
    var ids = new Array[Long](1024)
    var fs = if (floatEmb) new Array[Float](0) else null
    var ds = if (floatEmb) null else new Array[Double](0)
    var badId = 0L
    var badLen = Clean
    def add(r: InternalRow): Unit =
      if (r.isNullAt(embOrd)) { badId = r.getLong(idOrd); badLen = -1 }
      else {
        val e = r.getArray(embOrd)
        val len = e.numElements()
        if (dim < 0) dim = len
        if (len != dim) { badId = r.getLong(idOrd); badLen = len }
        else {
          if (n == ids.length) ids = java.util.Arrays.copyOf(ids, n * 2)
          ids(n) = r.getLong(idOrd)
          val o = n * dim
          var j = 0
          if (floatEmb) {
            if (o + dim > fs.length)
              fs = java.util.Arrays.copyOf(fs, math.max(o + dim, fs.length * 2))
            while (j < dim) { fs(o + j) = e.getFloat(j); j += 1 }
          } else {
            if (o + dim > ds.length)
              ds = java.util.Arrays.copyOf(ds, math.max(o + dim, ds.length * 2))
            while (j < dim) { ds(o + j) = e.getDouble(j); j += 1 }
          }
          n += 1
        }
      }
    while (badLen == Clean && rows.hasNext) (rows.next(): Any) match {
      case b: ColumnarBatch =>
        val it = b.rowIterator()
        while (badLen == Clean && it.hasNext) add(it.next())
      case r: InternalRow => add(r)
    }
    val d = math.max(dim, 0)
    new Block(java.util.Arrays.copyOf(ids, n),
      if (floatEmb) java.util.Arrays.copyOf(fs, n * d) else null,
      if (floatEmb) null else java.util.Arrays.copyOf(ds, n * d),
      d, badId, badLen)
  }

  /** `file`'s block: a one-partition RDD over `r`, persisted
    * MEMORY_ONLY, named by `name`. Its partition decodes the file
    * when a task first asks for it ([[ProbeRDD]]); Spark's memory
    * manager accounts for the block and may evict it, and the next
    * search then decodes it again.
    */
  def block(r: Reader, file: PartitionedFile, name: String): BlockRDD = {
    val b = new BlockRDD(r.rdd, file, r.idOrd, r.embOrd, r.floatEmb)
    b.setName(name).persist(StorageLevel.MEMORY_ONLY)
    b
  }

  final class BlockRDD private[PreparedScan] (reader: FileScanRDD,
      file: PartitionedFile, idOrd: Int, embOrd: Int, floatEmb: Boolean)
      extends RDD[Block](reader.sparkContext, Nil) {
    @transient private var used = false

    /** True the first time a search asks: see [[ProbeRDD]]. */
    private[PreparedScan] def firstUse(): Boolean = synchronized {
      val first = !used
      used = true
      first
    }

    override protected def getPartitions: Array[Partition] = Array(Whole)
    override def compute(split: Partition, ctx: TaskContext): Iterator[Block] = {
      decoded.incrementAndGet()
      Iterator.single(decode(reader.iterator(FilePartition(0, Array(file)), ctx),
        idOrd, embOrd, floatEmb))
    }
  }

  /** The one partition of a [[BlockRDD]]. */
  private object Whole extends Partition { override def index: Int = 0 }

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
    * one, else the whole scan filtered by grid code. Nothing is
    * resident.
    */
  def apply(df: DataFrame, layout: Layout): PreparedScan = {
    val (qe, floatEmb, reader) = plan(df, layout)
    reader.flatMap(r => over(r,
        r.rdd.filePartitions.flatMap(_.files).map(f => f.filePath.toString -> f),
        layout, NoneResident))
      .getOrElse(new PreparedScan(qe.toRdd, None, NoneResident, 0, 1, 2,
        floatEmb, layout.gridSize))
  }

  /** Plan `df`'s parquet reader alone, to scan later snapshots of the
    * same schema through [[over]]; None when `df` is not a file scan.
    */
  def reader(df: DataFrame, layout: Layout): Option[Reader] =
    plan(df, layout)._3

  /** `files` (logged path, split) through a reader planned earlier,
    * grouped by the grid cell the current `layout` parses from each
    * path, each read from its `resident` block when there is one; None
    * when a path names no cell.
    */
  def over(r: Reader, files: Seq[(String, PartitionedFile)], layout: Layout,
      resident: Resident): Option[PreparedScan] = {
    val cells = files.map(f => layout.cellOf(f._2.filePath.toString))
    if (cells.forall(_.nonEmpty))
      Some(new PreparedScan(r.rdd,
        Some(files.zip(cells.flatten).groupMap(_._2)(_._1)), resident,
        r.idOrd, r.embOrd, -1, r.floatEmb, layout.gridSize))
    else None
  }

  /** Files into ≤ `n` groups, largest first onto the lightest group,
    * and the blocks the groups name: a file with a block is read from
    * it, any other from parquet.
    */
  private def pack(files: Seq[(PartitionedFile, Option[BlockRDD])],
      n: Int): (Array[Group], Array[BlockRDD]) = {
    if (files.isEmpty) return (Array.empty, Array.empty)
    val blocks = Array.newBuilder[BlockRDD]
    var nb = 0
    val bins = Array.fill(math.min(n, files.size))(
      (Vector.newBuilder[PartitionedFile], Array.newBuilder[Int]))
    val load = new Array[Long](bins.length)
    files.sortBy(-_._1.length).foreach { case (f, b) =>
      val i = load.indices.minBy(load(_))
      b match {
        case Some(rdd) => blocks += rdd; bins(i)._2 += nb; nb += 1
        case None => bins(i)._1 += f
      }
      load(i) += f.length
    }
    scanned.addAndGet(files.size - nb)
    val groups = bins.zipWithIndex.map { case ((fs, bs), i) =>
      val rows = fs.result()
      Group(i,
        if (rows.isEmpty) Array.empty
        else Array[Partition](FilePartition(i, rows.toArray)),
        bs.result())
    }
    (groups, blocks.result())
  }

  /** Partitions into ≤ `n` contiguous groups. */
  private def chunk(parts: Array[Partition], n: Int): Array[Group] =
    if (parts.isEmpty || n < 1) Array.empty
    else parts.grouped((parts.length + n - 1) / n).zipWithIndex
      .map { case (g, i) => Group(i, g, Array.empty) }.toArray

  /** The search's tasks: task i scores the blocks `groups(i)` names
    * (one of `blocks` each, read through the block manager: cached, or
    * decoded here and cached) and then reads its splits of the planned
    * scan, in order. Split lists differ per search, so they are this
    * RDD's partitions rather than the parent's; the parent is a scan
    * with no shuffle below it, which the task reads directly. A task
    * prefers the executors caching its blocks. The first search that
    * reads a block also declares it a narrow dependency, which is how
    * Spark's storage status learns of it (`sc.getRDDStorageInfo`); a
    * dependency costs the scheduler and the status listener work on
    * every job, so later searches name the block only here.
    */
  private final class ProbeRDD(parent: RDD[InternalRow],
      blocks: Array[BlockRDD], @transient groups: Array[Group])
      extends RDD[Any](parent.sparkContext, groups.toSeq.flatMap(g =>
        g.blocks.filter(blocks(_).firstUse())
          .map(b => new BlockDep(blocks(b), g.index)))) {
    override protected def getPartitions: Array[Partition] =
      groups.map(g => g: Partition)
    override protected def getPreferredLocations(split: Partition): Seq[String] =
      split.asInstanceOf[Group].blocks.toSeq
        .flatMap(i => CacheBridge.cachedAt(blocks(i))).distinct
    override def compute(split: Partition, ctx: TaskContext): Iterator[Any] = {
      val g = split.asInstanceOf[Group]
      g.blocks.iterator.flatMap(blocks(_).iterator(Whole, ctx)) ++
        g.parts.iterator.flatMap(parent.iterator(_, ctx))
    }
  }

  private final case class Group(index: Int, parts: Array[Partition],
      blocks: Array[Int]) extends Partition

  /** A block read by the task of partition `task` alone. */
  private final class BlockDep(rdd: BlockRDD, task: Int)
      extends NarrowDependency[Block](rdd) {
    override def getParents(partitionId: Int): Seq[Int] =
      if (partitionId == task) Seq(0) else Nil
  }
}

/** One search task: score every row of a scan against `q` and keep
  * the k nearest. Rows come as resident blocks, vectorized batches or
  * rows; `keep`, when set, admits only rows whose grid code (column
  * `gridOrd`) it marks.
  */
private[store] final case class TopKTask(q: Array[Double], k: Int,
    dedup: Boolean, idOrd: Int, embOrd: Int, floatEmb: Boolean,
    gridOrd: Int, keep: Array[Boolean]) {

  def run(it: Iterator[Any]): (Array[Long], Array[Double]) = {
    val heap = new TopKHeap(k, dedup)
    it.foreach {
      case b: PreparedScan.Block => scoreBlock(b, heap)
      case b: ColumnarBatch =>
        val rows = b.rowIterator()
        while (rows.hasNext) score(rows.next(), heap)
      case r: InternalRow => score(r, heap)
    }
    heap.entries
  }

  private def score(r: InternalRow, heap: TopKHeap): Unit =
    if (keep == null || (!r.isNullAt(gridOrd) && {
      val g = r.getInt(gridOrd)
      g >= 0 && g < keep.length && keep(g)
    })) {
      if (r.isNullAt(embOrd)) TopKTask.nullEmbedding(r.getLong(idOrd))
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

  /** [[score]] over a block's rows, in row order, then its bad row. */
  private def scoreBlock(b: PreparedScan.Block, heap: TopKHeap): Unit = {
    val n = b.ids.length
    val d = b.dim
    if (n > 0 && d != q.length) VecEval.foldLenMismatch("vec_l2sq", d, q.length)
    var i = 0
    if (b.floats != null) {
      val v = b.floats
      while (i < n) {
        val o = i * d
        var acc = 0.0
        var j = 0
        while (j < d) { val x = v(o + j).toDouble - q(j); acc += x * x; j += 1 }
        heap.offer(acc, b.ids(i))
        i += 1
      }
    } else {
      val v = b.doubles
      while (i < n) {
        val o = i * d
        var acc = 0.0
        var j = 0
        while (j < d) { val x = v(o + j) - q(j); acc += x * x; j += 1 }
        heap.offer(acc, b.ids(i))
        i += 1
      }
    }
    if (b.badLen == -1) TopKTask.nullEmbedding(b.badId)
    if (b.badLen >= 0) VecEval.foldLenMismatch("vec_l2sq", b.badLen, q.length)
  }
}

private[store] object TopKTask {

  /** The task function. It is written here, in a small object, because
    * `runJob` cleans its function, which reads the bytecode of the
    * class that wrote it.
    */
  def job(t: TopKTask): (TaskContext, Iterator[Any]) =>
      (Array[Long], Array[Double]) = (_, it) => t.run(it)

  // the DataFrame search would rank this row first with a null
  // distance, which no (id, dist) reply can carry
  def nullEmbedding(id: Long): Nothing =
    throw new IllegalStateException(s"row id $id has a null embedding")

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
