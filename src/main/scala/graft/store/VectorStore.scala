package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}
import graft.lsh.{LshConfig, LshModel}

/** Spark-native facade over the reference's coordinator+shard API
  * (SURVEY §2.7): `add` (ingest + LSH bucketing), `search` (pruned or
  * exact kNN over the probed buckets, with an optional metadata
  * filter — the reference lists filtered search as future work,
  * `generate_report.py:298`), `stats` (per-bucket statistics). The
  * search and mutation rules are the [[IndexTable]] kernel's; this
  * layout declares the bucket partitioning and its probe ranking.
  *
  * The "index" is a bucket-partitioned parquet table plus the persisted
  * seeded projection matrix: index build = normalize-free LSH bucket
  * assignment + `partitionBy("bucket")` write (the shuffle *is* the
  * reference's scatter, SURVEY §3.2); search = partition-pruned scan +
  * distance + `TakeOrderedAndProject` top-k (the per-partition heap +
  * driver merge is structurally the reference's scatter-gather,
  * `coordinator/coordinator.py:210-249`).
  *
  * Semantics preserved from the reference:
  *  - k <= 0 is clamped to 1 (`coordinator/coordinator.py:144-147`);
  *  - k > table size returns all rows (`shard/shard_node.py:118-120`);
  *  - empty index → empty result, no error (`shard/shard_node.py:122-124`);
  *  - distance is squared L2 (`shard/shard_node.py:127`), ties broken by
  *    id for determinism (the reference's argsort tie order is
  *    unspecified).
  */
final class VectorStore(
    spark: SparkSession,
    val path: String,
    val model: LshModel) extends IndexTable(spark, path) {

  protected val layout: Layout = Layout(Seq("bucket" -> model.numBuckets))

  protected def encode(df: DataFrame, idCol: String, embCol: String): DataFrame =
    VectorStore.bucketize(df, model, idCol, embCol)

  /** LSH buckets by multi-probe rank: the query's own bucket, then
    * its boundary-bit flips ([[LshModel.candidates]]).
    */
  protected def probeOrder(q: Array[Double]): Seq[Int] =
    model.candidates(q, model.numBuckets)

  /** Per-bucket stats (reference `/stats` fan-out + shard-distribution
    * analysis, SURVEY §2.6 A3–A5).
    */
  def stats(): DataFrame = VectorStore.statsOf(indexDf, model.cfg.dim)

  /** Reshard into a NEW bucket layout at `newPath` (e.g. more hash
    * tables once the corpus outgrows the old partition count) — the
    * index-migration move: one re-bucketing shuffle + partitioned
    * write, no driver-side data. Exact search is invariant under
    * resharding (buckets only prune), which the spec asserts; pruned
    * recall changes with the layout, as it must.
    */
  def reshard(newPath: String, newCfg: LshConfig): VectorStore =
    VectorStore.build(spark, indexDf.drop("bucket"), newPath, newCfg)
}

object VectorStore {

  /** Count parquet data files under the index path (compaction metric). */
  private[graft] def countDataFiles(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** Assign the LSH bucket column. Narrow, shuffle-free. Columns other
    * than id/embedding ride along as searchable metadata.
    */
  def bucketize(df: DataFrame, model: LshModel,
                idCol: String = "id", embCol: String = "embedding"): DataFrame = {
    val meta = df.columns.toSeq
      .filterNot(c => c == idCol || c == embCol).map(col)
    df.select(col(idCol).cast("long").as("id") +:
        col(embCol).as("embedding") +: meta: _*)
      .withColumn("bucket", model.bucketCol(col("embedding")))
  }

  /** Exact kNN on any (id, embedding) frame: distance + global top-k.
    * Plans as scan → WSCG distance → TakeOrderedAndProject: each
    * partition keeps a k-heap, the driver merges — no full sort, no
    * shuffle of the data.
    */
  def searchIn(df: DataFrame, q: Array[Double], k: Int,
               idCol: String = "id", embCol: String = "embedding"): DataFrame = {
    val kk = math.max(1, k) // reference k-clamp: k<=0 → 1
    df.select(col(idCol).as("id"),
        VF.l2sqLit(col(embCol), q).as("dist"))
      .orderBy(col("dist"), col("id"))
      .limit(kk)
  }

  /** Build a store: write the bucketed table, one writer task per
    * bucket, and persist the model.
    */
  def build(spark: SparkSession, df: DataFrame, path: String,
            cfg: LshConfig, idCol: String = "id",
            embCol: String = "embedding"): VectorStore = {
    val model = LshModel(cfg)
    val store = new VectorStore(spark, path, model)
    IndexTable.create(spark, path, bucketize(df, model, idCol, embCol),
      store.layout)
    model.save(s"$path/_lsh_model.json")
    store
  }

  def open(spark: SparkSession, path: String): VectorStore =
    new VectorStore(spark, path, LshModel.load(s"$path/_lsh_model.json"))

  /** Reference stats record as a DataFrame: per-bucket count, share of
    * total, estimated memory (ntotal·(dim·4+8) bytes,
    * `shard/shard_node.py:153-159`), plus the global imbalance factor
    * (max−min)/avg (`performance_analysis.py:224-235`).
    */
  def statsOf(indexDf: DataFrame, dim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(1))
    indexDf.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
      .withColumn("pct", round(col("cnt").cast("double") / sum("cnt").over(w), 6))
      .withColumn("memory_mb",
        round(col("cnt") * (dim.toLong * 4 + 8) / lit(1048576.0), 6))
      .withColumn("imbalance",
        round((max("cnt").over(w) - min("cnt").over(w)).cast("double") /
          avg("cnt").over(w), 6))
      .orderBy("bucket")
  }
}
