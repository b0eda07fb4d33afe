package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.server.Json
import graft.util.FsIo

/** Measured recall curves: the one certification rule, the one
  * sidecar format they are persisted in, and the one audit aggregate
  * that measures them. Every depth picker applies the rule:
  * [[IndexTable.depthForRecall]] (and through it every store's
  * `searchAtRecall` and every facade adapter's `probesFor`) and
  * [[QuantIndex.coarseNForRecall]] (and through it `searchAdcAtRecall`).
  *
  * Certification: a persisted curve certifies ONLY the k it was
  * audited at — recall@10 at a fixed depth bounds neither recall@50
  * (more rows wanted than measured) nor recall@5 (the misses can
  * concentrate in the top 5) — so any other k yields None and the
  * caller takes its probe-everything/exact path. Changing the rule
  * (per-k curves, a one-sided guarantee) is a change HERE.
  */
object RecallCurves {

  /** Smallest measured depth whose recall meets `minRecall`, ONLY when
    * `curve` was audited at exactly `k`. None = not certifiable: no
    * curve, a different audited k, or a target above every measured
    * point.
    */
  private[graft] def certifiedDepth(curve: Option[Curve], k: Int,
      minRecall: Double): Option[Int] =
    curve.filter(_.k == k).flatMap { c =>
      val i = c.recall.indexWhere(_ >= minRecall)
      if (i < 0) None else Some(c.depth(i))
    }

  /** A persisted curve: recall@`k` over a `panel`-query audit, one
    * point per depth. `depths` is empty for the probe-depth curves
    * (depth i+1 for point i) and explicit for the coarseN curves.
    */
  private[graft] final case class Curve(k: Int, panel: Int, depths: Seq[Int],
      recall: Seq[Double]) {
    /** The depth of point `i`. */
    def depth(i: Int): Int = if (depths.isEmpty) i + 1 else depths(i)
  }

  /** Persist `c` at `path` (on the index's filesystem, which may be
    * hdfs:// or s3a://), atomically: a concurrent recall-targeted
    * search reads the old curve or the new one, never a torn file.
    * Recall values are written with `%.17e`, an exact double round-trip.
    */
  private[graft] def write(path: String, c: Curve): Unit =
    FsIo.writeStringAtomic(path, render(c))

  private[graft] def render(c: Curve): String =
    s"""{"k":${c.k},"panel":${c.panel},""" +
      (if (c.depths.isEmpty) "" else s""""depths":${c.depths.mkString("[", ",", "]")},""") +
      s""""recall":${c.recall.map(d => f"$d%.17e").mkString("[", ",", "]")}}"""

  /** The curve persisted at `path`, if any. One read, no `exists`
    * probe first: a commit deletes the curve concurrently with
    * recall-targeted searches, and a file gone between the probe and
    * the read must mean "no curve" (the exact fallback), not an error.
    */
  private[graft] def read(path: String): Option[Curve] =
    try Some(parse(FsIo.readString(path)))
    catch { case _: java.io.FileNotFoundException => None }

  private[graft] def parse(text: String): Curve = {
    val m = Json.parse(text).asInstanceOf[Map[String, Any]]
    def arr(key: String): Vector[Any] =
      m.get(key).map(_.asInstanceOf[Vector[Any]]).getOrElse(Vector.empty)
    Curve(Json.asLong(m("k")).toInt, Json.asLong(m("panel")).toInt,
      arr("depths").map(Json.asLong(_).toInt), arr("recall").map(Json.asDouble))
  }

  /** Mean recall@k per probe depth, in ONE pass over `scored`: one row
    * per (query `qid`, candidate `id`) with its exact distance `dd`
    * and `pos`, the 1-based position of the row's partition in the
    * query's probe order (0 or null when never probed). For each query
    * the exact top-k and every depth's probed top-k are FILTERed
    * [[graft.functions.TopKAgg]]s over the same pass — depth-p
    * membership is `pos BETWEEN 1 AND p`, valid because every depth-p
    * probe list is a prefix of the query's full ranking. Returns one
    * row, one average per depth in `depths` order.
    */
  private[store] def recallByDepth(scored: DataFrame, k: Int,
      depths: Seq[Int]): DataFrame = {
    val aggs =
      graft.functions.TopKAgg(col("id"), col("dd"), k).as("ex") +:
        depths.map(p => graft.functions.TopKAgg.filtered(scored.sparkSession,
          "id", "dd", k, s"pos BETWEEN 1 AND $p").as(s"pr_$p"))
    val perQuery = scored.groupBy("qid").agg(aggs.head, aggs.tail: _*)
      .select(depths.map { p =>
        (size(array_intersect(
          expr("transform(ex, x -> x._1)"),
          expr(s"transform(pr_$p, x -> x._1)"))).cast("double") /
          size(col("ex"))).as(s"r_$p")
      }: _*)
    perQuery.agg(avg(col(s"r_${depths.head}")),
      depths.tail.map(p => avg(col(s"r_$p"))): _*)
  }
}
