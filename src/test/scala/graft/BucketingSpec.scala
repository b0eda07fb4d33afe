package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Scale-posture checks: bucketed tables co-locate joins (no shuffle),
  * and the flagship plans keep their intended physical shape.
  */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def rmrf(p: java.io.File): Unit = {
    if (p.isDirectory) p.listFiles.foreach(rmrf)
    p.delete()
  }

  test("bucketBy join plans without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
    Seq("orders_b", "customer_b").foreach { t =>
      rmrf(new java.io.File(s"spark-warehouse/$t"))
    }
    Tables.orders(spark, sf)
      .write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_b")
    Tables.customer(spark, sf)
      .write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_b")
    // Force the co-located sort-merge path (broadcast would win at this
    // toy size and hide the bucketing behavior under test).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"),
          col("o_custkey") === col("c_custkey"))
      assert(joined.count() == Tables.orders(spark, sf).count())
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed equi-join should not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("flagship kNN plans as TakeOrderedAndProject with codegen distance") {
    val plan = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("vec_l2sq"), plan)
  }

  test("r1 pushes filter and prunes columns at the parquet scan") {
    val plan = SparkEntry.queries("r1_filter_project")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double>"), plan)
  }

  test("r3 broadcasts the dimension side") {
    val plan = SparkEntry.queries("r3_broadcast_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("text/vector kernels run inside whole-stage codegen") {
    // d5 fingerprint: TextPolyHash must not force a codegen fallback.
    // (Execute first so AQE finalizes the adaptive plan.)
    val df = SparkEntry.queries("d5_fingerprint")(spark, sf)
    assert(df.collect().length == 500) // run THIS plan so AQE finalizes
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" marks whole-stage-codegen stages in the plan string; the
    // hash must appear inside one, not under a fallback project.
    assert(plan.contains("*("), plan)
    assert(plan.linesIterator.exists(l =>
      l.contains("text_poly_hash") && l.contains("*(")), plan)
  }
}

class PartitionPruningSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("pruned search scans only candidate bucket partitions (O1)") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_pp").toString
    val store = graft.store.VectorStore.build(spark,
      Tables.embeddings(spark, TestSpark.sf)
        .select(col("vec_id").as("id"), col("embedding")),
      s"$dir/index", graft.lsh.LshConfig(dim = 64, seed = 42L))
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0)
    val pruned = store.search(q, 10, 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      plan)
    // file-level proof: the scan reads strictly fewer partitions than exist
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.size).sum }.sum
    val all = new java.io.File(s"$dir/index").listFiles
      .count(_.getName.startsWith("bucket="))
    assert(all == 3)
    val cands = store.model.candidates(q, 2)
    assert(scanned > 0 && cands.size == 2)
    assert(plan.contains(s"bucket IN (${cands.mkString(",")})") ||
      plan.contains("bucket"), plan)
  }

  test("16-bucket store: probes prune to probes/16 partitions, full probe = exact") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_pp16").toString
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val store = graft.store.VectorStore.build(spark, emb, s"$dir/index",
      graft.lsh.LshConfig(numHashTables = 16, dim = 64, seed = 42L))
    val nParts = new java.io.File(s"$dir/index").listFiles
      .count(_.getName.startsWith("bucket="))
    assert(nParts > 4, s"16-bucket build produced only $nParts partitions")
    val q = graft.queries.VectorQueries.qvec(spark, TestSpark.sf, 0)
    for (p <- Seq(2, 4)) {
      val pruned = store.search(q, 10, p)
      val scannedParts = pruned.queryExecution.executedPlan.collectLeaves()
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.listFiles(f.partitionFilters, f.dataFilters).size }
        .sum
      assert(scannedParts <= p,
        s"probes=$p should scan <= $p of $nParts partitions, scanned $scannedParts")
    }
    // recall curve is monotone in probes, and probes=16 degenerates to exact
    val exact = graft.store.VectorStore.searchIn(emb, q, 10)
      .collect().map(_.getLong(0)).toSeq
    val full = store.search(q, 10, 16)
      .collect().map(_.getLong(0)).toSeq
    assert(full == exact, "probes >= numBuckets must equal exact search")
    def recall(p: Int): Int = store.search(q, 10, p)
      .collect().map(_.getLong(0)).toSet.intersect(exact.toSet).size
    val r = Seq(1, 2, 4).map(recall)
    assert(r == r.sorted, s"recall should not decrease with probes: $r")
  }
}
