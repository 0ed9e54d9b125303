package graft

import graft.ops.{Layout, Maintenance, Similarity}
import org.apache.spark.sql.functions._

/** Edge posture of the ninth-batch operators: undersized cells, oversized
  * shards, degenerate key ranges, sub-topK cardinalities, exact ties.
  * Small adversarial fixtures staged as parquet dirs so the operators run
  * their real read paths. */
class BatchNineEdgeSpec extends SparkSpec {

  private def stage(dir: String, table: String)(df: org.apache.spark.sql.DataFrame): String = {
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$table.parquet")
    dir
  }

  test("knn graph: a cell smaller than k+1 yields a short but contiguous " +
    "neighbor list; a singleton cell yields no rows, not an error") {
    import spark.implicits._
    val dir = tmpDir("knn-edge")
    // label 0: three vectors (k=3 wants 3 neighbors, only 2 exist);
    // label 1: a singleton — no possible neighbor
    stage(dir, "embeddings")(Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.0f, 1.0f), 0),
      (3L, Array(1.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label"))
    val rows = Similarity.knnGraph(spark, dir, k = 3).collect()
    val bySrc = rows.groupBy(_.getLong(0))
    assert(bySrc.keySet === Set(0L, 1L, 2L), "the singleton emits nothing")
    bySrc.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq === (1 to rs.length),
        "short lists stay contiguous from rank 1")
      assert(rs.length === 2, "two cell-mates available")
    }
  }

  test("top-k aggregate: exact score ties resolve to the lowest id, " +
    "identically to the window formulation") {
    import spark.implicits._
    val scored = Seq((1L, 10L, 0.5), (1L, 7L, 0.5), (1L, 9L, 0.5), (1L, 3L, 0.1))
      .toDF("src_id", "n_id", "cos")
    val got = scored.groupBy(col("src_id"))
      .agg(graft.functions.TopKAgg(2, col("cos"), col("n_id")).as("nn"))
      .select(col("src_id"), posexplode(col("nn")).as(Seq("pos", "s")))
      .select(col("s._2")).collect().map(_.getLong(0)).toSeq
    assert(got === Seq(7L, 9L), "ties break by ascending id")
  }

  test("zorder: a constant column (zero range) degenerates gracefully to a " +
    "single-dimension sort, every z-value still well-defined") {
    import spark.implicits._
    val dir = tmpDir("z-edge")
    stage(dir, "orders")(Seq(
      (1L, 7L, java.sql.Timestamp.valueOf("1995-01-01 00:00:00")),
      (2L, 7L, java.sql.Timestamp.valueOf("1996-06-01 00:00:00")),
      (3L, 7L, java.sql.Timestamp.valueOf("1997-12-01 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate"))
    val rows = Layout.zorderKeys(spark, dir).collect()
    assert(rows.length === 3)
    // constant custkey scales to a constant xs; ordering by zval must then
    // equal ordering by date
    val byZ = rows.sortBy(_.getLong(1)).map(_.getLong(0)).toSeq
    assert(byZ === Seq(1L, 2L, 3L))
    rows.foreach(r => assert(r.getLong(1) >= 0L))
  }

  test("compaction plan: an oversized shard takes bins of its own without " +
    "blocking its neighbors") {
    import spark.implicits._
    val dir = tmpDir("compact-edge")
    // shard 1 carries ~5x the target; shards 0 and 2 are tiny
    val target = 1000L
    stage(dir, "documents")(Seq(
      (0L, "x" * 100), (1L, "y" * 5000), (2L, "z" * 100))
      .toDF("doc_id", "text"))
    val plan = Maintenance.compactionPlan(spark, dir, shards = 3,
      targetBytes = target).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(plan.map(_._1).toSeq === Seq(0L, 1L, 2L))
    val bins = plan.map(_._3)
    assert(bins.toSeq === bins.sorted.toSeq)
    // the tiny shard AFTER the giant lands in a LATER bin — the cumsum
    // jump isolates the giant instead of packing the neighbor behind it
    assert(bins(2) > bins(1),
      s"shard after an oversized shard must open a fresh bin: $plan")
  }

  test("skew report: fewer distinct keys than topK yields that many rows " +
    "with consistent stats") {
    import spark.implicits._
    val dir = tmpDir("skew-edge")
    stage(dir, "orders")(Seq(
      (1L, 100L), (2L, 100L), (3L, 100L), (4L, 200L))
      .toDF("o_orderkey", "o_custkey"))
    val rows = Maintenance.skewReport(spark, dir, topK = 5).collect()
    assert(rows.length === 2, "only two distinct keys exist")
    assert(rows.map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(rows.head.getLong(1) === 100L, "rank 1 is the 3x key")
    assert(rows.head.getLong(2) === 3L)
  }

  test("scd2 as-of: exactly one version per key contains the instant, and " +
    "it is the latest version that began on or before it") {
    import graft.ops.{Relational, Tables}
    val snap = Relational.scd2AsOf(spark, sf).collect()
    assert(snap.nonEmpty)
    assert(snap.map(_.getLong(0)).distinct.length === snap.length,
      "the interval partition admits one version per key at any instant")
    val hist = Relational.scd2(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mid = Tables.events(spark, sf)
      .agg((min(unix_timestamp(col("ts"))) +
        max(unix_timestamp(col("ts")))) / 2).head().getDouble(0).toLong
    snap.foreach { r =>
      val expect = hist.filter(h => h._1 == r.getLong(0) && h._3 <= mid)
        .maxBy(h => (h._3, h._2))
      assert((r.getLong(1), r.getLong(2)) === ((expect._2, expect._3)),
        s"user ${r.getLong(0)}: as-of row must be the latest version at T")
    }
  }

  test("normalized dedup: conserves the corpus, only MERGES raw-exact " +
    "groups, and catches an injected reformat the raw digest misses") {
    import spark.implicits._
    val dir = tmpDir("norm-dedup")
    stage(dir, "documents")(Seq(
      (0L, "The cat sat. On the mat."),
      (1L, "  the CAT  sat; on the mat!  "), // same doc, reformatted
      (2L, "The cat sat. On the mat."),     // raw-exact copy of 0
      (3L, "an entirely different text"))
      .toDF("doc_id", "text"))
    val norm = graft.ops.Dedup.exactNormalized(spark, dir).collect()
    val raw = graft.ops.Dedup.exact(spark, dir).collect()
    assert(norm.map(_.getLong(2)).sum === 4L, "every doc lands in one group")
    assert(raw.length === 3, "raw digest sees the reformat as distinct")
    assert(norm.length === 2, "normalization merges the reformat")
    val merged = norm.find(_.getLong(2) === 3L).get
    assert(merged.getLong(1) === 0L, "keeper is the min id across the merge")
    assert(merged.getLong(3) === 2L, "two raw variants inside the merged group")
    assert(norm.length <= raw.length,
      "normalization can only merge raw-exact groups, never split them")
  }
}
