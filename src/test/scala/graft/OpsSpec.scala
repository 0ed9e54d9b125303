package graft

import graft.ops._
import org.apache.spark.sql.functions._

/** Sanity specs for the LLM-pipeline operators beyond the DuckDB oracle
  * (which pins exact values at sf0.01 via Verify). */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("entry works on a driver-shaped session without graft configs") {
    // the driver smoke-checks entry() with ITS session, which won't carry
    // nanosAsLong etc. — entry must not depend on GraftSession settings
    // reset EVERY graft-specific conf the clone inherits, not just
    // nanosAsLong (review r11: UTC/excluded-rules/shuffle-partitions rode
    // along, so the independence claim was mostly unverified)
    val plain = spark.newSession()
    plain.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    plain.conf.set("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID)
    plain.conf.set("spark.sql.optimizer.excludedRules", "")
    plain.conf.set("spark.sql.shuffle.partitions", "200")
    assert(SparkEntry.entry(plain).count() > 0)
  }

  test("every oracle key has a declared query (the 'every query RUNS' " +
    "half is the Verify gate's job — many builders are effectful " +
    "streaming/maintenance lifecycles, so constructing all 180 here would " +
    "re-run the gate; review r11 retitled this from an overclaim)") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("minhash LSH recovers the exact n-gram near-dup pairs at sf0.001") {
    val exact = Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, // review r11: empty==vacuous subset+recall pass
      "the fixture must plant near-dup pairs for this test to mean anything")
    val lsh = Dedup.minhashLsh(spark, sf).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    // verification step makes LSH precise; recall should be high (>=90%)
    assert(lsh.subsetOf(exact))
    assert(lsh.size >= (exact.size * 9) / 10)
  }

  test("simhash pairs include the strongest near-dups") {
    val exact = Dedup.ngramJaccard(spark, sf, threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val sim = Dedup.simhashPairs(spark, sf, maxHamming = 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val recall = exact.count(sim.contains).toDouble / math.max(exact.size, 1)
    assert(recall >= 0.8, s"simhash recall $recall over ${exact.size} pairs")
  }

  test("ANN LSH results are a subset of brute-force candidates' quality") {
    val bf = Similarity.bruteForceTopK(spark, sf).collect()
    val lsh = Similarity.lshTopK(spark, sf).collect()
    assert(bf.length === 50) // 10 queries x top-5
    assert(lsh.nonEmpty)
    // approximate results can't beat the exact top-1 per query
    val bfTop = bf.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cosine")).toMap
    lsh.filter(_.getAs[Int]("rank") == 1).foreach { r =>
      assert(r.getAs[Double]("cosine") <= bfTop(r.getAs[Long]("q_id")) + 1e-9)
    }
    // multi-table recall floor: deterministic seeds => deterministic recall.
    // Observed 28/50 at sf0.001 (near-random embeddings are LSH's worst
    // case); the floor guards against a regression back to the single-table
    // shape's 6/50 without over-pinning the parametrization.
    val bfSet = bf.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val hits = lsh.count(r => bfSet((r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))))
    assert(hits.toDouble / bf.length >= 0.4,
      s"ANN LSH neighbor recall $hits/${bf.length} below floor 0.4")
  }

  test("approx_count_distinct stays within its error bound") {
    val r = Relational.approxDistinct(spark, sf).head()
    assert(r.getAs[Boolean]("within_5pct"),
      s"exact=${r.getAs[Long]("exact_cust")} estimate outside 5% bound")
  }

  test("multimodal: magic-byte sniffing identifies every genuine container " +
    "in the mixed corpus — all three modalities present, zero misses") {
    val rows = Multimodal.sniffMeta(spark, sf).collect()
    assert(rows.length === ops.Tables(spark, sf, "documents").count())
    rows.foreach(r => assert(r.container_ok,
      s"doc ${r.doc_id}: sniffed ${r.format}, expected ${r.expected}"))
    assert(rows.map(_.format).toSet === Set("png", "wav", "txt"),
      "the mixed view must exercise all three container types")
  }

  test("multimodal: feature extraction yields normalized fixed-dim vectors that feed ANN") {
    val feats = Multimodal.featureExtract(spark, sf, dims = 16).collect()
    assert(feats.length === ops.Tables(spark, sf, "documents").count())
    feats.foreach { f =>
      assert(f.feature.length === 16)
      assert(math.abs(f.feature.sum - 1f) < 1e-3) // L1-normalized histogram
    }
    // deterministic: a second run is byte-identical
    val again = Multimodal.featureExtract(spark, sf, dims = 16).collect()
    assert(feats.sortBy(_.doc_id).map(_.feature.toSeq).toSeq ===
      again.sortBy(_.doc_id).map(_.feature.toSeq).toSeq)
  }

  test("multimodal: resize emits constant-size thumbnails") {
    val thumbs = Multimodal.resize(spark, sf, outBytes = 32).collect()
    assert(thumbs.nonEmpty)
    thumbs.foreach(t => assert(t.thumb.length === 32))
  }

  test("frame sampling produces the expected batch shape") {
    val frames = Multimodal.frameSample(spark, sf, frameSize = 64, every = 4)
    assert(frames.columns.toSeq === Seq("doc_id", "frame_no", "frame"))
    val one = frames.filter(col("doc_id") === 0).orderBy("frame_no").collect()
    assert(one.nonEmpty)
    assert(one.head.getAs[Int]("frame_no") === 0)
    assert(one.head.getAs[Array[Byte]]("frame").length <= 64)
  }

  test("dedup tiers survive docs with fewer than 3 tokens (ANSI mode)") {
    // ADVICE r01: short docs must yield ZERO shingles (like the oracle's
    // generate_series(1, len-2)), not crash element_at under ANSI
    val dir = tmpDir("shortdocs")
    Seq(
      (0L, ""), (1L, "one"), (2L, "two words"),
      (3L, "three little words"),
      (4L, "a longer sentence that repeats a longer sentence that repeats"),
      (5L, "a longer sentence that repeats a longer sentence that repeats"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val ngram = Dedup.ngramJaccard(spark, dir).collect()
    assert(ngram.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((4L, 5L)))
    assert(Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((4L, 5L)))
    assert(Dedup.simhash(spark, dir).count() === 6) // fingerprints all docs
    // pipeline's exact tier collapses 4/5 into one survivor -> no pairs left
    assert(Dedup.dedupPipeline(spark, dir).count() === 0)
  }

  test("ngram dedup survives duplicate doc_ids (contract violation degrades, not crashes)") {
    val dir = tmpDir("dupids")
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"), // same id, same text
      (2L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "totally different words here entirely now")) // same id, other text
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    // must not throw (equal-id self-pairs dropped, denominator clamped)
    val out = Dedup.ngramJaccard(spark, dir).collect()
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("prefix-filtered ngram tier is output-identical to the inverted-index tier") {
    val base = Dedup.ngramJaccard(spark, sf).collect().map(_.toSeq).toSeq
    val pfx = Dedup.ngramJaccardPrefix(spark, sf).collect().map(_.toSeq).toSeq
    assert(pfx === base)
    // and at a higher threshold (tighter prefixes prune harder)
    val base9 = Dedup.ngramJaccard(spark, sf, threshold = 0.9).collect().map(_.toSeq).toSeq
    val pfx9 = Dedup.ngramJaccardPrefix(spark, sf, threshold = 0.9).collect().map(_.toSeq).toSeq
    assert(pfx9 === base9)
  }

  test("prefix-filtered ngram tier leaves no cached or checkpointed RDD " +
    "behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.ngramJaccardPrefix(spark, sf).count()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after === before,
      s"leaked persistent RDDs: ${(after -- before).toSeq.sorted}")
  }

  test("near-dup clusters are consistent with the pair graph") {
    val pairs = Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b")
      .as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    val cluster = Dedup.nearDupClusters(spark, sf).as[(Long, Long)]
      .collect().toMap
    // every paired doc is labeled, pairs share a cluster, label = min member
    pairs.foreach { case (a, b) =>
      assert(cluster(a) === cluster(b), s"pair ($a,$b) split across clusters")
    }
    cluster.groupBy(_._2).foreach { case (lbl, members) =>
      assert(lbl === members.keys.min, s"cluster $lbl not labeled by min member")
    }
  }

  test("winnowing: near-identical docs share fingerprints") {
    val pairs = Dedup.ngramJaccard(spark, sf, threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    val (a, b) = pairs.head
    val fps = TextAnalysis.winnow(spark, sf)
      .filter(col("doc_id").isin(a, b))
      .groupBy("fp").count().filter(col("count") === 2).count()
    assert(fps > 0, s"docs $a/$b share no winnowing fingerprints")
  }
}
