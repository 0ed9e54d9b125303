package graft

import graft.ops.{Layout, Maintenance, Relational, Similarity, Tables}
import org.apache.spark.sql.functions._

/** Ninth round-6 batch: blocked KNN-graph construction, Z-order layout +
  * zone-map manifest, and the one-pass correlation matrix. All four are
  * exact-oracle-checked; these specs pin the structural contracts the
  * oracle can't see — neighbor-list shape, two-dimensional prunability of
  * the physical layout, and the single-scan plan shape. */
class BatchNineOpsSpec extends SparkSpec {

  // ----------------------------------------------------------- knn graph

  test("knn graph: every vector gets a contiguous 1..k neighbor list from " +
    "its own cell with non-increasing cosine") {
    val k = 3
    val rows = Similarity.knnGraph(spark, sf, k).collect()
    val labels = Tables(spark, sf, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val bySrc = rows.groupBy(_.getLong(0))
    assert(bySrc.size === labels.size,
      "every corpus vector is a source (each cell is larger than k)")
    bySrc.foreach { case (src, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq === (1 to k),
        s"src $src ranks must be contiguous 1..$k")
      val cosines = sorted.map(_.getDouble(3)).toSeq
      assert(cosines === cosines.sorted.reverse,
        s"src $src cosine must be non-increasing down the ranks")
      rs.foreach { r =>
        assert(labels(r.getLong(2)) === labels(src),
          s"neighbor ${r.getLong(2)} of $src crossed a cell boundary")
        assert(r.getLong(2) !== src, "self-neighbor")
      }
    }
  }

  test("knn graph: the top-1 neighbor of a query vector matches the exact " +
    "brute-force ranking restricted to the query's cell") {
    val knn = Similarity.knnGraph(spark, sf, 3).collect()
      .filter(r => r.getLong(0) < 10 && r.getInt(1) === 1)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val labels = Tables(spark, sf, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val brute = Similarity.bruteForceTopK(spark, sf, numQueries = 10, k = 50)
      .collect()
    // brute ranks over the WHOLE corpus; the first brute neighbor that
    // shares the query's cell must be the knn graph's rank-1 pick
    brute.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val firstInCell = rs.sortBy(_.getInt(1))
        .find(r => labels(r.getLong(2)) === labels(q)).map(_.getLong(2))
      assert(firstInCell === Some(knn(q)),
        s"query $q: blocked rank-1 must equal cell-restricted exact rank-1")
    }
  }

  test("knn graph: the bounded-aggregate formulation is byte-identical to " +
    "the window-ranked reference semantics") {
    val agg = Similarity.knnGraph(spark, sf, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val win = Similarity.knnGraphWindow(spark, sf, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(agg.toSeq === win.toSeq)
  }

  // -------------------------------------------------------------- zorder

  test("zvalue: interleaves bits exactly (x=5,y=3 -> 27; identity on " +
    "single-bit inputs)") {
    val row = spark.range(1)
      .select(
        Layout.zvalue(lit(5L), lit(3L)).as("a"),
        Layout.zvalue(lit(1L), lit(0L)).as("b"),
        Layout.zvalue(lit(0L), lit(1L)).as("c"),
        Layout.zvalue(lit(65535L), lit(65535L)).as("d"))
      .head()
    assert(row.getLong(0) === 27L) // x bits at even positions: 1+4*0+16*1, y odd: 2+8
    assert(row.getLong(1) === 1L)
    assert(row.getLong(2) === 2L)
    assert(row.getLong(3) === (1L << 32) - 1, "full 16+16 bits fill 32")
  }

  test("zorder layout prunes on BOTH dimensions where a single-column sort " +
    "prunes on one") {
    val shards = 16
    // per-shard bounding boxes under the z layout vs a custkey sort
    def boxes(df: org.apache.spark.sql.DataFrame, orderCol: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(orderCol), col("o_orderkey"))
      df.withColumn("rn", row_number().over(w) - 1)
        .withColumn("shard", (col("rn") * shards / count(lit(1)).over()).cast("int"))
        .groupBy("shard")
        .agg(min("x").as("x0"), max("x").as("x1"),
          min("y").as("y0"), max("y").as("y1"))
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    }
    val keyed = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey").cast("long").as("x"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("y"))
    val st = keyed.agg(max("x").as("mx"), max("y").as("my")).head()
    val (mx, my) = (st.getLong(0), st.getLong(1))
    val zKeyed = keyed
      .withColumn("xs", expr(s"(x * 65536L) div (${mx}L + 1)"))
      .withColumn("ys", expr(s"(y * 65536L) div (${my}L + 1)"))
      .withColumn("zval", Layout.zvalue(col("xs"), col("ys")))
    val zBoxes = boxes(zKeyed, "zval")
    val xBoxes = boxes(keyed, "x")

    // a one-eighth query window on the DATE dim
    val (d0, d1) = (my / 2, my / 2 + my / 8)
    def touches(bs: Array[(Long, Long, Long, Long)]) =
      bs.count { case (_, _, y0, y1) => y1 >= d0 && y0 <= d1 }
    val zTouch = touches(zBoxes)
    val xTouch = touches(xBoxes)
    assert(xTouch === shards,
      "custkey-sorted layout: every shard spans the full date range, zero pruning")
    assert(zTouch <= shards / 2,
      s"z layout must prune the date window to <=half the shards, touched $zTouch")
    // and the custkey dim keeps pruning too: an eighth-window on x
    val (c0, c1) = (mx / 2, mx / 2 + mx / 8)
    // x occupies the LOWER bit of each interleaved pair, so shard cuts
    // align with y first — x pruning is real but coarser at 16 shards
    val zTouchX = zBoxes.count { case (x0, x1, _, _) => x1 >= c0 && x0 <= c1 }
    assert(zTouchX <= 3 * shards / 4,
      s"z layout must still prune custkey windows, touched $zTouchX")
  }

  test("zorderWrite: written files carry tight footer ranges on both " +
    "dimensions (the zone map a cluster reader would consult)") {
    val out = tmpDir("graft-zorder") + "/orders_z"
    Layout.zorderWrite(spark, sf, out, shards = 8)
    val withFile = spark.read.parquet(out)
      .withColumn("file", input_file_name())
      .groupBy("file")
      .agg(min("day_off").as("y0"), max("day_off").as("y1"), count(lit(1)).as("n"))
      .collect()
    assert(withFile.length >= 4, "range partitioner produced a real spread")
    val my = withFile.map(_.getLong(2)).max
    val full = withFile.map(r => r.getLong(2) - r.getLong(1)).max
    val avgSpan = withFile.map(r => r.getLong(2) - r.getLong(1)).sum.toDouble / withFile.length
    assert(avgSpan < full,
      s"average per-file day span ($avgSpan) must beat the worst file ($full)")
    val d0 = my / 2
    val touched = withFile.count(r => r.getLong(2) >= d0 && r.getLong(1) <= d0 + my / 8)
    assert(touched < withFile.length,
      "a date-window read must be able to skip at least one file")
  }

  test("zone map: shards partition the table exactly and boxes nest inside " +
    "the global ranges") {
    val zm = Layout.zoneMap(spark, sf).collect()
    val total = Tables(spark, sf, "orders").count()
    assert(zm.map(_.getLong(1)).sum === total, "zone map covers every row once")
    assert(zm.length > 8, "the scaled domain spreads rows over many shards")
    val shardIds = zm.map(_.getInt(0))
    assert(shardIds.toSeq === shardIds.sorted.toSeq)
    zm.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3) && r.getLong(4) <= r.getLong(5))
    }
  }

  // ---------------------------------------------- incremental zone map

  /** A manifest store's per-commit stats: bucket -> (rows, (min, max)). */
  private def manifestStats(statePath: String) =
    graft.cdc.ManifestStore.currentManifest(spark, statePath).get
      .buckets.toSeq.sortBy(_._1)
      .map { case (b, e) => (b, e.nRows, e.stats("score")) }

  /** The same map recomputed from the store's live rows. */
  private def fullStats(statePath: String,
                        schema: org.apache.spark.sql.types.StructType) = {
    import spark.implicits._
    graft.cdc.ManifestStore.readState(spark, statePath, schema)
      .groupBy(col(graft.cdc.BucketedUpsertSink.BucketCol))
      .agg(count(lit(1)), min(col("score")), max(col("score")))
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
      .map { case (b, n, lo, hi) => (b, n, (Some(lo), Some(hi))) }
  }

  test("sink zone map: incremental refresh after a micro-batch equals a " +
    "full recompute, and the manifest-driven read prunes to candidate " +
    "buckets while returning the exact unpruned answer") {
    import graft.cdc.{BucketedUpsertSink, ManifestStore}
    import spark.implicits._
    val statePath = tmpDir("graft-zm") + "/state"
    val nb = 8
    val s0 = (0L until 200L).map(i => (i, i * 10, s"v$i"))
      .toDF("id", "score", "payload")
    BucketedUpsertSink.applyBatch(spark, statePath,
      s0.withColumn("op", lit("create")), "id", nb, Some(s0.schema),
      Seq("score"))
    assert(manifestStats(statePath) === fullStats(statePath, s0.schema))

    // a micro-batch: update two pks, delete one, insert one far-off score
    val batch = Seq(
      ("update", 5L, 99999L, "v5b"),
      ("update", 17L, -5L, "v17b"),
      ("delete", 30L, 0L, null),
      ("create", 999L, 123456L, "new"))
      .toDF("op", "id", "score", "payload")
    val touched = batch
      .select(BucketedUpsertSink.bucketOf(col("id"), nb)).distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(touched.length < nb, "the batch must not touch every bucket")
    val before = ManifestStore.currentManifest(spark, statePath).get
    BucketedUpsertSink.applyBatch(spark, statePath, batch, "id", nb)
    assert(manifestStats(statePath) === fullStats(statePath, s0.schema),
      "incremental per-commit stats must equal the full recompute")
    // incremental: untouched buckets' entries carry forward verbatim
    val after = ManifestStore.currentManifest(spark, statePath).get
    (0L until nb).filterNot(touched.contains).foreach { b =>
      assert(after.buckets.get(b) === before.buckets.get(b), s"bucket $b")
    }

    // manifest-driven pruned read: the far-off score lives in one bucket
    val got = ManifestStore.prunedRead(spark, statePath, s0.schema,
      "score", 99000L, 200000L).orderBy("id").collect()
    val want = ManifestStore.readState(spark, statePath, s0.schema)
      .filter(col("score") >= 99000L && col("score") <= 200000L)
      .drop(BucketedUpsertSink.BucketCol).orderBy("id").collect()
    assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq)
    assert(got.map(_.getLong(0)).toSet === Set(5L, 999L))
    // and the prune really narrowed the candidate set
    val candidates = after.buckets.values.count { e =>
      e.stats("score")._2.exists(_ >= 99000L) &&
        e.stats("score")._1.exists(_ <= 200000L)
    }
    assert(candidates < nb, s"zone map must rule out buckets, kept $candidates")
  }

  test("compaction apply: content survives, one file per bin, bin sizes " +
    "respect the first-fit bound, and manifest-pruned reads stay exact") {
    val root = tmpDir("graft-compact")
    val live = s"$root/docs"
    val target = 32768L
    // RANGE sharding (8 docs per shard) rather than the query's modulo:
    // compactApply is layout-agnostic, and ranges give the doc_id zone
    // map real locality so the prune-out assertion below is meaningful
    val docs = Tables(spark, sf, "documents")
      .withColumn("shard", expr("doc_id div 8"))
    docs.repartition(col("shard")).write.partitionBy("shard").parquet(live)
    val beforeIds = spark.read.parquet(live)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    def partFiles(dir: java.io.File): Seq[java.io.File] = {
      val kids = Option(dir.listFiles()).getOrElse(Array.empty)
      kids.filter(_.isFile).filter(_.getName.endsWith(".parquet")).toSeq ++
        kids.filter(_.isDirectory).flatMap(partFiles)
    }
    val filesBefore = partFiles(new java.io.File(live)).length

    val manifest = Maintenance.compactApply(spark, live, target).collect()

    // content identity through the rewrite
    val afterIds = spark.read.parquet(live)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(afterIds.toSeq === beforeIds.toSeq)
    // exactly one data file per bin, and fewer files than before
    val binDirs = new java.io.File(live).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("bin="))
    assert(binDirs.length === manifest.length)
    binDirs.foreach(d => assert(partFiles(d).length === 1,
      s"${d.getName} must hold exactly one compacted file"))
    assert(partFiles(new java.io.File(live)).length < filesBefore,
      "compaction must reduce the file count")
    // first-fit bound: a bin exceeds the target by at most the one shard
    // whose arrival crossed the boundary
    val maxShardBytes = docs
      .groupBy("shard").agg(sum(length(col("text")).cast("long")).as("b"))
      .agg(max(col("b"))).head().getLong(0)
    manifest.foreach { r =>
      assert(r.getAs[Long]("bytes") <= target + maxShardBytes,
        s"bin ${r.getAs[Long]("bin")} breaks the first-fit bound")
    }
    // bins are consecutive shard intervals: doc_id %64 ranges may
    // interleave, but shard intervals must not — check via the data
    val binShards = spark.read.parquet(live)
      .groupBy(col("bin")).agg(min(col("shard")).as("lo"), max(col("shard")).as("hi"))
      .orderBy(col("bin")).collect()
      .map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
    binShards.sliding(2).foreach {
      case Array((_, hi0), (lo1, _)) => assert(lo1 > hi0,
        "bins must cover consecutive disjoint shard intervals")
      case _ =>
    }
    // manifest-pruned read by doc_id range equals the exact filter
    val (lo, hi) = (beforeIds.head + 7, beforeIds.head + 103)
    val candidates = manifest
      .filter(r => r.getAs[Long]("max_doc") >= lo && r.getAs[Long]("min_doc") <= hi)
      .map(_.getAs[Long]("bin"))
    val pruned = spark.read.parquet(live)
      .filter(col("bin").isin(candidates: _*))
      .filter(col("doc_id") >= lo && col("doc_id") <= hi)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val exact = spark.read.parquet(live)
      .filter(col("doc_id") >= lo && col("doc_id") <= hi)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(pruned.toSeq === exact.toSeq)
    assert(candidates.length < manifest.length,
      "the doc_id zone map must rule out at least one bin")
  }

  // ------------------------------------------------------------ oov rate

  test("oov rate: per-language rates weight-average to exactly the " +
    "complement of vocabCoverage's cumulative top-V share") {
    val topV = 50
    val oov = graft.ops.TextAnalysis.oovRate(spark, sf, topV).collect()
    oov.foreach { r =>
      val rate = r.getDouble(3)
      assert(rate >= 0.0 && rate <= 1.0)
      assert(r.getLong(2) <= r.getLong(1), "oov tokens bounded by total")
    }
    val cov = graft.ops.TextAnalysis.vocabCoverage(spark, sf, topV).collect()
    val cumShare = cov.map(_.getDouble(4)).max // rank-topV cumulative share
    val corpusOov = oov.map(_.getLong(2)).sum.toDouble / oov.map(_.getLong(1)).sum
    assert(math.abs(corpusOov - (1.0 - cumShare)) < 2e-4,
      s"corpus oov $corpusOov must complement top-$topV coverage $cumShare")
  }

  // --------------------------------------------------------- corr matrix

  test("corr matrix: six pairs, each in [-1,1], and all near zero — the " +
    "fixture generator draws the measures independently") {
    val rows = Relational.corrMatrix(spark, sf).collect()
    assert(rows.length === 6)
    rows.foreach { r =>
      val v = r.getDouble(2)
      assert(v >= -1.0 && v <= 1.0, s"${r.getString(0)}-${r.getString(1)}: $v")
      assert(math.abs(v) < 0.1,
        s"independent draws must decorrelate: ${r.getString(0)}-${r.getString(1)}: $v")
    }
    assert(rows.map(r => (r.getString(0), r.getString(1))).distinct.length === 6)
  }

  test("corr matrix: a correlated injected column is detected (sanity that " +
    "the moment math sees real structure, not just zeros)") {
    import org.apache.spark.sql.functions.{col, corr => corrF, round => roundF}
    val li = Tables(spark, sf, "lineitem")
      .withColumn("charge", col("l_extendedprice") * (lit(1) - col("l_discount")))
    val r = li.agg(roundF(corrF(col("l_extendedprice"), col("charge")), 6)).head().getDouble(0)
    assert(r > 0.95, s"derived charge must track extendedprice, got $r")
  }

  // ---------------------------------------------------------- maintenance

  test("skew report: stats agree with a direct recount and the salt factor " +
    "levels the hottest key to at most one mean-sized slice") {
    val rows = Maintenance.skewReport(spark, sf).collect()
    assert(rows.length === 5)
    assert(rows.map(_.getInt(0)).toSeq === (1 to 5))
    val counts = Tables(spark, sf, "orders")
      .groupBy("o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r1 = rows.head
    assert(r1.getLong(2) === counts.values.max, "rank-1 hot_n is the max multiplicity")
    assert(r1.getLong(5) === counts.values.max, "max_mult column agrees")
    assert(r1.getLong(3) === counts.size, "n_keys is the distinct key count")
    assert(r1.getLong(4) === counts.values.sum, "n_rows is the table size")
    val hotNs = rows.map(_.getLong(2)).toSeq
    assert(hotNs === hotNs.sorted.reverse, "hot keys ranked by multiplicity")
    val salt = r1.getInt(9)
    assert(salt >= 1 &&
      counts.values.max.toDouble / salt <= r1.getDouble(6) + 1,
      s"salting the hottest key by $salt must land near the mean multiplicity")
  }

  test("compaction plan: bins are monotone, byte-complete, and no bin " +
    "exceeds target + one shard (the streaming bin-pack bound)") {
    val target = 32768L
    val plan = Maintenance.compactionPlan(spark, sf, targetBytes = target)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val totalBytes = Tables(spark, sf, "documents")
      .agg(sum(length(col("text")))).head().getLong(0)
    assert(plan.map(_._2).sum === totalBytes, "every byte lands in a bin")
    val bins = plan.map(_._3)
    assert(bins.toSeq === bins.sorted.toSeq, "bin ids non-decreasing in shard order")
    val maxShard = plan.map(_._2).max
    plan.groupBy(_._3).foreach { case (bin, ss) =>
      assert(ss.map(_._2).sum <= target + maxShard,
        s"bin $bin overflows the streaming bound")
    }
    // shards inside one bin are consecutive — compaction reads a
    // contiguous range, the property that makes the merge a local read
    plan.groupBy(_._3).values.foreach { ss =>
      val ids = ss.map(_._1).sorted
      assert(ids.last - ids.head === ids.length - 1, "bins hold consecutive shards")
    }
  }

  test("corr matrix: the plan reads lineitem ONCE — all six moments ride " +
    "a single two-phase aggregate") {
    val plan = Relational.corrMatrix(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans === 1, s"expected a single lineitem scan, got $scans:\n$plan")
    assert(plan.contains("partial_corr") || plan.contains("HashAggregate"),
      "moments must aggregate two-phase")
  }

  test("zone map: two concurrent full refreshes of ONE manifest (the " +
    "overlapping refreshAsync shape) both succeed and a complete copy " +
    "wins — invocation-unique staging, no shared .next dir (r9 review)") {
    import graft.cdc.{ManifestStore, MemoryCdcSource, Pipeline, SinkTasks}
    import graft.model.{PipelineConfig, SyncConfig}
    import spark.implicits._
    val sinkRoot = tmpDir("graft-zmrace")
    val statePath = s"$sinkRoot/t"
    val rows = (0L until 200L).map(i => (i, i * 10, s"v$i"))
      .toDF("id", "score", "payload")
    val sync = SyncConfig("t", pk = "id", schema = Some(rows.schema))
    val pipe = new Pipeline(spark,
      PipelineConfig(Seq(sync), stateBuckets = Some(8),
        zoneMapCols = Seq("score")),
      new MemoryCdcSource(spark, Map("t" -> rows)), sinkRoot)
    try {
      // seed a PRIOR version first: the racing refreshes then stage while
      // a published store exists, never on a first-ever refresh
      pipe.refresh()
      val tasks = (1 to 2).map(_ => pipe.refreshAsync()("t"))
      tasks.foreach { id =>
        val info = SinkTasks.waitForTask(id, timeoutMs = 120000)
        assert(info.status === "succeeded", s"no refresh may fail: $info")
      }
    } finally pipe.releaseLeases()
    assert(ManifestStore.currentManifest(spark, statePath).get.version === 3L,
      "both refreshes must publish their own version")
    assert(manifestStats(statePath) === fullStats(statePath, rows.schema),
      "whichever complete copy won must equal the full recompute")
    assert(ManifestStore.readState(spark, statePath, rows.schema)
      .select("id").as[Long].collect().sorted.toSeq === (0L until 200L))
  }

  test("compactApply heals its own interrupted swap on re-run (review " +
    "r11): live stranded at .old no longer throws PATH_NOT_FOUND") {
    import spark.implicits._
    val root = tmpDir("graft-compact-heal")
    val live = s"$root/docs"
    (0L until 50L).map(i => (i, "x" * 64, i % 4))
      .toDF("doc_id", "text", "shard")
      .repartition(col("shard"))
      .write.partitionBy("shard").parquet(live)
    // first apply succeeds; then simulate the crash window
    Maintenance.compactApply(spark, live, targetBytes = 1024)
    assert(new java.io.File(live).renameTo(new java.io.File(live + ".old")))
    val manifest = Maintenance.compactApply(spark, live, targetBytes = 1024)
    assert(manifest.count() > 0, "the documented heal-by-rerun must work")
    assert(spark.read.parquet(live).count() === 50L)
  }
}
