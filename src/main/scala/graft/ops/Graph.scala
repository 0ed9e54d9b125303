package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the document/embedding similarity graph — the
  * second graph operator class next to the connected-component dup
  * clustering in [[Dedup]]: where CC answers "which docs are the same",
  * PageRank answers "which docs are CENTRAL" — the representative-
  * selection / curriculum-weighting signal a pipeline derives from a
  * near-dup or citation graph (Page et al. 1999).
  *
  * All arithmetic is integer micro-units (rank mass scaled by 1e12 and
  * floor-divided), the same trick the PQ asymmetric distance uses: integer
  * addition is associative, so per-node sums are identical whatever order
  * an engine reduces in — the float formulation would diverge between
  * engines in the last ulp and is exactly what a hash-matching oracle
  * cannot absorb.
  */
object Graph {

  /** Eps-neighbor pair source shared by the graph family: the oracle-
    * checkable frozen (label, sign-cell) blocking ("signcell", the gate
    * default) or the production cells-SCALED two-level quantizer blocking
    * ("cells", [[Dedup.embedDupCells]] — nCells tracks the corpus, the r8
    * verdict #1 posture measured to x100 in ScaleCurve `r9`). */
  private def blockedPairs(spark: SparkSession, dir: String,
                           threshold: Double, blocking: String,
                           nCells: Int): org.apache.spark.sql.DataFrame =
    blocking match {
      case "signcell" => Dedup.embedDup(spark, dir, threshold)
      case "cells"    => Dedup.embedDupCells(spark, dir, threshold, nCells)
      case other => throw new IllegalArgumentException(
        s"blocking must be 'signcell' or 'cells'; got '$other'")
    }


  private val Scale = 1000000000000L // 1e12 micro-units of rank mass

  /** PageRank (damping 0.85, `iters` fixed power iterations) over the
    * symmetrized eps-neighbor graph [[Dedup.embedDup]] emits — every
    * cosine-similar pair within a (label, sign-cell) block becomes an
    * undirected edge. Symmetry means no dangling nodes: every node in the
    * graph has out-degree >= 1, so no mass-leak correction term is needed
    * and the teleport constant is exact.
    *
    * Shape at scale: the edge list is built once (cell-blocked pair join,
    * never all-pairs), joined with the degree table, and persisted; each
    * iteration is ONE keyed equi-join (edges x current ranks on src) plus
    * ONE map-side-combined sum per destination — the canonical distributed
    * power iteration, linear in edges per round with no driver-side state
    * at all. Iterations are fixed, so the whole computation is one lazy
    * plan; the node count rides along as a carried column off a broadcast
    * 1-row aggregate rather than a driver collect. */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 6,
               threshold: Double = 0.3, blocking: String = "signcell",
               nCells: Int = Dedup.AutoCells): DataFrame = {
    val pairs = blockedPairs(spark, dir, threshold, blocking, nCells)
      .select(col("vec_a"), col("vec_b"))
    val e = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .unionByName(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst")))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // eager localCheckpoint, the iterative-op house rule (see
    // Dedup.nearDupClusters): caches the edge list all six iterations
    // reuse AND leaves no session-lifetime cache entry behind — the
    // blocks are freed when the reference is GC'd, unlike an unreleased
    // persist() which would pin executor memory across later queries.
    val edges = e.join(deg, "src").localCheckpoint(true)
    // the rank seed derives from the CHECKPOINTED edges (review r11):
    // seeding off deg/nTotal's original lineage re-executed the blocked
    // pair join twice more AFTER the checkpoint already paid for it
    val nodes = edges.select(col("src"), col("outdeg")).distinct()
    val nFromEdges = nodes.agg(count(lit(1)).as("n"))
    var ranks = nodes.crossJoin(broadcast(nFromEdges))
      .select(col("src").as("node"), expr(s"${Scale}L div n").as("r"), col("n"))
    for (_ <- 1 to iters) {
      // groupBy(dst) ALONE (r14): n is a constant 1-row broadcast carried
      // as a column — grouping on (dst, n) forced each iteration's
      // aggregate to shuffle on a key the NEXT iteration's join (on node
      // = dst) could not reuse; keyed on dst, the aggregate's exchange IS
      // the partitioning the next join needs (max(n) of a constant column
      // is that constant, so the computed rows are identical).
      ranks = edges.join(ranks, edges("src") === ranks("node"))
        .select(col("dst"),
          expr("(85L * r) div (100L * outdeg)").as("contrib"), col("n"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("c"), max(col("n")).as("n"))
        .select(col("dst").as("node"),
          (expr("15000000000000L div (100L * n)") + col("c")).as("r"),
          col("n"))
    }
    ranks.select(col("node").as("vec_id"), col("r").as("rank_micro"),
        round(col("r") / lit(Scale.toDouble), 6).as("rank"))
      .orderBy(col("vec_id"))
  }

  /** Per-node triangle count and local clustering coefficient over the
    * same eps-neighbor graph — the density diagnostic of a dup/similarity
    * graph (tight clique-y neighborhoods vs star-shaped hubs behave very
    * differently under dedup keep-rules). Uses the degree-ORIENTED wedge
    * join (Cohen 2009's MapReduce triangle counting; the "compact-forward"
    * trick): every undirected edge is directed from its lower
    * (degree, id)-ranked endpoint to the higher, each wedge is generated
    * only at its lowest-ranked vertex, and a wedge closes iff its
    * (v1, v2) arm exists as an oriented edge — so each triangle is
    * produced exactly once with no post-hoc dedup.
    *
    * Shape at scale: orientation caps every vertex's out-degree at
    * O(sqrt(edges)) — THE classical bound that keeps the wedge self-join
    * from exploding on hub nodes (a degree-d hub generates d^2 wedges
    * un-oriented but only out-deg^2 oriented) — and both the wedge join
    * and the closure join are keyed equi-joins. The final per-node count
    * is one explode + map-side-combined groupBy.
    *
    * The default threshold is LOOSER than the dup cut (0.15 vs 0.3): the
    * clustering coefficient is a neighborhood-density diagnostic and
    * needs a graph dense enough to close wedges — at the dup threshold
    * the eps-graph is near-forest and every coefficient is 0. */
  def triangles(spark: SparkSession, dir: String,
                threshold: Double = 0.15, blocking: String = "signcell",
                nCells: Int = Dedup.AutoCells): DataFrame = {
    // checkpointed (review r11): pairs feeds deg AND withDeg, and oriented
    // below feeds both wedge sides plus the closing join — without the
    // materialization the blocked eps-pair join re-executed ~4x per run
    val pairs = blockedPairs(spark, dir, threshold, blocking, nCells)
      .select(col("vec_a"), col("vec_b"))
      .localCheckpoint(true)
    val e = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .unionByName(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst")))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "node")
    val withDeg = pairs
      .join(deg.select(col("node").as("vec_a"), col("deg").as("da")), "vec_a")
      .join(deg.select(col("node").as("vec_b"), col("deg").as("db")), "vec_b")
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("vec_a") < col("vec_b"))
    // oriented edge (u -> v) with v's rank carried for the wedge ordering
    val oriented = withDeg.select(
      when(lowFirst, col("vec_a")).otherwise(col("vec_b")).as("u"),
      when(lowFirst, col("vec_b")).otherwise(col("vec_a")).as("v"),
      when(lowFirst, col("db")).otherwise(col("da")).as("dv"))
      .localCheckpoint(true)
    val o1 = oriented.alias("o1")
    val o2 = oriented.alias("o2")
    val wedges = o1.join(o2, col("o1.u") === col("o2.u") &&
        (col("o1.dv") < col("o2.dv") ||
          (col("o1.dv") === col("o2.dv") && col("o1.v") < col("o2.v"))))
      .select(col("o1.u").as("a"), col("o1.v").as("b"), col("o2.v").as("c"))
    val closing = oriented.select(col("u").as("b"), col("v").as("c"))
    val tris = wedges.join(closing, Seq("b", "c"))
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node").as("vec_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") > 1, round(
          lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
            (col("deg") * (col("deg") - 1)), 4))
          .otherwise(lit(0.0)).as("clustering"))
      .orderBy(col("vec_id"))
  }

  /** Label-propagation community detection (LPA, Raghavan et al. 2007)
    * over the same threshold-0.15 eps-neighbor graph as [[triangles]] /
    * [[kCore]] — the cheap communities pass a pipeline runs on a near-dup
    * or citation graph to group *related* (not identical) documents for
    * balanced sampling or leakage-aware splitting, one level softer than
    * the connected-component dup clustering in [[Dedup]].
    *
    * Synchronous LPA with a fully deterministic update: every node starts
    * as its own label, and each round adopts the label most frequent among
    * its neighbors, ties broken toward the SMALLEST label. Rounds are
    * fixed ([[rounds]] unrolled), so both engines land on the identical
    * round-`rounds` state regardless of convergence — the
    * [[Similarity]] kmeans fixed-iteration argument verbatim. (Plain LPA
    * randomizes update order precisely to avoid bipartite oscillation;
    * determinism matters more here than modularity polish, and the fixed
    * round count makes oscillation harmless to the contract. Measured
    * r9: the oscillation is REAL at gate scales — round 4 vs 5 differ by
    * ~300 rows at sf0.01 (a period-2 cycle, round 4 == round 6) and the
    * transient is still live at sf0.1 — so no convergence premise is
    * claimed anywhere; the scale-checked invariant is component
    * consistency, pinned by OraclePremiseSpec at both graded scales.)
    *
    * Shape at scale: each round is one keyed equi-join (edges x labels on
    * src) feeding two map-side-combined hash aggregates plus one keyed
    * argmax join-back — the portable most-frequent-with-tie-break (no
    * struct-ordering or label-magnitude encoding tricks, so nothing
    * assumes ids fit a digit budget). Per-round localCheckpoint, the
    * iterative-op house rule; no driver-side state at all. */
  def labelProp(spark: SparkSession, dir: String, rounds: Int = 4,
                threshold: Double = 0.15, blocking: String = "signcell",
                nCells: Int = Dedup.AutoCells): DataFrame = {
    val pairs = blockedPairs(spark, dir, threshold, blocking, nCells)
      .select(col("vec_a"), col("vec_b"))
    val sym = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .unionByName(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst")))
    val edges = sym.localCheckpoint(true)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to rounds) {
      val nc = edges.join(labels, edges("src") === labels("node"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
      val mx = nc.groupBy(col("dst")).agg(max(col("c")).as("mc"))
      labels = nc.join(mx, Seq("dst")).filter(col("c") === col("mc"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("lbl"))
        .select(col("dst").as("node"), col("lbl"))
        .localCheckpoint(true)
    }
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("lbl"))
      .select(col("node"), col("lbl").as("community"), col("community_size"))
      .orderBy(col("node"))
  }

  /** DBSCAN (Ester et al. 1996) over the eps-neighbor similarity graph —
    * density-based clustering with an explicit noise class, the disposition
    * step a dedup/curation pipeline wants when similarity neighborhoods
    * have uneven density (k-means forces every point somewhere; DBSCAN
    * says "this one belongs to nothing"). eps is the cosine threshold the
    * blocked pair join already applies; minPts is the core-degree cut.
    *
    * Decomposition into relational steps, all keyed:
    *  - core points: one two-phase degree count over the symmetric edge
    *    list, degree >= minPts;
    *  - clusters: connected components of the core-core subgraph, labels
    *    = min core id per component. Two tiers (r8 verdict #2):
    *    `ccTier = "bigstar"` (the default — the PRODUCTION path) reuses
    *    [[Dedup.bigStarComponents]]'s alternating large-star/small-star
    *    rounds, exact in O(log n) rounds for ANY component diameter;
    *    `ccTier = "unrolled"` runs `rounds` fixed one-hop min-label
    *    rounds — correct only while every core component has diameter
    *    <= `rounds`, which is the DuckDB oracle's unrollable form (the
    *    kCore engine-equality argument). OraclePremiseSpec re-checks the
    *    diameter premise at both graded scales each round, and the tier-
    *    equality spec pins bigstar == unrolled on the fixture — so the
    *    gate stays hash-checkable while the shipped plan has no diameter
    *    cliff;
    *  - border points: non-core nodes adjacent to >= 1 core, attached to
    *    the MINIMUM CLUSTER LABEL among their core neighbors (the
    *    deterministic tie-break the oracle hashes — min over labels, not
    *    over neighbor ids; review r11 fixed this doc, not the code);
    *  - noise: graph nodes that are neither, cluster -1.
    *
    * Per-round localCheckpoint, the iterative house rule; nothing
    * all-pairs beyond the blocked pair build every graph op shares. */
  def dbscan(spark: SparkSession, dir: String, minPts: Int = 3,
             rounds: Int = 8, threshold: Double = 0.15,
             ccTier: String = "bigstar", blocking: String = "signcell",
             nCells: Int = Dedup.AutoCells): DataFrame = {
    val pairs = blockedPairs(spark, dir, threshold, blocking, nCells)
      .select(col("vec_a"), col("vec_b"))
    val edges = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .unionByName(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst")))
      .localCheckpoint(true)
    val core = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= minPts).select(col("src").as("node"))
      .localCheckpoint(true)
    val gcc = edges
      .join(core.select(col("node").as("src")), Seq("src"))
      .join(core.select(col("node").as("dst")), Seq("dst"))
      .select(col("src"), col("dst"))
      .localCheckpoint(true)
    val lab = ccTier match {
      case "bigstar" =>
        // gcc is symmetric, so src > dst yields each undirected core-core
        // edge exactly once in the canonical direction bigStar expects;
        // isolated cores (no core neighbor) re-attach as their own label
        val comp = Dedup.bigStarComponents(
          gcc.filter(col("src") > col("dst"))
            .select(col("src").as("u"), col("dst").as("v")),
          maxIter = 20, what = "dbscan core CC")
        core.join(comp.withColumnRenamed("doc_id", "node"), Seq("node"), "left")
          .select(col("node"), coalesce(col("cluster"), col("node")).as("lbl"))
          .localCheckpoint(true)
      case "unrolled" =>
        var l = core.withColumn("lbl", col("node"))
        for (_ <- 1 to rounds) {
          l = l.unionByName(
              gcc.join(l, gcc("src") === l("node"))
                .select(col("dst").as("node"), col("lbl")))
            .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
            .localCheckpoint(true)
        }
        l
      case other => throw new IllegalArgumentException(
        s"dbscan ccTier must be 'bigstar' or 'unrolled'; got '$other'")
    }
    val border = edges
      .join(lab.select(col("node").as("dst"), col("lbl")), Seq("dst"))
      .join(core.select(col("node").as("src")), Seq("src"), "left_anti")
      .groupBy(col("src").as("node")).agg(min(col("lbl")).as("lbl"))
    val noise = edges.select(col("src").as("node")).distinct()
      .join(core, Seq("node"), "left_anti")
      .join(border.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), lit(-1L).as("lbl"))
    lab.select(col("node"), lit("core").as("role"), col("lbl"))
      .unionByName(border.select(col("node"), lit("border").as("role"), col("lbl")))
      .unionByName(noise.select(col("node"), lit("noise").as("role"), col("lbl")))
      .select(col("node").as("vec_id"), col("role"), col("lbl").as("cluster"))
      .orderBy(col("vec_id"))
  }

  /** k-core decomposition (Seidman 1983) of the similarity graph — the
    * maximal subgraph where every node keeps >= k neighbors, the density
    * screen that separates tight duplicate/spam communities (which
    * survive the peel) from incidentally-similar stragglers (which
    * don't). Same threshold-0.15 graph as [[triangles]], for the same
    * reason: the density diagnostic needs a graph dense enough to have
    * cores.
    *
    * Defined as `maxRounds` FIXED peel rounds (each round drops nodes
    * with current degree < k, then edges touching them). A converged
    * peel is a fixed point — further rounds are no-ops — so Spark stops
    * early on an unchanged edge count while the oracle always unrolls
    * all rounds (the [[Similarity.kmeansFit]] early-stop argument,
    * verbatim); with or without convergence inside the bound, both
    * engines land on the identical round-`maxRounds` state. The spec
    * pins that the fixture converges well inside the bound.
    *
    * Shape at scale: each round is one two-phase degree count plus two
    * keyed semi-join-shaped edge filters — linear in surviving edges,
    * localCheckpoint per round (the iterative-op house rule), no driver
    * state beyond the O(1) edge-count convergence probe. */
  def kCore(spark: SparkSession, dir: String, k: Int = 2,
            maxRounds: Int = 8, threshold: Double = 0.15,
            blocking: String = "signcell", nCells: Int = Dedup.AutoCells): DataFrame = {
    val pairs = blockedPairs(spark, dir, threshold, blocking, nCells)
      .select(col("vec_a"), col("vec_b"))
    var edges = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .unionByName(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst")))
      // lazy (r15): the convergence count below is the materializing
      // action — the eager form paid a dedicated caching job per round on
      // a loop whose cost is sequential job latency
      .localCheckpoint(false)
    var prev = edges.count()
    var r = 0
    var converged = prev == 0
    while (r < maxRounds && !converged) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("src").as("node"))
      edges = edges
        .join(keep.select(col("node").as("src")), Seq("src"))
        .join(keep.select(col("node").as("dst")), Seq("dst"))
        .select(col("src"), col("dst"))
        .localCheckpoint(false) // lazy: the convergence count materializes it
      val n = edges.count()
      converged = n == prev // no node dropped => fixed point
      prev = n
      r += 1
    }
    edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_degree"))
      .orderBy(col("node"))
  }
}
