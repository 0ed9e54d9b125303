package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the core of a training-data
  * pipeline at 100 TB. Tiers:
  *
  *  1. exact:      hash-groupBy on a content digest (one shuffle, partial agg)
  *  2. n-gram Jaccard: exact near-dup via an INVERTED INDEX on shingles —
  *     pairs are generated only where a shingle is shared, so cost scales
  *     with real overlap, not |docs|^2; [[ngramJaccardPrefix]] is the
  *     output-identical PPJoin prefix-filtered formulation (sub-quadratic
  *     candidates) that overtakes it as duplication density grows
  *  3. MinHash+LSH: sub-quadratic candidate generation (banding), exact
  *     verification of candidates only — the 100 TB scale path
  *  4. SimHash:    64-bit fingerprint + banded hamming candidate join
  *  5. clustering: connected components over the near-dup pair graph
  *     ([[nearDupClusters]] — min-label propagation to fixpoint)
  *
  * All shingling/hashing is per-row codegen'd expression work (no UDFs,
  * no interpreted HOF trees — see [[graft.functions.WordShingles]]); the
  * only shuffles are the joins/groupBys the semantics require.
  */
object Dedup {

  /** Exact dedup by content digest: digest, surviving doc (min id), copy
    * count. At scale: map-side partial agg then one shuffle on the digest. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("copies"))
      .orderBy(col("h"))

  /** CCNet-style NORMALIZED exact dedup: digest over a canonical text form
    * (lowercase, punctuation stripped, whitespace runs collapsed, ends
    * trimmed) so trivially-reformatted copies — the most common crawl
    * duplicate class, invisible to [[exact]] — collapse to one group. The
    * normalization is a per-row codegen'd expression chain; everything
    * after it is [[exact]]'s map-side-partial digest groupBy. Same output
    * shape; `n_norm_only` groups (copies > 1 with distinct raw texts) are
    * exactly the wins over the raw digest. */
  def exactNormalized(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[.,!?;:]", ""), "\\s+", " "))
    Tables(spark, dir, "documents")
      .groupBy(md5(norm).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("copies"),
        countDistinct(col("text")).as("raw_variants"))
      .orderBy(col("h"))
  }

  /** Distinct word-3-gram shingle HASHES per doc (order-sensitive — robust
    * where bag-of-words Jaccard saturates on a small vocabulary). The whole
    * Jaccard family runs on xxhash64(shingle) longs, never on shingle
    * strings: 8-byte keys through every shuffle/groupBy/join instead of
    * ~25-byte strings, and set intersections become long-array merges.
    * Exact modulo 64-bit hash collisions (~1e-9 at 1e5 distinct shingles) —
    * the standard trade at crawl scale.
    *
    * Hashing runs in [[graft.functions.WordShingleHashes]] — one codegen'd
    * per-row loop. (The HOF formulation — array_distinct(transform(sequence,
    * i -> concat_ws(element_at…))) — was 20x slower end-to-end: optimizer
    * rules copy the expression into pushed-down predicates where split(text)
    * is re-inlined into every element_at and the tree runs interpreted.)
    * Docs with < 3 tokens have NO shingles, mirroring the oracle's
    * generate_series(1, len(t)-2). */
  private def shingled(spark: SparkSession, dir: String): DataFrame =
    hashShingledOf(Tables(spark, dir, "documents"))

  private[ops] def hashShingledOf(docs: DataFrame): DataFrame = {
    graft.functions.TextFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), expr("graft_shingle_hashes(text, 3)").as("hs"))
      .withColumn("n_sh", size(col("hs")))
  }

  /** N-gram-Jaccard near-dup pairs via inverted index:
    * explode shingles -> self-join on the shingle -> count shared shingles c
    * per pair -> J = c / (|A| + |B| - c). Only pairs sharing >= 1 shingle are
    * ever materialized, and ultra-frequent shingles (document frequency >
    * `dfCap`) are excluded from candidate generation and overlap counting —
    * the standard stop-shingle refinement that removes the quadratic hot-key
    * tail (a shingle appearing in d docs contributes d^2 join rows but zero
    * near-dup signal). Exact for pairs whose shared shingles are all below
    * the cap; the LSH variant below is the fully sub-quadratic path. */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.5,
                   dfCap: Int = 128): DataFrame =
    ngramPairsOn(shingled(spark, dir), threshold, dfCap)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Shared-shingle pair counts (doc_a, doc_b, na, nb, c): the inverted-
    * index core that Jaccard, containment and clustering all reduce over. */
  private[ops] def pairCounts(s: DataFrame, dfCap: Int): DataFrame = {
    // One shuffle to group postings per shingle; the df filter (2..dfCap,
    // df=1 contributes nothing, df>dfCap is the semantic stop-shingle cap
    // mirrored in the oracle) is a size() check on the grouped list, and
    // pair generation is a per-shingle HOF double loop (bounded by dfCap^2)
    // instead of a sorted-window + self-join, which re-shuffles the postings
    // twice. Second shuffle: the per-pair count aggregate.
    val posts = s.select(col("doc_id"), col("n_sh"), explode(col("hs")).as("shingle"))
    val pairs = posts
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n_sh")))).as("ds"))
      .filter(size(col("ds")).between(2, dfCap))
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |    b -> struct(a.doc_id AS doc_a, a.n_sh AS na,
          |                b.doc_id AS doc_b, b.n_sh AS nb))))""".stripMargin)).as("p"))
    pairs
      // doc_id is a key by contract; if the input violates that, equal-id
      // "pairs" appear (sorted postings put duplicates adjacent) and the
      // overlap count breaks the c <= min(na, nb) invariant. Drop the
      // self-pairs and clamp the denominator (a no-op when the invariant
      // holds: na+nb-c >= max(na,nb) >= 1) so bad input degrades to noisy
      // rows instead of an ANSI divide-by-zero killing the job.
      .filter(col("p.doc_a") =!= col("p.doc_b"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.na").as("na"), col("p.nb").as("nb"))
      .agg(count(lit(1)).as("c"))
  }

  /** Unsorted pair stream — for consumers that feed a join/iteration, where
    * an output sort would only add a range-partitioning sampling pass that
    * executes the whole pair pipeline twice. */
  private[ops] def ngramPairsOn(s: DataFrame, threshold: Double, dfCap: Int): DataFrame =
    pairCounts(s, dfCap)
      .withColumn("jaccard",
        round(col("c").cast("double") /
          greatest(col("na") + col("nb") - col("c"), lit(1)), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Asymmetric n-gram CONTAINMENT (quote/inclusion detection): c / min(na,
    * nb) — near 1 when the smaller doc's shingles are almost all inside the
    * larger one, even when symmetric Jaccard is low because the sizes
    * differ. This is how quotation, excerpting and wrapper-page inclusion
    * are caught; same inverted-index core and scale posture as
    * [[ngramJaccard]]. */
  def containment(spark: SparkSession, dir: String, threshold: Double = 0.8,
                  dfCap: Int = 128): DataFrame =
    pairCounts(shingled(spark, dir), dfCap)
      .withColumn("containment",
        round(col("c").cast("double") /
          greatest(least(col("na"), col("nb")), lit(1)), 4))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Prefix-filtered exact n-gram Jaccard (PPJoin-style): identical output
    * to [[ngramJaccard]], sub-quadratic candidate volume. Theory: if
    * J(a,b) >= t then the overlap c >= ceil(t*na), so two qualifying docs
    * MUST share a shingle among the first (m - ceil(t*na) + 1) elements of
    * their effective shingle lists in ANY global total order — candidates
    * come from joining only those PREFIXES (rare-shingles-first order
    * maximizes pruning), then exact verification computes the true overlap.
    * At t=0.5 the prefix is ~half the postings, so the quadratic
    * per-shingle pair volume drops ~4x; the cost is more (cheap, keyed)
    * shuffles. Crossover favors this variant as duplication density and
    * document count grow; the bench carries both tiers, measured. */
  def ngramJaccardPrefix(spark: SparkSession, dir: String, threshold: Double = 0.5,
                         dfCap: Int = 128): DataFrame = {
    val s = shingled(spark, dir)
    val posts = s.select(col("doc_id"), col("n_sh"), explode(col("hs")).as("shingle"))
    // document frequency per shingle; stop-shingles (df > cap) leave the
    // effective sets entirely — same overlap semantics as ngramJaccard
    // (df=1 shingles can never be shared, so keeping them only pads m)
    val dfs = posts.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, dfCap))
    val eff = posts.join(dfs, "shingle")
    // per-doc effective list sorted rare-first + its verification set.
    // Not materialized: an eager localCheckpoint here took the committed
    // sweep from 1.65 to 2.01 s, and its blocks were never released.
    val perDoc = eff.groupBy(col("doc_id"), col("n_sh"))
      .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("eord"))
      .withColumn("m", size(col("eord")))
      .withColumn("plen",
        col("m") - ceil(col("n_sh") * lit(threshold)).cast("int") + lit(1))
    // docs with plen < 1 cannot reach the threshold with anyone: c <= m < t*na
    // verification sets sorted ASCENDING so the overlap is one merge pass
    val sets = perDoc
      .select(col("doc_id"), col("n_sh"),
        array_sort(expr("transform(eord, x -> x.shingle)")).as("eset"))
    // PPJoin prunings on the candidate join itself — they cut candidates
    // BEFORE the pair-dedup shuffle, which dominates at scale (measured
    // x100 ScaleCurve: 299 s -> see SCALE.md -> with the filters below):
    //  - LENGTH: J >= t forces t*na <= nb <= na/t, so cross-length pairs
    //    drop in the join condition.
    //  - POSITIONAL: arrays share one global (df, shingle) sort, so at a
    //    shared prefix position (pa, pb) the overlap is bounded by
    //    1 + min(remaining a, remaining b); a pair needs
    //    c >= ceil(t/(1+t)*(na+nb)) to reach J >= t. The bound is loosest
    //    at the EARLIEST shared shingle and shrinks monotonically, so
    //    filtering every match independently keeps exactly the pairs whose
    //    earliest match passes — sound, no recall loss (the equality spec
    //    vs the inverted-index tier pins this).
    val prefixes = perDoc.filter(col("plen") >= 1)
      .select(col("doc_id"), col("n_sh"), col("m"),
        posexplode(expr("slice(eord, 1, plen)")).as(Seq("pos", "p")))
      .select(col("doc_id"), col("n_sh"), col("m"), col("pos"),
        col("p.shingle").as("shingle"))
    val a = prefixes.alias("a")
    val b = prefixes.alias("b")
    val candidates = a.join(b,
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n_sh") >= ceil(col("a.n_sh") * lit(threshold)) &&
          col("a.n_sh") >= ceil(col("b.n_sh") * lit(threshold)) &&
          (lit(1) + least(col("a.m") - col("a.pos") - 1, col("b.m") - col("b.pos") - 1)) >=
            ceil(lit(threshold) / (1 + threshold) * (col("a.n_sh") + col("b.n_sh"))))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("eset").as("ea"),
        col("n_sh").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("eset").as("eb"),
        col("n_sh").as("nb")), Seq("doc_b"))
      .withColumn("c", expr("graft_overlap_count(ea, eb)"))
      .withColumn("jaccard",
        round(col("c").cast("double") /
          greatest(col("na") + col("nb") - col("c"), lit(1)), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Per-doc shingle-hash sets with the stop-shingle cap applied: shingles
    * whose document frequency exceeds `dfCap` are removed from every doc's
    * set (they carry no near-dup signal and mint O(df²) candidate rows),
    * while `n_sh` keeps the FULL pre-cap set size — the [[ngramJaccard]]
    * contract: capped overlap over full-size denominators. Docs left with
    * an empty capped set drop out. Sets come back SORTED (one merge-pass
    * overlap downstream). Cost: two shuffles over the posting volume (df
    * count + per-doc regroup); the stop list itself is bounded by
    * total-postings / dfCap rows, so AQE broadcasts the anti-join. */
  private def cappedShingled(spark: SparkSession, dir: String,
                             dfCap: Int): DataFrame = {
    val posts = shingled(spark, dir)
      .select(col("doc_id"), col("n_sh"), explode(col("hs")).as("h"))
    val stop = posts.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("h"))
    posts.join(stop, Seq("h"), "left_anti")
      .groupBy(col("doc_id"), col("n_sh"))
      .agg(array_sort(collect_list(col("h"))).as("hs"))
      .select(col("doc_id"), col("hs"), col("n_sh"))
  }

  /** MinHash + LSH banding near-dup: split the signature into `bands` bands
    * of r rows; docs agreeing on any whole band become candidates (one
    * equi-join on the band hash — sub-quadratic); candidates are verified
    * with EXACT Jaccard so the output has no false positives. This is the
    * operator that survives 100 TB: candidate volume is tunable via (bands,
    * r) for the target threshold ~ (1/bands)^(1/r).
    *
    * `dfCap` applies the SAME stop-shingle refinement as [[ngramJaccard]]
    * (shingles in more than `dfCap` docs are dropped before signatures and
    * excluded from overlap counting; denominators stay full-set sizes) —
    * r12 adversarial-fixture finding: without it, an ALL-DUPLICATE corpus
    * put every doc in one LSH bucket and emitted every O(N²) pair, the
    * exact quadratic dup-cluster blowup the tier exists to avoid (and a
    * silent divergence from the capped exact tier it claims to mirror).
    * Docs whose every shingle is capped carry no near-dup signal (they
    * are an exact-dup cluster — [[dedupPipeline]]'s exact tier owns them)
    * and drop out of candidate generation entirely. */
  def minhashLsh(spark: SparkSession, dir: String, threshold: Double = 0.5,
                 numHashes: Int = 16, bands: Int = 8,
                 dfCap: Int = 128): DataFrame = {
    // bands > numHashes gave r = 0: every band slice empty, every doc a
    // candidate of every other — a silent ALL-PAIRS blowup at crawl
    // scale; a non-dividing bands silently dropped trailing signature
    // entries and miscalibrated the (1/bands)^(1/r) threshold (review
    // r11; the lshTopK/mmrRerank guard class)
    require(bands >= 1 && numHashes % bands == 0,
      s"minhashLsh: bands must divide numHashes, got $numHashes/$bands")
    val r = numHashes / bands
    // zero-shingle docs (< 3 tokens) have no near-dup signal and an
    // all-MaxValue signature that would make them all mutual candidates
    // (and a 0/0 Jaccard under ANSI) — exclude them up front; after the
    // cap the same exclusion covers all-stop-shingle docs
    // cappedShingled costs two posting-volume shuffles and feeds THREE
    // consumers (the signature side + both sides of the verify join);
    // materialize it once — exchange reuse is not guaranteed across the
    // band-join boundary, so without this the stop-list aggregate and
    // per-doc regroup can run multiple times per query (ADVICE r12)
    val capped = cappedShingled(spark, dir, dfCap).localCheckpoint(true)
    val docs = capped
      .withColumn("sig", expr(s"graft_minhash_sig(hs, $numHashes)"))
    // Band join on (doc_id, band_hash) ONLY — a pair matching several bands
    // must not ship its shingle arrays once per match; ids dedupe first and
    // the shingle sets join back exactly once per verified pair side.
    // (Measured 43.7s -> arrays-through-band-join vs ids-only at 50k docs
    // with heavy duplicate structure.)
    val sigs = docs
      .withColumn("band", explode(expr(
        s"transform(sequence(0, ${bands - 1}), " +
          s"b -> named_struct('id', b, 'h', xxhash64(slice(sig, b * $r + 1, $r))))")))
      .select(col("doc_id"), col("band.id").as("band_id"), col("band.h").as("band_h"))
    val a = sigs.alias("a")
    val b = sigs.alias("b")
    val candidates = a.join(b,
        col("a.band_id") === col("b.band_id") && col("a.band_h") === col("b.band_h") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // join-back side only needs the shingle sets, not the signatures; sorted
    // hashed sets make the exact-verify intersection one merge pass. The
    // CAPPED sets: overlap counts only sub-cap shingles (the ngramJaccard
    // contract), while n_sh stays the full pre-cap size for the
    // denominator.
    val sets = capped
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("sha"),
        col("n_sh").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("shb"),
        col("n_sh").as("nb")), Seq("doc_b"))
      .withColumn("c", expr("graft_overlap_count(sha, shb)"))
      .withColumn("jaccard",
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The standard two-tier dedup pipeline: exact dedup first (drop byte
    * copies, keep the min-id representative — at crawl scale this removes
    * the bulk of duplication for the price of one hash-groupBy), then
    * near-dup detection over the survivors. Keeps the near-dup tier's
    * quadratic-in-duplication cost from ever seeing exact copies. */
  def dedupPipeline(spark: SparkSession, dir: String, threshold: Double = 0.5,
                    dfCap: Int = 128): DataFrame = {
    // Shuffle-key by the 16-byte md5 digest, not the document body: the
    // text still has to move (survivors get re-shingled) but key hashing,
    // sort comparisons and map-side combine now touch 16 bytes instead of
    // multi-KB bodies. min_by keeps the survivor pick deterministic.
    val survivors = Tables(spark, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("text_digest"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("text"), col("doc_id")).as("text"))
      .drop("text_digest")
    ngramPairsOn(hashShingledOf(survivors), threshold, dfCap)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SimHash: 64-bit fingerprint — bit j of the fingerprint is the sign of
    * the sum over feature hashes of (+1 if bit j set else -1). Features are
    * the word-3-gram shingles (order-sensitive; distinct-word features
    * saturate on a small vocabulary and lose the near-dup signal). Near-dups
    * land at small hamming distance.
    *
    * The fold runs in [[graft.functions.SimHash64]] — a codegen'd O(n*64)
    * loop per row, no shuffle. (A nested-HOF fold re-evaluates the feature
    * hash array once per bit under Catalyst's project collapsing, and an
    * explode + 64-sum groupBy pays a shuffle for features that already sit
    * in one row.) */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashRaw(spark, dir).select(col("doc_id"), col("simhash")).orderBy(col("doc_id"))

  // md5-prefix feature hashes (graft.functions.Md5Hash60) rather than the
  // Jaccard family's xxhash64: replicable in the oracle engine, so the
  // whole fingerprint is hard-gate-checked. The 60-bit feature domain
  // leaves fingerprint bits 60-63 constant-zero — harmless to banding.
  private def simhashRaw(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextFunctions.register(spark)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), expr("graft_shingle_md5_hashes(text, 3)").as("hs"))
      .select(col("doc_id"), expr("graft_simhash64(hs)").as("simhash"),
        size(col("hs")).as("n_sh"))
  }

  /** SimHash near-dup pairs: banded candidate join (4 x 16-bit blocks — any
    * pair within hamming distance 3 shares at least one whole block by
    * pigeonhole; beyond that, recall is probabilistic but high since flipped
    * bits cluster in few blocks), then exact hamming verification via
    * bit_count(xor). */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 8): DataFrame = {
    val fp = simhashRaw(spark, dir) // no ordering — it would just feed a join
      .filter(col("n_sh") > 0) // zero-shingle docs all share fingerprint 0
      .withColumn("block", explode(expr(
        "transform(sequence(0, 3), b -> named_struct('id', b, 'v', shiftright(simhash, b * 16) & 65535))")))
      .select(col("doc_id"), col("simhash"), col("block.id").as("block_id"),
        col("block.v").as("block_v"))
    val a = fp.alias("a")
    val b = fp.alias("b")
    a.join(b, col("a.block_id") === col("b.block_id") &&
        col("a.block_v") === col("b.block_v") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Near-dup clusters: connected components over the n-gram-Jaccard pair
    * graph, labeled by the minimum doc_id of each component (the canonical
    * survivor). Pregel-style min-label propagation on DataFrames: each
    * iteration is one join + aggregate on the (tiny relative to the corpus)
    * edge set, and the loop runs until the label sum reaches fixpoint —
    * O(cluster diameter) iterations, 2-3 for real dup clusters. The
    * driver-side loop iterates over CONVERGENCE, never over data. At
    * hub-cluster pathology scale, swap in large-star/small-star; the
    * iteration scaffold is identical. */
  def nearDupClusters(spark: SparkSession, dir: String,
                      threshold: Double = 0.5, maxIter: Int = 20): DataFrame = {
    // Persist the pair stream BEFORE mirroring it: the union's two branches
    // would otherwise each execute the whole inverted-index pipeline.
    val pairs = ngramPairsOn(shingled(spark, dir), threshold, dfCap = 128)
      .select(col("doc_a"), col("doc_b"))
      .persist()
    // Size the iteration working set to the EDGE count, not the corpus: the
    // dup graph is orders of magnitude smaller than the input, and every
    // label-propagation round pays per-partition task overhead. ~100k edges
    // per partition, capped at the cluster's parallelism.
    val nEdges = pairs.count()
    val parts = math.max(1, math.min((nEdges / 100000L).toInt + 1,
      spark.sparkContext.defaultParallelism))
    val edges = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
      .repartition(parts, col("src"))
      .persist()
    // Initialize with the FIRST propagation round fused in: label(x) =
    // min(x, min direct neighbor) is exactly the state after one iteration
    // from identity labels, for the cost of the distinct the identity init
    // needed anyway. Clique-shaped dup clusters (the common case) then
    // converge in a single confirming pass.
    // localCheckpoint like every later round (uniform lifecycle): rounds are
    // dropped by overwriting `labels`, and ContextCleaner frees the dead
    // rounds' blocks once the references are GC'd — Dataset.unpersist is a
    // CacheManager call and does nothing for checkpoint blocks, so explicit
    // frees here would be no-ops anyway. O(log n)/O(diameter) live rounds of
    // edge-set-sized data bound the transient footprint.
    var labels = edges.groupBy(col("src").as("doc"))
      .agg(min(col("dst")).as("nbr_min"))
      .select(col("doc"), least(col("doc"), col("nbr_min")).as("cluster"))
      // lazy (r15): the checksum below is the materializing action — the
      // eager form paid one dedicated caching job per round on a loop
      // whose cost is sequential job latency; lineage truncation and
      // ContextCleaner block freeing are identical either way
      .localCheckpoint(false)
    var converged = false
    var iter = 0
    // Order-insensitive (count, xor) label checksum — the bigStar
    // checksum (review r11): sum(cluster) overflows Long under ANSI mode
    // (the Spark 4 default) on full-range ids; xor is closed over Long.
    // coalesce: a dup-free corpus aggregates over zero labels (r9 review),
    // and (0, 0) == (0, 0) then converges on the first confirming pass.
    def labelChecksum(l: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = l.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(doc, cluster))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var checksum = labelChecksum(labels)
    pairs.unpersist()
    while (!converged && iter < maxIter) {
      // neighbor-min pass: label(x) <- min(label(x), min over nbrs label(n))
      val nbrMin = edges
        .join(labels.withColumnRenamed("doc", "src"), "src")
        .groupBy(col("dst").as("doc"))
        .agg(min(col("cluster")).as("nbr_min"))
      // localCheckpoint (eager) both caches the round's result AND truncates
      // lineage: each round references the previous labels twice, so without
      // truncation the logical plan doubles per round and plan
      // stringification alone goes exponential (measured OOM at diameter
      // ~10). A production run on a real cluster would use a reliable
      // checkpoint dir; local checkpoint is the single-process equivalent.
      val next = labels.join(nbrMin, Seq("doc"), "left")
        .select(col("doc"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"))
        .localCheckpoint(false) // lazy: the checksum materializes it
      val nextSum = labelChecksum(next)
      labels = next // previous round's blocks are freed by ContextCleaner
      // labels only decrease; an (count, xor)-equal label multiset means
      // no label moved this round = fixpoint (w.h.p., the bigStar argument)
      converged = nextSum == checksum
      checksum = nextSum
      iter += 1
    }
    edges.unpersist()
    // Fail-stop, not silent divergence: a component with diameter > maxIter
    // would keep split labels and violate the label = min(member) invariant
    // the spec (and recursive-CTE oracle) assert.
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClusters did not converge in $maxIter iterations: a dup " +
          "cluster has diameter > maxIter; raise maxIter or use a " +
          "large-star/small-star formulation for hub-graph pathologies")
    labels.orderBy(col("doc")).select(col("doc").as("doc_id"), col("cluster"))
  }

  /** The dedup ACTION — the step that actually ships a training corpus:
    * every document's disposition after near-dup clustering. Each doc
    * reports its cluster label (its own id when it is in no dup cluster)
    * and `kept` — true iff it is the canonical min-id representative of
    * its cluster. Filtering `kept` is the surviving corpus; the full
    * disposition is emitted (not just survivors) because the drop LIST is
    * what audits, lineage manifests and ablation studies need.
    *
    * Shape at scale: [[nearDupClusters]]'s label table is dup-graph-sized;
    * attaching it back is ONE left join keyed on doc_id against the corpus
    * — linear, no new shuffle structure. Not broadcast deliberately: a
    * heavily-duplicated crawl can put 30%+ of the corpus in the label
    * table, far past executor memory; the keyed join is the shape that
    * never falls over. */
  def dedupApply(spark: SparkSession, dir: String,
                 threshold: Double = 0.5): DataFrame = {
    val clusters = nearDupClusters(spark, dir, threshold)
    Tables(spark, dir, "documents").select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"),
        (coalesce(col("cluster"), col("doc_id")) === col("doc_id")).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Connected components via alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): output-identical to [[nearDupClusters]] but converges in
    * O(log n) rounds regardless of component DIAMETER — the formulation
    * that survives hub-graph / long-chain pathologies where min-label
    * propagation needs diameter rounds. Each round is two groupBy-min +
    * join passes over the (small) edge set — per-edge streaming, no
    * per-node neighborhood arrays, so hubs of any degree stay within
    * record-size limits; the driver loop iterates on a convergence
    * checksum, never on data.
    *
    *  - large-star: for every node u, attach u's LARGER neighbors to
    *    m = min({u} ∪ N(u))
    *  - small-star: direct edges large→small, attach u and its smaller
    *    neighbors to m
    *
    * At fixpoint the edge set is a star forest (v, root) and labels read
    * off directly. */
  def nearDupClustersBigStar(spark: SparkSession, dir: String,
                             threshold: Double = 0.5, maxIter: Int = 20): DataFrame = {
    val pairs = ngramPairsOn(shingled(spark, dir), threshold, dfCap = 128)
      .select(col("doc_a"), col("doc_b"))
      .persist()
    val nEdges = pairs.count()
    val parts = math.max(1, math.min((nEdges / 100000L).toInt + 1,
      spark.sparkContext.defaultParallelism))
    // canonical direction u > v; pairCounts guarantees doc_a < doc_b and
    // one row per pair, so no distinct is needed here.
    val edges = pairs
      .select(col("doc_b").as("u"), col("doc_a").as("v"))
      .repartition(parts, col("u"))
    // free the cached pair blocks as soon as the entry checkpoint has
    // materialized from them — NOT after the convergence loop returns, or
    // the largest intermediate of the whole operator sits in storage memory
    // for O(log n) extra rounds (r9 review)
    val labels = bigStarComponents(edges, maxIter, "nearDupClustersBigStar",
      afterMaterialize = () => { pairs.unpersist(); () })
    labels.orderBy(col("doc_id"))
  }

  /** The alternating large-star/small-star CC loop itself, factored out so
    * OTHER graph operators (the [[graft.ops.Graph.dbscan]] core-subgraph
    * labeling, r8 verdict #2) reuse the O(log n) formulation instead of
    * growing their own diameter-bounded unrolls. `edges0` must carry one
    * row per undirected edge as (u, v) with u > v; returns (doc_id,
    * cluster = min member id of its component) for every node that appears
    * in an edge — isolated nodes are the caller's to attach. */
  private[graft] def bigStarComponents(edges0: DataFrame, maxIter: Int,
                                       what: String,
                                       afterMaterialize: () => Unit = () => ())
      : DataFrame = {
    // LAZY localCheckpoint (r15): the entry checksum below is the round's
    // first action anyway, so it doubles as the materializer — the eager
    // form paid a dedicated caching job per checkpoint on a loop whose
    // per-round cost is dominated by sequential job latency. Lineage is
    // truncated either way (the Dataset wraps a LogicalRDD at checkpoint
    // time); ContextCleaner still frees dropped rounds' blocks.
    var edges = edges0.localCheckpoint(false)
    // Order-insensitive set checksum: (count, xor of per-edge hashes).
    // XOR instead of sum — ANSI mode makes a sum of full-range longs an
    // overflow error, and xor is closed over Long with the same
    // collision-probability argument.
    def edgeChecksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var checksum = edgeChecksum(edges)
    // the checksum materialized the entry checkpoint, so the caller's
    // upstream caches are no longer referenced past this point — give it
    // the chance to free them before the convergence rounds run (MOVED
    // below the checksum when the checkpoint went lazy: unpersisting
    // before materialization would force the upstream pipeline to rerun)
    afterMaterialize()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // Each star round is a groupBy-MIN plus a join back onto the edges —
      // never a per-node collect_list/collect_set: a hub of degree d would
      // otherwise materialize a d-element array in one row of one task,
      // hitting the record-size/heap wall at exactly the hub pathology this
      // operator exists for. min + join stream per edge; both sides hash-
      // partition on the same key.
      // large-star: attach each node's LARGER neighbors to m = min(N+(a))
      val sym = edges.select(col("u").as("a"), col("v").as("b"))
        .union(edges.select(col("v").as("a"), col("u").as("b")))
      val lsMin = sym.groupBy(col("a")).agg(min(col("b")).as("nm"))
        .select(col("a"), least(col("a"), col("nm")).as("m"))
      // No distinct here: each undirected edge survives the b > a filter in
      // exactly one orientation, so |ls| = |edges| up to min-label
      // collisions, and both consumers tolerate duplicates (ssMin is a
      // groupBy-min; ss dedups itself). Dropping it removes one full
      // shuffle per round.
      val ls = sym.join(lsMin, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
      // small-star: edges now directed large->small; attach u and its
      // smaller neighbors to m = min(N(u)) (all neighbors are < u here)
      val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      // eager localCheckpoint: cache + lineage truncation — every round
      // references the previous edge set three times (sym twice, small-star
      // once), so an un-truncated plan grows 3^rounds and the explain-string
      // build OOMs before any data does. See nearDupClusters for the
      // cluster-deployment note.
      val ss = ls.join(ssMin, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("n"), col("m"))
        .union(ssMin.filter(col("u") =!= col("m"))
          .select(col("u").as("n"), col("m")))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
        // lazy: the checksum right below is the materializing action
        .localCheckpoint(false)
      val nextSum = edgeChecksum(ss)
      edges = ss // previous round's blocks are freed by ContextCleaner
      converged = nextSum == checksum
      checksum = nextSum
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"$what did not converge in $maxIter rounds " +
          "(expected O(log n)); the edge set is pathological or maxIter is too low")
    // star forest: non-roots point at their root; roots label themselves
    edges.select(col("u").as("doc_id"), col("v").as("cluster"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("cluster")))
      .groupBy(col("doc_id")).agg(min(col("cluster")).as("cluster"))
  }

  /** Cross-source duplication matrix — the provenance diagnostic behind
    * "which sources syndicate from which": documents sharing a 64-char
    * normalized prefix fingerprint across DIFFERENT sources (shared
    * openings = boilerplate/syndication; exact whole-text duplicates
    * rarely cross source boundaries, prefixes do). Output per source
    * pair: shared fingerprint count and the overlap coefficient
    * `n_shared / min(|A|, |B|)`.
    *
    * Shape at scale: fingerprints shuffle as md5 digests (never text),
    * the (digest, source) table is deduped first so a digest appearing
    * thousands of times per source costs one row, the pair join is keyed
    * on the digest, and the per-source totals join back from a
    * sources-bounded broadcast. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val dg = Tables(spark, dir, "documents")
      .select(md5(expr("substring(lower(text), 1, 64)")).as("d"), col("source"))
      .distinct()
      .localCheckpoint(true) // consumed by the pair join (twice) + totals
    val tot = dg.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val shared = dg.alias("a")
      .join(dg.alias("b"),
        col("a.d") === col("b.d") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(tot.select(col("source").as("source_a"), col("n").as("na"))),
        Seq("source_a"))
      .join(broadcast(tot.select(col("source").as("source_b"), col("n").as("nb"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared").cast("double") / least(col("na"), col("nb")), 4)
          .as("overlap"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Edit-distance fuzzy dedup (SymSpell/FastSS deletion-neighborhood
    * blocking): finds key classes whose normalized 12-char prefix keys are
    * within Levenshtein distance 1 — the character-level tolerance tier
    * (OCR glitches, typo'd titles, near-identical headers) that the
    * token-level n-gram/MinHash family cannot see.
    *
    * Two-stage shape, both stages essential at 100 TB:
    *  1. EXACT classes first — group identical keys to one representative
    *     before any pair work, so N identical boilerplate prefixes cost
    *     one class row instead of an N^2 pair blowup inside a bucket.
    *  2. SymSpell candidate generation over DISTINCT keys only — each key
    *     emits itself plus its len single-deletion variants (bounded
    *     explode, <= keyLen+1 rows/class); two keys within edit distance
    *     1 MUST share a variant (the FastSS exactness guarantee), so the
    *     variant equi-join is a complete candidate set, never all-pairs.
    *     Survivors are verified with the real `levenshtein` (codegen'd
    *     built-in) — distance-0 pairs are impossible across distinct
    *     keys, so every emitted pair is a genuine 1-edit link.
    *
    * The `sequence(1, 0)`-descends guard ([[TextAnalysis.lmScore]] lesson)
    * covers empty keys. */
  def editDedup(spark: SparkSession, dir: String, keyLen: Int = 12): DataFrame = {
    val cls = Tables(spark, dir, "documents")
      .select(col("doc_id"), expr(s"substring(lower(text), 1, $keyLen)").as("k"))
      .groupBy(col("k")).agg(min(col("doc_id")).as("rep"))
    val v = cls.select(col("rep"), col("k"), explode(expr(
      s"""array_append(
         |  CASE WHEN length(k) >= 1
         |    THEN transform(sequence(1, length(k)),
         |           i -> concat(substring(k, 1, i - 1), substring(k, i + 1, $keyLen)))
         |    ELSE array() END, k)""".stripMargin)).as("vr"))
    val a = v.alias("a")
    val b = v.alias("b")
    a.join(b, col("a.vr") === col("b.vr") && col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("doc_a"), col("b.rep").as("doc_b"),
        col("a.k").as("key_a"), col("b.k").as("key_b"))
      .distinct()
      .filter(levenshtein(col("key_a"), col("key_b")) <= 1)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("key_a"), col("key_b")).as("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Embedding-cosine near-dup: pairs above a cosine threshold, blocked by
    * (`label`, sign pattern of the first 4 components) — the coarse-
    * quantization/IVF pattern: compare only within a partition cell instead
    * of all |V|^2 pairs, which is what keeps this operator alive at 100 TB
    * (near-identical vectors agree on coarse signs). Cosine is computed in
    * double precision with a sequential fold, matching the oracle
    * bit-for-bit before rounding. */
  def embedDup(spark: SparkSession, dir: String, threshold: Double = 0.3): DataFrame =
    epsPairs(signCelled(spark, dir), Seq("label", "cell"), threshold)

  /** The shared eps-pair tail of [[embedDup]]/[[embedDupCells]]: block-keyed
    * self-join (vec_id < vec_id dedup), round-4 cosine, threshold cut — ONE
    * definition so the oracle-graded cosine/ordering contract cannot
    * silently diverge between the gate and production blockings. */
  private def epsPairs(blocked: DataFrame, keys: Seq[String],
                       threshold: Double): DataFrame = {
    val a = blocked.alias("a")
    val b = blocked.alias("b")
    val cond = keys.map(k => col(s"a.$k") === col(s"b.$k"))
      .reduce(_ && _) && col("a.vec_id") < col("b.vec_id")
    a.join(b, cond)
      .withColumn("cosine", round(
        expr("graft_dot(a.v, b.v)") / (col("a.norm") * col("b.norm")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The PRODUCTION blocking tier of [[embedDup]] (r8 verdict #1): the
    * frozen (label, 16-sign-cell) blocks cannot grow with the corpus, so
    * per-block population — and the within-block pair join — grows
    * quadratically at 100x data (the measured `knn_cells_fixed` bend).
    * Here the block count SCALES: a two-level product coarse quantizer
    * (the inverted-multi-index construction, Babenko & Lempitsky, CVPR
    * 2012) splits each vector into two halves, assigns each half to its
    * max-cosine seed among `k = ceil(sqrt(nCells))` deterministic seeds
    * (first k corpus vectors — the [[graft.ops.Similarity.ivfTopK]]
    * stand-in for trained k-means halves), and the cell is the PAIR of
    * half-assignments — k^2 >= nCells cells at 2k half-fold cost per row,
    * so even the demo quantizer's per-row assignment stays O(sqrt(nCells))
    * and the x100 ScaleCurve run measures the OPERATOR, not a quantizer
    * fold that grows with the cell count (the limitation that capped the
    * single-level decon_ivf tier at x10).
    *
    * Scale shape: seeds broadcast (k rows), assignment is per-row compute
    * with NO shuffle, the pair join is a cell-keyed equi self-join —
    * nCells ∝ corpus keeps per-cell population constant, so pair volume
    * and wall grow linearly where the frozen blocking bends quadratic.
    * `nCells = 1` degenerates to the exact all-pairs eps graph — the
    * equality spec — and for any nCells the emitted set is EXACTLY
    * {pairs co-assigned to one cell with cosine >= threshold}, re-derived
    * independently in the within-cell-answer spec. */
  def embedDupCells(spark: SparkSession, dir: String, threshold: Double = 0.3,
                    nCells: Int = AutoCells): DataFrame =
    epsPairs(productCellAssign(spark, dir, resolveCells(spark, dir, nCells)),
      Seq("cell"), threshold)

  /** Sentinel for "derive the cell count from the corpus" — the DEFAULT
    * for every cells-tier entry point (r9 verdict #7): a production tier
    * whose nCells is frozen while the corpus grows re-creates exactly the
    * quadratic bend the tier exists to avoid (the measured
    * `knn_cells_fixed` curve), so the safe default must track the data. */
  val AutoCells: Int = 0

  /** The measured cells-tier operating point (SCALE.md x100 run: ~240
    * rows/cell kept the graph family flat-to-linear): the auto-derived
    * cell count targets this mean population. */
  val TargetCellPopulation: Long = 240L

  /** Corpus-derived cell count: `ceil(corpusRows / TargetCellPopulation)`,
    * floor 1 — per-cell population stays ~constant as the corpus grows, so
    * within-cell pair volume (and wall) grows linearly. */
  def autoCells(corpusRows: Long): Int = {
    // ceil without the +(target-1) addition, which overflows Long at the
    // extreme top of the range and would wrap to 1 cell
    val ceil = corpusRows / TargetCellPopulation +
      (if (corpusRows % TargetCellPopulation == 0L) 0L else 1L)
    math.min(Int.MaxValue.toLong, math.max(1L, ceil)).toInt
  }

  /** Resolve [[AutoCells]] against the actual corpus count (one cheap
    * parquet-metadata count); an explicit nCells passes through. */
  private[graft] def resolveCells(spark: SparkSession, dir: String,
                                  nCells: Int): Int =
    if (nCells == AutoCells)
      // filtered count: cells size to the INDEX MEMBERS (null-vector rows
      // are excluded everywhere in this family — Similarity.withVec)
      autoCells(Tables(spark, dir, "embeddings")
        .filter(col("embedding").isNotNull).count())
    else nCells

  /** The two-level product-quantizer cell ASSIGNMENT itself — (vec_id, v,
    * norm, cell), localCheckpointed (it always feeds a self-join or a
    * multi-consumer graph build; the AQE exchange-reuse house rule).
    * Shared by [[embedDupCells]] and the kNN/hubness cells tier
    * ([[graft.ops.Similarity.knnGraph]] with `blocking = "cells"`). */
  private[graft] def productCellAssign(spark: SparkSession, dir: String,
                                       nCells: Int): DataFrame = {
    require(nCells >= 1, s"nCells must be >= 1; got $nCells")
    graft.functions.VectorFunctions.register(spark)
    val k = math.max(1, math.ceil(math.sqrt(nCells.toDouble)).toInt)
    // the transform scores each seed ONCE (the dot product is the whole
    // per-row assignment cost); the fold then argmaxes over the small
    // (score, cell) structs — strict >, first seed wins ties, same
    // -2.0/-1.5 sentinels as before (r9 review: inlining the score into
    // both branches of the fold lambda made Catalyst evaluate every dot
    // product twice)
    def halfFold(cells: String, v: String, n: String) =
      s"""aggregate(
         |  transform($cells, s -> named_struct(
         |    'score', if($n * s.snorm = 0D, cast(-1.5 as double),
         |               graft_dot($v, s.sv) / ($n * s.snorm)),
         |    'cell', s.seed_id)),
         |  named_struct('best', cast(-2.0 as double), 'cell', -1L),
         |  (acc, s) -> if(s.score > acc.best,
         |    named_struct('best', s.score, 'cell', s.cell),
         |    acc)).cell""".stripMargin
    val e = Tables(spark, dir, "embeddings")
      // null-vector rows are not index members (Similarity.withVec policy)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("norm", expr("graft_norm(v)"))
      .withColumn("v1", expr("slice(v, 1, size(v) div 2)"))
      .withColumn("v2", expr("slice(v, size(v) div 2 + 1, size(v) - size(v) div 2)"))
      .withColumn("n1", expr("graft_norm(v1)"))
      .withColumn("n2", expr("graft_norm(v2)"))
    val seeds = e.filter(col("vec_id") < k)
      .agg(
        sort_array(collect_list(struct(col("vec_id").as("seed_id"),
          col("v1").as("sv"), col("n1").as("snorm")))).as("cells1"),
        sort_array(collect_list(struct(col("vec_id").as("seed_id"),
          col("v2").as("sv"), col("n2").as("snorm")))).as("cells2"))
    e.crossJoin(broadcast(seeds))
      .withColumn("c1", expr(halfFold("cells1", "v1", "n1")))
      .withColumn("c2", expr(halfFold("cells2", "v2", "n2")))
      .select(col("vec_id"), col("v"), col("norm"),
        (col("c1") * k + col("c2")).as("cell"))
      .localCheckpoint(true)
  }

  /** Embeddings with double components, their norm, and the (label, sign
    * pattern of the first 4 components) blocking cell shared by the
    * embedding-dedup family. */
  private def signCelled(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    Tables(spark, dir, "embeddings")
      // null-vector rows are not index members (Similarity.withVec policy)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("norm", expr("graft_norm(v)"))
      .withColumn("cell", expr(
        "int(v[0] > 0D) * 8 + int(v[1] > 0D) * 4 + int(v[2] > 0D) * 2 + int(v[3] > 0D)"))
  }

  /** SemDeDup-style semantic dedup DISPOSITION (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space coarsely, find
    * near-duplicate pairs within each cluster, and keep — per the paper's
    * keep-rule — the member FARTHEST from the cluster centroid (lowest
    * cosine to it), dropping its eps-neighbors. The paper clusters with
    * k-means (seed-bound, not oracle-replicable); this operator uses the
    * deterministic (label, sign-cell) blocking that [[embedDup]] already
    * establishes as the coarse-quantization analog, so the whole
    * disposition is engine-exact and DuckDB-checkable. The keep-rule is
    * applied pairwise: an item is dropped iff SOME eps-neighbor in its
    * cell is a strictly better keeper — smaller (rounded cos-to-centroid,
    * vec_id) key — which needs no iteration and guarantees every dup pair
    * loses at least one member while singletons always survive.
    *
    * Shape at scale: centroids are ONE two-phase aggregate keyed on
    * (label, cell, dim) — labels x cells x dims partial buffers, corpus-
    * independent (the [[graft.ops.Similarity.embedPool]] shape) — then a
    * 64-element reassembly per cell. The pair join is cell-blocked like
    * [[embedDup]] (never all-pairs), and the disposition is one groupBy
    * over the pair set, which is dup-graph-sized, not corpus-sized. The
    * final attach is a keyed left join on vec_id — linear. Nothing is
    * collected; comparisons use 4-dp-rounded doubles so the kept flag is
    * engine-deterministic. */
  def semDedup(spark: SparkSession, dir: String, eps: Double = 0.3): DataFrame = {
    val e = signCelled(spark, dir)
    // centroid per (label, cell): element-wise mean, rebuilt into an array
    // ordered by dimension (the collect_list is dim-count-sized, bounded)
    val cent = e
      .select(col("label"), col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("cell"), col("dim"))
      .agg(avg(col("x")).as("m"))
      .groupBy(col("label"), col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, m))), s -> s.m)")
        .as("cv"))
    val scored = e.join(cent, Seq("label", "cell"))
      .withColumn("cos_centroid",
        round(expr("graft_dot(v, cv)") / (col("norm") * expr("graft_norm(cv)")), 4)
          + lit(0.0))
      .select(col("vec_id"), col("label"), col("cell"), col("cos_centroid"))
    val a = e.alias("a")
    val b = e.alias("b")
    val pairs = a.join(b,
        col("a.label") === col("b.label") && col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(round(expr("graft_dot(a.v, b.v)") / (col("a.norm") * col("b.norm")), 4)
        >= eps)
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"))
    val sym = pairs.union(pairs.select(col("j").as("i"), col("i").as("j")))
    val si = scored.select(col("vec_id").as("i"),
      col("cos_centroid").as("cos_i"))
    val sj = scored.select(col("vec_id").as("j"),
      col("cos_centroid").as("cos_j"))
    val disposition = sym.join(si, "i").join(sj, "j")
      .groupBy(col("i").as("vec_id"))
      .agg(count(lit(1)).as("n_dups"),
        max(col("cos_j") < col("cos_i") ||
          (col("cos_j") === col("cos_i") && col("j") < col("i")))
          .as("has_better"))
    scored.join(disposition, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("cell"), col("cos_centroid"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (!coalesce(col("has_better"), lit(false))).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Benchmark decontamination: for every document in the (hash-derived)
    * test split, how many of its word-`n`-gram shingles appear anywhere in
    * the train split. The standard eval-leakage check run before training:
    * a test doc with n_hit > 0 shares at least one n-gram with training
    * data; contam_ratio ~ 1 means the doc is effectively contained in it.
    *
    * Shape at scale: the train shingle set is a distinct over exploded
    * 8-byte hashes (map-side partial distinct first), and the containment
    * test is ONE shuffle join keyed on the hash — test-side shingles
    * against train-side shingles, never doc x doc. Both sides grow linearly
    * with the corpus; nothing is quadratic and nothing is collected.
    * Exact modulo 64-bit collisions, like the Jaccard family. */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 5): DataFrame = {
    graft.functions.TextFunctions.register(spark)
    val d = Tables(spark, dir, "documents")
      .withColumn("is_train", TextAnalysis.splitHash(col("doc_id")) < 80)
      .select(col("doc_id"), col("is_train"),
        expr(s"graft_shingle_hashes(text, $n)").as("hs"))
      .withColumn("n_sh", size(col("hs")))
    val trainSh = d.filter(col("is_train"))
      .select(explode(col("hs")).as("h")).distinct()
      .withColumn("hit", lit(1))
    val hits = d.filter(!col("is_train"))
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .join(trainSh, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("hit")).as("n_hit"))
    // left join back so short test docs (zero shingles) still report
    d.filter(!col("is_train"))
      .select(col("doc_id"), col("n_sh").cast("long").as("n_sh"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          greatest(col("n_sh"), lit(1L)), 4).as("contam_ratio"))
      .orderBy(col("doc_id"))
  }

  /** [[decontaminate]] with a broadcast Bloom prefilter — the sketch-first
    * shape the exact join takes at 100 TB: the train shingle set is folded
    * into a Bloom filter (built distributed via `stat.bloomFilter`'s
    * treeAggregate, only the ~10-bits-per-item bitset reaches the driver),
    * broadcast to every executor, and the test-side shingle stream is
    * prefiltered AT THE SCAN — no shuffle — before the exact verify join
    * sees it. Bloom filters admit false positives but never false
    * negatives, so after the exact join the output is IDENTICAL to the
    * join-only operator (same oracle); what changes is the join volume:
    * only test shingles that (probably) occur in train ever reach the
    * shuffle, which for a typically-small contamination surface removes
    * almost the entire test-side shuffle. Sizing here derives from the
    * train distinct count (one extra O(1)-result job); a 100 TB deployment
    * pins a fixed bitset budget instead and lets fpp float. */
  def decontaminateBloom(spark: SparkSession, dir: String, n: Int = 5,
                         fpp: Double = 0.01): DataFrame = {
    graft.functions.TextFunctions.register(spark)
    val d = Tables(spark, dir, "documents")
      .withColumn("is_train", TextAnalysis.splitHash(col("doc_id")) < 80)
      .select(col("doc_id"), col("is_train"),
        expr(s"graft_shingle_hashes(text, $n)").as("hs"))
      .withColumn("n_sh", size(col("hs")))
    // persisted across the two BUILD-TIME actions (sizing count + bloom
    // aggregate), then released: the verify join in the returned lazy plan
    // recomputes the set once at execution, which costs one scan but
    // leaves no session-lifetime cache entry behind (an unreleased persist
    // here would stay resident for every later query in the session).
    // Net: two computations instead of the unpersisted three.
    val trainSh = d.filter(col("is_train"))
      .select(explode(col("hs")).as("h")).distinct().persist()
    // an EMPTY train set yields an UNINITIALIZED BloomFilterImpl whose
    // writeTo NPEs (r12 fuzz); an empty benchmark contaminates nothing,
    // so the probe filter is simply `false`
    val trainCount = trainSh.count()
    val bloomBytes: Option[Array[Byte]] =
      if (trainCount == 0L) { trainSh.unpersist(); None }
      else {
        val bloom =
          try trainSh.stat.bloomFilter("h", math.max(trainCount, 64L), fpp)
          finally trainSh.unpersist()
        // the probe is Spark's own codegen'd BloomFilterMightContain (the
        // expression behind InjectRuntimeFilter's semi-join blooms) over
        // the serialized bitset — not a scala UDF, so the filter stays
        // inside the scan stage's WholeStageCodegen span and deserializes
        // once per task, exactly how Spark ships its runtime-filter blooms
        val bos = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bos)
        Some(bos.toByteArray)
      }
    val probeCond = bloomBytes
      .map(b => call_function("graft_might_contain", lit(b), col("h")))
      .getOrElse(lit(false))
    val hits = d.filter(!col("is_train"))
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .filter(probeCond)
      .join(trainSh.withColumn("hit", lit(1)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("hit")).as("n_hit"))
    d.filter(!col("is_train"))
      .select(col("doc_id"), col("n_sh").cast("long").as("n_sh"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          greatest(col("n_sh"), lit(1L)), 4).as("contam_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Corpus n-gram NOVELTY: per document, how many of its distinct word-
    * `n`-gram shingles appear in NO other document (corpus df = 1), and the
    * novelty ratio. The inverse of [[containment]]/boilerplate detection —
    * high novelty marks content contributing new text to the corpus, the
    * signal used to weight or keep documents during mixture construction.
    *
    * Scale shape: df is one groupBy over exploded 8-byte shingle hashes
    * (map-side partial agg), the per-doc reduction one more keyed groupBy —
    * both linear in corpus shingle volume, nothing quadratic, nothing
    * collected. Exact modulo 64-bit hash collisions like the whole Jaccard
    * family (the DuckDB oracle shingles strings; counts agree unless
    * xxhash64 collides, ~1e-9 at 1e5 distinct shingles). */
  def novelty(spark: SparkSession, dir: String, n: Int = 3): DataFrame = {
    graft.functions.TextFunctions.register(spark)
    // ONE pass through the shingle hasher (the dominant cost): the earlier
    // three-subtree formulation (df aggregate + unique-join + report join)
    // re-executed the corpus scan per subtree. Here df comes from a count
    // window over the single exploded postings stream — same hash
    // partitioning the aggregate would use — and the per-doc reduction is
    // the only other shuffle. explode_outer keeps zero-shingle docs (< n
    // tokens) as a null-h row so they still report; the window key gives
    // each such row its own per-doc SURROGATE partition — partitioning all
    // of them on literal null would funnel every short doc in the corpus
    // into one straggler task, the skew regime this file exists to avoid.
    // The struct key's is_surrogate flag keeps the surrogate domain
    // structurally disjoint from real shingle hashes: a surrogate that
    // happens to equal a real hash can no longer inflate that shingle's df
    // from 1 to 2 and silently drop it from n_unique (symmetric
    // shingle-vs-shingle collisions remain the ~n^2/2^64 class the whole
    // hashed-shingle family accepts). Null h stays excluded from the
    // unique count: a missing shingle, not a rare one.
    val w = Window.partitionBy(struct(
      coalesce(col("h"), xxhash64(col("doc_id"))).as("k"),
      col("h").isNull.as("is_surrogate")))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), expr(s"graft_shingle_hashes(text, $n)").as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"),
        explode_outer(col("hs")).as("h"))
      .withColumn("df", count(lit(1)).over(w))
      .groupBy(col("doc_id"))
      .agg(first(col("n_sh")).as("n_sh"),
        sum(when(col("df") === 1 && col("h").isNotNull, 1L).otherwise(0L))
          .as("n_unique"))
      .select(col("doc_id"), col("n_sh"), col("n_unique"),
        round(col("n_unique").cast("double") /
          greatest(col("n_sh"), lit(1L)), 4).as("novelty_ratio"))
      .orderBy(col("doc_id"))
  }
}
