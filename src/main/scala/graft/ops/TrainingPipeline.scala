package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The capstone composition: assemble a training corpus end-to-end —
  *
  *  1. exact dedup of the train split (min doc_id per identical text)
  *  2. near-dup removal (n-gram Jaccard pairs at t=0.5, df cap 128;
  *     greedy: drop the larger id of every pair)
  *  3. quality filter (chars >= 120, tokens >= 30, repetition <= 0.01)
  *  4. decontamination (drop any survivor sharing a word-5-gram with ANY
  *     test-split document)
  *  5. sequence packing (512-token bins per shard = doc_id % 8)
  *
  * emitted as the per-(shard, bin) manifest a trainer consumes. Every stage
  * reuses the standalone operator's formulation, so the stage semantics are
  * individually oracle-pinned elsewhere and the composition is pinned here.
  *
  * Shape at scale: stages 1-4 are each one or two hash-keyed shuffles over
  * a monotonically SHRINKING survivor set (each stage's anti-join keys on
  * 8-byte ids/hashes); packing windows per shard. Nothing is quadratic in
  * the corpus and nothing collects.
  */
object TrainingPipeline {

  def trainManifest(spark: SparkSession, dir: String, budget: Int = 512,
                    shards: Int = 8, threshold: Double = 0.5,
                    dfCap: Int = 128): DataFrame = {
    graft.functions.TextFunctions.register(spark)
    val d = Tables(spark, dir, "documents")
      .withColumn("tr", TextAnalysis.splitHash(col("doc_id")) < 80)

    // 1. exact tier among train docs — digest-keyed like dedupPipeline:
    // the shuffle key is the 16-byte md5, never the document body
    val keep1 = d.filter(col("tr"))
      .groupBy(md5(col("text").cast("binary")).as("text_digest"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("text"), col("doc_id")).as("text"))
      .select(col("doc_id"), col("text"))

    // 2. near-dup pairs among survivors; drop the doc_b side
    val pairs = Dedup.ngramPairsOn(Dedup.hashShingledOf(keep1), threshold, dfCap)
    val dropped = pairs.select(col("doc_b").as("doc_id")).distinct()
    val keep2 = keep1.join(dropped, Seq("doc_id"), "left_anti")

    // 3. quality filter (same metrics as the funnel's final stage).
    // keep3 has TWO consumers below (the decontamination shingle explode
    // and the final anti-join), and its subtree is the ENTIRE pipeline so
    // far — stages 1-3 including the near-dup pair generation. Without a
    // materialization the final plan carries that subtree twice and
    // runtime exchange reuse is not guaranteed across the semi/anti-join
    // boundary (the oovRate/bitextMine precedent). Materializing the
    // post-filter survivor set (the SMALLEST corpus-shaped frame in the
    // pipeline — three filters in) makes stages 1-3 run exactly once.
    // At 100 TB this is the standard staging point: a real pipeline
    // writes the filtered survivors before decontamination anyway.
    val keep3 = keep2
      .withColumn("chars", length(col("text")))
      .withColumn("n_tok", size(split(col("text"), " ")))
      .withColumn("n_grams", greatest(col("n_tok") - 2, lit(0)))
      .withColumn("rep", when(col("n_grams") > 0,
        (col("n_grams") - size(expr("graft_shingle_hashes(text, 3)"))).cast("double") /
          col("n_grams")).otherwise(lit(0.0)))
      .filter(col("chars") >= 120 && col("n_tok") >= 30 && col("rep") <= 0.01)
      .localCheckpoint(true)

    // 4. decontamination against the FULL test split (not deduped — any
    // leaked n-gram counts); one hash-keyed semi-join each side
    val testSh = d.filter(!col("tr"))
      .select(explode(expr("graft_shingle_hashes(text, 5)")).as("g")).distinct()
    val survSh = keep3.select(col("doc_id"),
      explode(expr("graft_shingle_hashes(text, 5)")).as("g"))
    val contaminated = survSh.join(testSh, Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
    val keep4 = keep3.join(contaminated, Seq("doc_id"), "left_anti")

    // 5. pack into budget-token bins per shard
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
    keep4
      .select(col("doc_id"), (col("doc_id") % shards).cast("int").as("shard"),
        col("n_tok").cast("long").as("n_tok"))
      .withColumn("start_tok", sum(col("n_tok")).over(w) - col("n_tok"))
      // integer div, not floor(double /): exact at any magnitude, where a
      // double round-trip could land cumulative token counts past 2^53 in
      // the adjacent bin (the Layout.scala rule; review r11)
      .groupBy(col("shard"),
        expr(s"start_tok div $budget").cast("long").as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("shard"), col("bin"))
  }

  /** DSIR-style importance weights for data selection (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"): score
    * every document by how target-domain-like its token distribution is —
    * log w(d) = Σ_w count_w(d) · (ln p_target(w) − ln p_raw(w)) — then
    * resample the raw corpus by weight. Target here = the `lang = 'en'`
    * slice; raw = the whole corpus; unigram features with add-α smoothing
    * (the paper hashes n-grams into 10k buckets — on this fixture's ~40
    * word vocabulary, unsmashed unigrams are the same model; a bucketed
    * generalization changes only the token→feature projection). Smoothing
    * is over the JOINT vocabulary, so target-unseen tokens get finite
    * negative evidence instead of −∞.
    *
    * Shape at scale: two token-count aggregates (target and raw — the raw
    * one subsumes the corpus scan), ONE shuffle each; the per-token
    * log-ratio table is vocabulary-sized (broadcast — at web scale the
    * hashed-feature table is 10k rows, still broadcastable by design), and
    * the per-doc score is one explode + keyed groupBy. Everything linear
    * in corpus tokens, nothing collected. */
  def dsirWeights(spark: SparkSession, dir: String,
                  targetLang: String = "en", alpha: Double = 0.5): DataFrame = {
    // empty tokens dropped (review r11): consecutive/leading whitespace
    // would otherwise mint a "" vocabulary row that skews n_tok, the
    // totals, and every affected doc's weight — formatting noise, not
    // content; heavyHitters applies the same filter
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val raw = d.groupBy(col("w")).agg(count(lit(1)).as("c_raw"))
    val tgt = d.filter(col("lang") === targetLang)
      .groupBy(col("w")).agg(count(lit(1)).as("c_tgt"))
    // joint vocab = raw vocab (target ⊆ raw); totals as broadcast 1-rows
    val lp = raw.join(tgt, Seq("w"), "left")
      .withColumn("c_tgt", coalesce(col("c_tgt"), lit(0L)))
    val totals = lp.agg(sum(col("c_raw")).cast("double").as("t_raw"),
      sum(col("c_tgt")).cast("double").as("t_tgt"),
      count(lit(1)).cast("double").as("v"))
    val ratio = lp.crossJoin(broadcast(totals))
      .select(col("w"),
        (log((col("c_tgt") + alpha) / (col("t_tgt") + lit(alpha) * col("v"))) -
          log((col("c_raw") + alpha) / (col("t_raw") + lit(alpha) * col("v"))))
          .as("lr"))
    d.join(broadcast(ratio), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tok"),
        round(sum(col("lr")), 4).as("log_weight"))
      .orderBy(col("doc_id"))
  }

  /** Fill-in-the-middle span corruption (Bavarian et al. 2022) — the data
    * prep behind infilling-capable code/text models: each eligible doc
    * (>= 4 tokens) is split into (prefix, middle, suffix) with the span
    * start and length derived from md5 of the doc id — the house
    * deterministic-randomness recipe, so the corruption is reproducible
    * on any engine and any layout (seeded `rand()` is not). Start lands
    * in [2, n-1] (prefix always non-empty), length in [1, n-start]
    * (suffix never starts past the end). Pure per-row expression work:
    * one scan, no shuffle, flat at any corpus size. */
  def fimSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = (salt: String) =>
      s"cast(conv(substring(md5(concat('graft_fim:$salt:', " +
        s"cast(doc_id as string))), 1, 15), 16, 10) as bigint)"
    Tables(spark, dir, "documents")
      .withColumn("t", split(col("text"), " "))
      .withColumn("n", size(col("t")).cast("long"))
      .filter(col("n") >= 4)
      .withColumn("start", expr(s"2 + pmod(${h("s")}, n - 2)"))
      .withColumn("len", expr(s"1 + pmod(${h("l")}, n - start)"))
      .select(col("doc_id"), col("n").as("n_tokens"), col("start"), col("len"),
        expr("array_join(slice(t, 1, cast(start - 1 as int)), ' ')").as("prefix"),
        expr("array_join(slice(t, cast(start as int), cast(len as int)), ' ')")
          .as("middle"),
        expr("array_join(slice(t, cast(start + len as int), " +
          "cast(n - start - len + 1 as int)), ' ')").as("suffix"))
      .orderBy(col("doc_id"))
  }

  /** RAG context packing — the retrieval-side twin of [[trainManifest]]'s
    * budget selection: score every 48-token chunk against a query term
    * set (integer overlap counts — the BM25-lite relevance a first-stage
    * retriever emits), cut to the top-`cand` candidates, then greedily
    * pack ranked chunks into the context window until the token budget is
    * spent. The running-sum window runs over the TakeOrderedAndProject-cut
    * candidate set (<= `cand` rows), never the corpus — the same
    * bounded-window discipline as [[Sampling.corpusSample]].
    *
    * Rank order is (overlap desc, doc, chunk) — fully deterministic; a
    * chunk is kept iff the budget survives INCLUDING it, so the packed
    * context is a prefix of the ranking (skip-ahead packing would fill
    * tighter but breaks the ranking contract rerankers rely on). */
  def contextPack(spark: SparkSession, dir: String, budget: Int = 256,
                  cand: Int = 64): DataFrame = {
    // the global rank window + cumulative pack run over the post-limit(cand)
    // table BY PREMISE; bound the parameter so a caller cannot silently
    // turn that into an unpartitioned corpus-wide window (lshTopK precedent)
    require(cand >= 1 && cand <= 4096,
      s"contextPack cand must be in [1, 4096] (single-task rank+pack window); got $cand")
    val terms = Seq("data", "model", "system", "result", "analysis")
    val scored = Tables(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, (size(toks) - 1) div 32), " +
          "i -> slice(toks, i * 32 + 1, 48))")).as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(col("chunk")).cast("long").as("n_tok"),
        expr(s"size(filter(chunk, x -> x in (${terms.map("'" + _ + "'").mkString(", ")})))")
          .cast("long").as("overlap"))
      .filter(col("overlap") > 0)
    val top = scored
      .orderBy(col("overlap").desc, col("doc_id"), col("chunk_id")).limit(cand)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("overlap").desc, col("doc_id"), col("chunk_id"))
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_tok", sum(col("n_tok")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .filter(col("cum_tok") <= budget)
      .select(col("rank"), col("doc_id"), col("chunk_id"), col("overlap"),
        col("n_tok"), col("cum_tok"))
      .orderBy(col("rank"))
  }

  /** Right-to-be-forgotten erasure audit — the compliance readout a data
    * steward signs: the erasure set (here the deterministic 2% md5 split
    * standing in for a real deletion list) is anti-joined out and the
    * audit proves, per source, that before = erased + after. One scan
    * builds both sides of the proof; the erasure flag is a per-row
    * expression, so the audit costs one two-phase aggregate. */
  def erasureAudit(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("erase", expr(
        "cast(pmod(cast(conv(substring(md5(concat('graft_erasure:', " +
          "cast(doc_id as string))), 1, 15), 16, 10) as bigint), 50) = 0 " +
          "as int)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_before"),
        sum(col("erase")).cast("long").as("n_erased"),
        sum(lit(1L) - col("erase")).cast("long").as("n_after"))
      .select(col("source"), col("n_before"), col("n_erased"), col("n_after"),
        (col("n_before") === col("n_erased") + col("n_after")).cast("int")
          .as("balanced"))
      .orderBy(col("source"))
}
