package graft

import graft.functions.TextOps
import graft.operators.{Decontaminate, Dedup, Graph, Packing, Pii, Quality, Sampling, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Chainable training-corpus curation facade — the data-pipeline twin of
  * [[Forecaster]]/[[MvForecaster]]: each step returns a NEW immutable
  * `Corpus` over lazy plans, so a whole curation recipe is one declarative
  * chain that Catalyst optimizes end to end (row-local gates collapse onto
  * the scan; the pair-generating steps keep their documented bounded-join
  * shapes). Mirrors the curation sequence large LLM pipelines run —
  * quality gates → dedup → decontamination → PII scrub → mix sampling →
  * packing:
  *
  * {{{
  *   val clean = Corpus(docs)
  *     .qualityFilter(0.7)          // text-stats composite gate
  *     .gopherFilter()              // Gopher/C4 repetition gates
  *     .perplexityFilter(1.2, 50)   // corpus-trained bigram LM band-pass
  *     .dedupExact()                // md5 canonical-id dedup
  *     .dedupNear(0.8)              // capped-jaccard near-dup removal
  *     .dedupFingerprint(50)        // winnowing passage-copy removal
  *     .decontaminate(benchDocs)    // n-gram benchmark-overlap scrub
  *     .piiRedact()                 // redact emails/phones/ips/ids in place
  *     .sampleTemperature("lang", 0.5, 1000000) // p_d ∝ n_d^α training mix
  *   clean.summary                  // one-row before/after report
  *   clean.pack(2048)               // GPT-style concat-and-chunk layout
  * }}}
  *
  * Every step is the facade form of an oracle-checked operator (the
  * doc_* declared queries), so the chain's semantics are exactly the
  * hash-verified ones.
  *
  * "Optimized end to end" has one measured limit: a frame read twice in
  * one query is computed twice, because Spark reuses no exchange above a
  * checkpoint scan, nor above a cached relation while AQE is on. So each
  * step reads its input once, or materializes its small per-doc decision
  * frame once (see [[graft.operators.Dedup]]).
  *
  * Constructor contract: `idCol` and `textCol` must exist and `textCol`
  * must be a string. `idCol` must also be a KEY (one row per id):
  * [[dedupExact]] keeps the row whose id is its digest group's least, and
  * [[decontaminate]] counts shingles per id; duplicate ids would change
  * both results.
  */
final case class Corpus(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text") {
  {
    // loud construction-time contract (the Events pattern): a mis-named
    // id/text column should fail HERE, not deep inside a chained stage's
    // analysis error
    val missing = Seq(idCol, textCol).filterNot(docs.columns.contains)
    require(missing.isEmpty,
      s"Corpus frame is missing column(s) ${missing.mkString(", ")} — " +
        s"expected id '$idCol' and text '$textCol' (pass idCol/textCol " +
        "for differently-named frames)")
    require(docs.schema(textCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"Corpus.$textCol must be STRING, got ${docs.schema(textCol).dataType}")
  }

  /** Text statistics + composite quality per doc. */
  def stats: DataFrame = TextOps.withTextStats(docs, textCol)

  /** One-row corpus report (doc_corpus_summary): size, exact-dup rate
    * (distinct md5 texts), token volume, mean quality, long-doc share —
    * the before/after numbers a curation run is judged by. One scan, one
    * aggregation. */
  def summary: DataFrame = {
    val st = TextOps.withTextStats(docs, textCol)
    st.agg(
      org.apache.spark.sql.functions.count(lit(1)).as("n_docs"),
      countDistinct(md5(col(textCol))).as("n_distinct_texts"),
      sum(col("n_tokens")).as("total_tokens"),
      round(avg(col("n_tokens")), 6).as("avg_tokens"),
      round(avg(col("quality")), 6).as("avg_quality"),
      round(avg(when(col("n_tokens") >= 60, 1.0).otherwise(0.0)), 6).as("pct_long"))
  }

  /** Top-k terms per doc by smooth-idf TF-IDF (doc_tfidf_top_terms). */
  def topTerms(k: Int): DataFrame = TextOps.topTerms(docs, idCol, k, textCol)

  /** Dimension rollup (doc_source_rollup): per-(dims...) doc counts and
    * token volume WITH every subtotal level in one shuffle — the hierarchy
    * report a mixture design reads (per source, per source×lang, total). */
  def rollup(dims: String*): DataFrame = {
    val st = TextOps.withTextStats(docs, textCol)
    st.rollup(dims.map(col): _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("quality")), 6).as("avg_quality"))
  }

  /** KMV-estimated distinct text count ([[graft.functions.KmvDistinct]]):
    * the dup-rate denominator at corpus sizes where an exact
    * COUNT(DISTINCT md5) shuffles every digest — bounded k-longs state,
    * exact below k distinct. */
  def distinctTextEstimate(k: Int = 1024): DataFrame = {
    import graft.functions.KmvSketch
    docs.select(KmvSketch.hash60(col(textCol)).as("_h"))
      .agg(round(KmvSketch.kmvDistinct(col("_h"), k), 3).as("n_distinct_est"))
  }

  /** Per-stratum EXACT quality quantiles (doc_quality_quantiles) — how a
    * curation run picks per-stratum score thresholds ("keep the top 40% of
    * each language"). `percentile` is Spark's exact interpolated quantile:
    * one shuffle keyed by stratum, sort within the aggregation buffer —
    * right up to strata of ~10⁸ docs; beyond that swap in
    * `percentile_approx` (t-digest sketch) at the same call site. Quality
    * is 6dp-rounded BEFORE the quantile so interpolation runs on the same
    * numbers in any engine. */
  def qualityQuantiles(stratumOf: org.apache.spark.sql.Column,
                       pcts: Seq[Double]): DataFrame =
    stats.withColumn("_stratum", stratumOf)
      .withColumn("_q", round(col("quality"), 6))
      .groupBy(col("_stratum").as("stratum"))
      .agg(percentile(col("_q"),
        lit(pcts.toArray)).as("_qs"))
      .select(col("stratum"), posexplode(col("_qs")).as(Seq("_i", "_v")))
      .select(col("stratum"), (col("_i") + 1).cast("long").as("i"),
        round(col("_v"), 6).as("quality_q"))

  /** Keep docs whose composite quality clears the bar (doc_pipeline's
    * gate); original schema preserved. */
  def qualityFilter(minQuality: Double): Corpus =
    copy(docs = TextOps.withTextStats(docs, textCol)
      .filter(col("quality") >= minQuality)
      .select(docs.columns.map(col).toSeq: _*))

  /** Gopher/C4 repetition gates (doc_gopher_repetition). */
  def gopherFilter(): Corpus =
    copy(docs = Quality.gopherFilter(docs, idCol, textCol))

  /** Exact dedup: keep each md5 digest's canonical (min-id) row
    * (doc_dedup_exact's canonical ids). One window pass over one exchange
    * keyed by digest: the rows [[Dedup.exactGroups]]' semi-join would
    * keep, without reading `docs` a second time. */
  def dedupExact(): Corpus =
    copy(docs = docs
      .withColumn("_exact_canon", min(col(idCol)).over(Window.partitionBy(md5(col(textCol)))))
      .filter(col(idCol) === col("_exact_canon"))
      .select(docs.columns.map(col).toSeq: _*))

  /** Near-dup removal: capped-jaccard pairs ≥ minJ, the higher id of each
    * pair drops (doc_pipeline's policy; doc_jaccard_pairs semantics). */
  def dedupNear(minJ: Double, n: Int = 3, maxDocFreq: Int = 100): Corpus = {
    val dupIds = Dedup.jaccardPairs(docs, idCol, textCol, n, minJ, maxDocFreq)
      .select(col("doc_b").as(idCol))
    copy(docs = docs.join(dupIds, Seq(idCol), "left_anti"))
  }

  /** Passage-level copy removal: winnowing-fingerprint pairs sharing ≥
    * minShared hashes (doc_fingerprint_pairs semantics — catches shared
    * passages that whole-doc Jaccard dilutes), the higher id of each pair
    * drops. */
  def dedupFingerprint(minShared: Int, k: Int = 8, w: Int = 4,
                       maxDocFreq: Int = 100): Corpus = {
    val dupIds = Dedup.fingerprintPairs(docs, idCol, textCol, k, w,
        minShared, maxDocFreq)
      .select(col("doc_b").as(idCol))
    copy(docs = docs.join(dupIds, Seq(idCol), "left_anti"))
  }

  /** Cluster-level near-dup removal: connected components over the
    * capped-jaccard pair graph, keep ONLY the least id of each component
    * (doc_dedup_clusters semantics). The pairwise [[dedupNear]] policy
    * mis-handles transitive shapes — a star (1–3, 2–3) keeps both 1 and 2
    * even though they share a hub — while a 100 TB curation run wants
    * exactly one survivor per near-dup CLUSTER; the labels come from
    * [[graft.operators.Graph.connectedComponents]], so the step stays
    * fully distributed. */
  def dedupNearClusters(minJ: Double, n: Int = 3,
                        maxDocFreq: Int = 100): Corpus =
    copy(docs = keepComponentMin(
      Dedup.jaccardPairs(docs, idCol, textCol, n, minJ, maxDocFreq)))

  /** Cluster-level passage-copy removal: [[dedupFingerprint]]'s pair graph,
    * one survivor (least id) per connected component. */
  def dedupFingerprintClusters(minShared: Int, k: Int = 8, w: Int = 4,
                               maxDocFreq: Int = 100): Corpus =
    copy(docs = keepComponentMin(
      Dedup.fingerprintPairs(docs, idCol, textCol, k, w, minShared, maxDocFreq)))

  /** Incremental-ingestion dedup (doc_dedup_incremental): drop THIS
    * corpus's docs that duplicate an already-curated reference — exactly
    * (identical digest) or nearly (capped cross-corpus jaccard ≥ minJ,
    * [[Dedup.crossJaccardPairs]]). The continuous-crawl shape: the
    * reference never re-processes; only batch×reference cross pairs are
    * generated, never the reference's own pair volume. Batch-internal
    * duplicates are a separate [[dedupNear]]/[[dedupExact]] pass. */
  def dedupAgainst(reference: DataFrame, minJ: Double = 0.5, n: Int = 3,
                   maxDocFreq: Int = 100): Corpus = {
    val refDigests = reference.select(md5(col(textCol)).as("_d"))
    val exactIds = docs.select(col(idCol), md5(col(textCol)).as("_d"))
      .join(refDigests, Seq("_d"), "left_semi").select(col(idCol))
    val nearIds = Dedup.crossJaccardPairs(docs, reference, idCol, textCol,
        n, minJ, maxDocFreq)
      .select(col("doc_l").as(idCol))
    copy(docs = docs.join(exactIds.unionByName(nearIds), Seq(idCol), "left_anti"))
  }

  /** Per-stratum duplication profile (doc_span_profile): how much of each
    * source's/lang's token volume sits inside corpus-wide duplicated runs
    * ([[Dedup.dupSpans]] coverage) — the corpus-health number that decides
    * whether a source needs [[stripDupSpans]] before mixing. dupSpans'
    * spans are disjoint maximal coverage intervals, so the span_len sum IS
    * the distinct covered-token count and dup_ratio ≤ 1 by construction.
    * One extra doc-keyed aggregation over the span inventory; the strata
    * aggregate is a 20-row frame. */
  def spanDupProfile(strataCol: String, minTokens: Int = 8): DataFrame = {
    val perDoc = Dedup.dupSpans(docs, idCol, textCol, minTokens)
      .groupBy(col("doc").as(idCol))
      .agg(sum("span_len").as("_dup_toks"))
    docs.select(col(idCol), col(strataCol),
        size(TextOps.tokens(col(textCol))).cast("long").as("_nt"))
      .join(perDoc, Seq(idCol), "left")
      .groupBy(strataCol)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_docs"),
        sum("_nt").as("n_tokens"),
        coalesce(sum("_dup_toks"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_ratio", round(col("dup_tokens") / col("n_tokens"), 6))
  }

  /** Cross-stratum leakage matrix (doc_span_leakage): for every pair of
    * strata (sources), how many DISTINCT duplicated windows they share —
    * which upstream feeds are copying from each other, the question
    * [[spanDupProfile]]'s per-source ratios can't answer. The join key is
    * the window fingerprint over the DISTINCT (stratum, window) frame, so
    * a window's fan-out is bounded by the stratum count (not document
    * frequency) — |strata|² pairs worst case per key, typically 1. One
    * shuffle keyed by fingerprint. */
  def spanLeakageMatrix(strataCol: String, minTokens: Int = 8): DataFrame = {
    // bytes-sized width ([[graft.core.Widths]]), session floor at fixture
    // scale. Sized from the DOCS SCAN, not the joined window frame: a
    // join's size-only estimate multiplies its children (the first cut
    // here sized an 8192-wide exchange from a 30 MB fixture and paid 4.6 s
    // of pure segment overhead). Expansion model: spanStarts emits ~1
    // window row per token (~docBytes/6 rows × ~16 B of (src, h) each
    // ≈ 2.7× the document bytes); the distinct only shrinks it, so 4× is
    // a conservative row-volume multiplier on the scan estimate.
    val nPart = graft.core.Widths.forExchange(
      docs.select(col(textCol)), expansion = 4.0)
    val srcw = Dedup.spanStarts(docs, idCol, textCol, minTokens)
      .join(docs.select(col(idCol).as("doc"), col(strataCol).as("_src")), Seq("doc"))
      .select(col("_src"), col("h")).distinct()
      .repartition(nPart, col("h"))
    srcw.as("a").join(srcw.as("b"),
        col("a.h") === col("b.h") && col("a._src") < col("b._src"))
      .groupBy(col("a._src").as("source_a"), col("b._src").as("source_b"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_shared_windows"))
  }

  /** Substring-level dedup (the "deduplicating training data makes LMs
    * better" operation, distinct from doc- and passage-PAIR removal):
    * every maximal duplicated run of ≥ `minTokens` tokens keeps exactly its
    * first corpus occurrence; later occurrences are cut out of their docs'
    * texts in place — no doc is dropped, so unique content in a
    * partially-duplicated doc survives. doc_strip_spans semantics;
    * [[Dedup.dupSpans]] is the matching inventory (doc_dup_spans). */
  def stripDupSpans(minTokens: Int = 8): Corpus =
    copy(docs = Dedup.stripDupSpans(docs, idCol, textCol, minTokens))

  /** Drop every pair-graph vertex except its component's least id; docs
    * touching no pair are untouched (they are absent from the labeling). */
  private def keepComponentMin(pairs: DataFrame): DataFrame = {
    val dropIds = Graph.connectedComponents(pairs, "doc_a", "doc_b")
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    docs.join(dropIds, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination: drop docs whose distinct n-gram overlap
    * with any benchmark doc reaches minFrac (doc_decontaminate).
    * `bloom = true` routes through the Bloom-prefiltered pair path
    * (doc_decontaminate_bloom) — identical results, and the train shingle
    * shuffle shrinks to the bench-overlapping slice: the right setting
    * whenever the corpus dwarfs the benchmark, i.e. production. */
  def decontaminate(bench: DataFrame, n: Int = 3, minFrac: Double = 0.5,
                    bloom: Boolean = false): Corpus =
    copy(docs =
      if (bloom) Decontaminate.cleanBloom(docs, bench, idCol, textCol, n, minFrac)
      else Decontaminate.clean(docs, bench, idCol, textCol, n, minFrac))

  /** Embedding-space decontamination: drop docs within trigram-cosine tau
    * of any benchmark doc (doc_cross_decontaminate). */
  def decontaminateEmbedding(bench: DataFrame, tau: Double = 0.98): Corpus = {
    val corpusVecs = TextOps.trigramVectors(docs, idCol, textCol)
    val benchVecs = TextOps.trigramVectors(bench, idCol, textCol)
    val bad = Similarity.crossCosineMatches(corpusVecs, benchVecs,
        "vid", "vec", tau)
      .select(col("corpus_id").as(idCol))
    copy(docs = docs.join(bad, Seq(idCol), "left_anti"))
  }

  /** Keep docs whose n-gram profile argmax is `profile` (doc_langid's
    * language-ID heuristic generalized to arbitrary profiles). */
  def profileFilter(profile: String,
                    profiles: Map[String, Seq[String]]): Corpus =
    copy(docs = TextOps.withProfileScores(docs, profiles, textCol)
      .filter(col("pred_profile") === profile)
      .select(docs.columns.map(col).toSeq: _*))

  /** Temperature-scaled mixture sample (doc_mixture_temp's rule): stratum
    * d contributes `n_d^alpha / Σ n^alpha` of a `targetTotal`-row mix. */
  def sampleTemperature(strataCol: String, alpha: Double,
                        targetTotal: Long, salt: String = ""): Corpus =
    copy(docs = Sampling.temperatureSample(docs, idCol, strataCol, alpha,
      targetTotal, salt))

  /** CCNet-style perplexity band-pass under the corpus-trained bigram LM
    * (doc_perplexity's scoring): drop docs whose token stream is too
    * predictable (templated/repetitive, ppl < lo) or too surprising
    * (token salad, ppl > hi). Docs with < 2 tokens have no bigrams and
    * are dropped. */
  def perplexityFilter(lo: Double, hi: Double): Corpus = {
    val keep = TextOps.bigramPerplexity(docs, idCol, textCol)
      .filter(col("ppl").between(lo, hi)).select(col("doc").as(idCol))
    copy(docs = docs.join(keep, Seq(idCol), "left_semi"))
  }

  /** Drop every doc with detected PII (doc_pii_redact's categories). */
  def piiClean(): Corpus = copy(docs = Pii.cleanDocs(docs, textCol))

  /** Redact PII in place — the text column becomes its redaction. */
  def piiRedact(): Corpus =
    copy(docs = docs.withColumn(textCol, Pii.redact(col(textCol))))

  /** Deterministic content-hash sample (doc_sample_hash's membership
    * predicate — reproducible across engines and partitionings). */
  def sample(fraction: Double, salt: String = ""): Corpus =
    copy(docs = Sampling.hashSample(docs, idCol, fraction, salt))

  /** Per-stratum training-mix quotas over a stratum column. */
  def sampleStratified(strataCol: String, fractions: Map[String, Double],
                       default: Double = 0.0, salt: String = ""): Corpus =
    copy(docs = Sampling.stratifiedHashSample(docs, idCol, strataCol,
      fractions, default, salt))

  /** Per-doc curation lineage — the "why was my document dropped" audit a
    * production pipeline must answer (doc_curation_audit). Replays `stages`
    * sequentially (each stage sees only the previous stage's survivors,
    * exactly as the real chain runs — a dedup stage's pair graph over
    * survivors is NOT the pair graph over the raw corpus) and labels every
    * input doc with the FIRST stage that dropped it. Stages are nested
    * subsets, so each doc has at most one dropping stage and the lineage
    * union needs no dedup. Shape: per stage, one ids-only anti-join
    * (prev ∖ next); the final assembly is one left join keyed by id —
    * everything stays keyed by the doc id, no stage materializes more than
    * its id column beyond what the stage itself computes.
    *
    * Returns (idCol, keep, dropped_by) over the ORIGINAL corpus, with
    * `dropped_by = "kept"` for survivors of the whole chain. */
  def audit(stages: Seq[(String, Corpus => Corpus)]): DataFrame = {
    require(stages.nonEmpty, "audit needs at least one stage")
    require(stages.map(_._1).distinct.size == stages.size,
      "stage names must be unique — they become the dropped_by labels")
    val (_, drops) = stages.foldLeft((this, Seq.empty[DataFrame])) {
      case ((cur, acc), (name, step)) =>
        // each stage output feeds BOTH the next stage and this stage's
        // lineage anti-join: a lazy localCheckpoint makes the two branches
        // share one materialization instead of recomputing the stage
        // subtree (no extra job — blocks write when the audit executes)
        val stepped = step(cur)
        val next = stepped.copy(docs = stepped.docs.localCheckpoint(false))
        val dropped = cur.docs.select(col(idCol))
          .join(next.docs.select(col(idCol)), Seq(idCol), "left_anti")
          .withColumn("dropped_by", lit(name))
        (next, acc :+ dropped)
    }
    docs.select(col(idCol))
      .join(drops.reduce(_ unionByName _), Seq(idCol), "left")
      .select(col(idCol), col("dropped_by").isNull.as("keep"),
        coalesce(col("dropped_by"), lit("kept")).as("dropped_by"))
  }

  /** GPT-style concat-and-chunk packing layout at `contextLen` tokens
    * (doc_pack_chunks). Returns the layout frame, not a Corpus — packing
    * is the terminal step before the tokenizer. */
  def pack(contextLen: Int, shards: Int = 64): DataFrame =
    Packing.concatChunks(
      docs.withColumn("n_tokens", size(TextOps.tokens(col(textCol))).cast("long")),
      idCol, "n_tokens", contextLen, shards)

  def count(): Long = docs.count()
}
