package graft
package queries

import graft.OracleGen._
import graft.core.{SessionMemo, Tables}
import graft.functions.TextOps
import graft.operators.{Decontaminate, Dedup, Multimodal, Quality, Sampling, Similarity}
import graft.queries.Shared._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `doc_*` queries: corpus curation (quality gates, exact and fuzzy
  * dedup, decontamination, sampling, multimodal payloads, streaming
  * ingest), each with its DuckDB oracle. */
object DocQueries {

  /** End-to-end training-data pipeline: quality-filter → near-dup removal
    * (drop the higher doc_id of each jaccard≥0.8 pair) → fingerprint. */
  private def qDocPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val stats = TextOps.withTextStats(docs)
    val dupIds = jaccardM(s, d)
      .select(col("doc_b").as("doc_id")).distinct()
    stats.filter(col("quality") >= 0.7)
      .join(dupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), round(col("quality"), 6).as("quality"),
        TextOps.fingerprint64(col("text")).as("fingerprint"))
  }

  /** Memoized trigram-vector frame over the documents corpus — the
    * vectorization (an md5 per trigram position, ~300× the corpus bytes) is
    * the dominant cost of BOTH embedding-similarity doc queries
    * (doc_neardup_cosine, doc_cross_decontaminate), so they share ONE
    * checkpointed build like the series memos. */
  private[graft] def docVecsM(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, d, "docvecs")(
      TextOps.trigramVectors(Tables.documents(s, d), "doc_id", "text"))

  /** Marker-token profiles for the language/topic-ID heuristic. */
  private val profiles = Map(
    "general" -> Seq("the", "a", "big", "small", "fast", "slow"),
    "sql"     -> Seq("table", "join", "query", "scan", "merge", "sort", "hash", "group"),
    "stream"  -> Seq("stream", "window", "batch", "spark", "line")
  )

  private def qTextStats(s: SparkSession, d: String): DataFrame =
    TextOps.withTextStats(Tables.documents(s, d))
      .select(col("doc_id"), col("n_chars_calc").cast("long").as("n_chars_calc"),
        col("n_tokens"), col("n_distinct_tokens"),
        round(col("distinct_ratio"), 6).as("distinct_ratio"),
        round(col("avg_token_len"), 6).as("avg_token_len"),
        round(col("stopword_ratio"), 6).as("stopword_ratio"),
        round(col("quality"), 6).as("quality"))

  private def qLangId(s: SparkSession, d: String): DataFrame =
    TextOps.withProfileScores(Tables.documents(s, d), profiles)
      .select(col("doc_id"), round(col("score_general"), 6).as("score_general"),
        round(col("score_sql"), 6).as("score_sql"),
        round(col("score_stream"), 6).as("score_stream"), col("pred_profile"))

  private def qDedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")

  private def qJaccardPairs(s: SparkSession, d: String): DataFrame =
    jaccardM(s, d)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        round(col("jaccard"), 6).as("jaccard"))

  /** doc_jaccard_pairs and doc_pipeline's dup stage run the SAME capped
    * jaccard pass on the same corpus — shared checkpointed, the
    * blockedFitM pattern (the pair frame is slim: only ≥minJ pairs). */
  private[graft] def jaccardM(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, d, "jaccard")(
      Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.8, JaccardDfCap))

  /** Hot-shingle document-frequency cap for the declared Jaccard queries:
    * bounds every inverted-index join key at ≤ cap docs (cap² pairs). */
  private val JaccardDfCap = 100

  /** Cluster-level near-dup labeling (Corpus.dedupNearClusters semantics):
    * [[graft.operators.Graph.connectedComponents]] over the capped-jaccard
    * pair graph; every paired doc gets its component's least id as
    * cluster_id and keeps iff it IS that least id. Pins the distributed CC
    * kernel against a recursive-CTE reachability oracle — every label, not
    * an aggregate. */
  private def qDedupClusters(s: SparkSession, d: String): DataFrame =
    graft.operators.Graph.connectedComponents(jaccardM(s, d), "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
        (col("id") === col("comp")).as("kept"))

  /** Minimum duplicated-run length (tokens) for the exact-substring dedup
    * queries — every length-8 token window occurring twice anywhere in the
    * corpus marks its run duplicated. */
  private val SpanMinTokens = 8

  /** Exact duplicated-span inventory (substring-level dedup, the level
    * below doc/passage pairs): maximal runs of token positions whose
    * 8-token windows repeat corpus-wide. */
  private def qDupSpans(s: SparkSession, d: String): DataFrame =
    Dedup.dupSpans(Tables.documents(s, d), "doc_id", "text", SpanMinTokens)
      .select(col("doc").as("doc_id"), col("span_start"), col("span_len"))

  /** Duplicated spans stripped in place, first corpus occurrence kept:
    * per-doc token count and digest of the rebuilt text (both computed ON
    * the final string on both engines, so an empty rebuild hashes alike). */
  private def qStripSpans(s: SparkSession, d: String): DataFrame =
    Dedup.stripDupSpans(Tables.documents(s, d), "doc_id", "text", SpanMinTokens)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("text")).as("digest"))

  /** Per-source duplication profile: the corpus-health read over
    * [[qDupSpans]]'s inventory — which sources need span-stripping before
    * they enter a training mixture. */
  private def qSpanProfile(s: SparkSession, d: String): DataFrame =
    Corpus(Tables.documents(s, d)).spanDupProfile("source", SpanMinTokens)

  /** Which source feeds copy from each other: distinct shared duplicated
    * windows per source pair ([[graft.Corpus.spanLeakageMatrix]]). */
  private def qSpanLeakage(s: SparkSession, d: String): DataFrame =
    Corpus(Tables.documents(s, d)).spanLeakageMatrix("source", SpanMinTokens)

  /** Incremental-ingestion dedup verdicts: a 10% hash-slice of documents
    * plays the incoming BATCH, the rest the curated REFERENCE; every batch
    * doc gets 'exact' (digest match in reference), 'near' (capped
    * cross-jaccard ≥ 0.5, [[graft.operators.Dedup.crossJaccardPairs]]), or
    * 'kept' — exact precedence first, the [[graft.Corpus.dedupAgainst]]
    * drop set being exactly the non-kept rows. */
  private def qDedupIncremental(s: SparkSession, d: String): DataFrame = {
    val all = Tables.documents(s, d)
    val batch = all.filter(pmod(col("doc_id"), lit(10L)) === 0)
    val ref = all.filter(pmod(col("doc_id"), lit(10L)) =!= 0)
    val ex = batch.select(col("doc_id"), md5(col("text")).as("_d"))
      .join(ref.select(md5(col("text")).as("_d")).distinct(), Seq("_d"), "left_semi")
      .select(col("doc_id")).withColumn("_ex", lit(1))
    val near = Dedup.crossJaccardPairs(batch, ref, "doc_id", "text",
        3, 0.5, JaccardDfCap)
      .select(col("doc_l").as("doc_id")).distinct().withColumn("_nr", lit(1))
    batch.select("doc_id")
      .join(ex, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("_ex") === 1, "exact").when(col("_nr") === 1, "near")
          .otherwise("kept").as("verdict"))
  }

  private def qMinhashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text")
      .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 6).as("est_jaccard"))

  private def qSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhash(Tables.documents(s, d), "doc_id", "text")
      .select(col("doc").as("doc_id"), col("simhash"))

  private def qSimhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", 2)

  private def qMultimodal(s: SparkSession, d: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.withBinaryPayload(Tables.documents(s, d), "text")).toDF()

  /** Real container-header decode end to end: every doc gets a synthetic
    * PNG / JPEG / GIF payload (format cycles on doc_id % 3) with dimensions
    * PLANTED from doc_id arithmetic, then [[graft.operators.Multimodal
    * .HeaderDecoder]] parses the genuine byte layout back and the resize
    * planner computes bounded targets. The oracle recomputes the planted
    * dims + targets from the same arithmetic — any parser/builder offset or
    * endianness slip breaks the hash. (Byte-level parse fixtures with
    * hand-written literal headers live in OperatorsSpec.) */
  private def qMultimodalReal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.Multimodal.HeaderDecoder
    val payloads = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = 16L + (id * 7L) % 2033L
        val h = 16L + (id * 13L) % 1525L
        val bytes = (id % 5) match {
          case 0L => HeaderDecoder.pngPayload(w, h)
          case 1L => HeaderDecoder.jpegPayload(w, h)
          case 2L => HeaderDecoder.gifPayload(w, h)
          case 3L => // planted 16-bit PCM WAV: rate pool × 1-5 s + remainder
            val rate = Seq(8000L, 16000L, 44100L)(((id / 5L) % 3L).toInt)
            val n = rate * (1L + id % 5L) + id % 997L
            HeaderDecoder.wavPayload(1L + id % 2L, rate, n)
          case _  => // planted faststart MP4: timescale pool × 1-7 s + rem
            val tsc = Seq(600L, 1000L, 90000L)(((id / 5L) % 3L).toInt)
            HeaderDecoder.mp4Payload(w, h, tsc, tsc * (1L + id % 7L) + id % 331L)
        }
        (id, bytes)
      }).toDF("doc_id", "payload")
    Multimodal.withResizeTargets(
        Multimodal.extractFeatures(payloads).toDF(), 512)
      .select(col("doc_id"), col("width"), col("height"), col("duration_ms"),
        col("target_width"), col("target_height"))
  }

  /** Pixel-level image fingerprinting end to end — the signal the header
    * tier can't give (image near-dup needs pixels, not container dims):
    * every doc gets a REAL 18×16 PNG via `javax.imageio` (planted
    * grayscale = the md5-prefix recipe over (src, x, y); doc_id%10==5
    * reuses its predecessor's pixels EXACTLY, %10==9 reuses them with the
    * top-left 2×2 block brightened — planted exact / ≤1-bit-near
    * duplicates), then [[graft.operators.Multimodal.imageDHash]] decodes
    * the PNG back and computes the 64-bit difference hash with
    * integer-only grayscale/box-average/gradient steps. The oracle
    * recomputes the hash from the SAME planted pixels in SQL — any
    * encode/decode asymmetry, resample drift, or bit-packing slip breaks
    * the hash match. PNG is lossless, so decode(encode(px)) == px and the
    * pure-SQL replay is exact. */
  private def qImagePhash(s: SparkSession, d: String): DataFrame =
    imgDHashM(s, d)
      .select(col("doc_id"), col("img_w"), col("img_h"),
        col("dh_hi"), col("dh_lo"))

  /** Memoized decoded dHash frame — the round-12 lesson: qImagePhashPairs
    * composed qImagePhash directly, so the full pixel decode ran TWICE per
    * session (once for the hashes, once inside the pairs' banding input)
    * and the second pass was pure waste — the hash frame is 5 longs/doc.
    * doc_image_phash builds this memo (its wall still times one real
    * decode pass); doc_image_phash_pairs rides the checkpointed blocks. */
  private def imgDHashM(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, d, "imgdh")(Multimodal.imageDHash(imgPayloadsM(s, d)))

  /** Memoized planted-PNG payload frame for the pixel tier: fixture
    * SYNTHESIS (an md5 per pixel) is a session cost measured under the
    * bench's `memo_build` line item like every other fixture-shaped cost,
    * so doc_image_* walls time decode + features, not synthesis (the
    * round-10 gate artifact timed the synthesis — VERDICT r10 #4). */
  private[graft] def imgPayloadsM(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, d, "imgpay") {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val src = if (id % 10 == 5 || id % 10 == 9) id - 1 else id
          (id, Multimodal.PlantedImages.pngBytes(src, 18, 16,
            brighten = id % 10 == 9))
        }).toDF("doc_id", "payload")
    }

  /** Image near-duplicate pairs: Hamming ≤ 3 over the 64-bit dHash via
    * the pigeonhole banded equi-join
    * ([[graft.operators.Dedup.hammingPairs64]] — 4 bands × 16 bits, a
    * pair within distance 3 must agree exactly on ≥ 1 band; no cross
    * join anywhere). Finds the planted exact copies (distance 0) and the
    * brightened near-copies (distance ≤ 1); with ~random 64-bit hashes
    * elsewhere, expected false candidates are C(n,2)·4/2¹⁶ and every one
    * is removed by the exact bit_count re-check. Oracle replays the
    * banding + re-check in SQL over the replayed hashes. */
  private def qImagePhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.hammingPairs64(qImagePhash(s, d), "doc_id", "dh_hi", "dh_lo", 3)

  /** Sample-level audio tier — the PCM analogue of [[qImagePhash]]: every
    * doc gets a REAL 16-bit mono WAV (planted samples = the md5-prefix
    * recipe over (src, i); doc_id%10==5 reuses its predecessor's samples
    * EXACTLY, %10==9 reuses them at 2× gain — the planted "same recording,
    * different level" near-duplicate that byte dedup misses), then
    * [[graft.operators.Multimodal.audioFeatures]] decodes the PCM back and
    * computes integer-exact energy (Σs²), zero crossings, and the 64-bit
    * gain-invariant envelope fingerprint. The oracle recomputes every
    * value from the SAME planted samples in SQL — WAV PCM is lossless, so
    * decode(encode(s)) == s and the replay is exact; the ×2 copies
    * hash-match only because the fingerprint's gradient signs survive
    * exact gain scaling, which is the property under test. */
  private def qAudioFeatures(s: SparkSession, d: String): DataFrame =
    audioFeatM(s, d)

  /** Memoized decoded audio-feature frame — same decode-once discipline as
    * [[imgDHashM]]: doc_audio_fp_pairs composes this query, and without
    * the memo the full PCM decode ran twice per session. */
  private def audioFeatM(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, d, "audiofeat")(Multimodal.audioFeatures(wavPayloadsM(s, d)))

  /** Memoized planted-PCM payload frame — same memo_build discipline as
    * [[imgPayloadsM]] (synthesis is an md5 per sample and dominated the
    * round-10 doc_audio_* walls; the r10 workaround halved the fixture
    * instead of moving the cost where it belongs). */
  private[graft] def wavPayloadsM(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, d, "wavpay") {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val src = if (id % 10 == 5 || id % 10 == 9) id - 1 else id
          (id, Multimodal.PlantedAudio.wavBytes(src, 260,
            gain = if (id % 10 == 9) 2 else 1))
        }).toDF("doc_id", "payload")
    }

  /** Keyframe-level video tier — the ISO-BMFF analogue of [[qImagePhash]]
    * and the last modality to move past header-only: every doc gets a REAL
    * faststart MP4 (genuine moov/trak/mdia/minf/stbl box nesting with
    * stss/stsz/stco sample tables; mdat carries planted RAW gray8 frames —
    * the md5-prefix recipe over (src, frame, x, y); doc_id%10==5 reuses
    * its predecessor's video EXACTLY, %10==9 reuses it with frame 0's
    * top-left 2×2 brightened), then
    * [[graft.operators.Multimodal.videoKeyframes]] walks the sample
    * tables back out (stss sync samples — absent means all-sync per ISO
    * 14496-12 §8.6.2 — stsz sizes, stco offsets), slices the FIRST
    * keyframe's bytes out of mdat, and dHashes it with the identical
    * integer kernel as the image tier. The oracle recomputes frame
    * counts, keyframe counts, duration, and the hash from the SAME
    * planted recipe in SQL — any box-offset, sample-table, or
    * frame-slicing slip breaks the hash match. Honest scope: sample
    * tables parse for ANY faststart MP4; the pixel step applies only to
    * uncompressed gray8 samples (a real codec's frames need ffmpeg and
    * yield null hash words). */
  private def qVideoKeyframes(s: SparkSession, d: String): DataFrame =
    videoKfM(s, d)

  /** Memoized decoded keyframe frame — same decode-once discipline as
    * [[imgDHashM]]: the pairs query composes this one. */
  private def videoKfM(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, d, "vidkf")(Multimodal.videoKeyframes(vidPayloadsM(s, d)))

  /** Memoized planted-video payload frame — same memo_build discipline as
    * [[imgPayloadsM]]: frame counts 3/5/7 (src%3), keyframes every 2nd
    * sample, 18×16 frames so the dHash oracle shares the image tier's
    * exact grid geometry. Chunk packing VARIES by source (1/2/3 samples
    * per chunk, src%3): a third of the corpus has no stsc (the historical
    * one-sample-per-chunk layout), the rest carry real multi-sample stsc
    * tables — so the query exercises the §8.7.4 chunk walk at both SFs
    * while the ORACLE stays layout-blind (planted pixels don't move). */
  private[graft] def vidPayloadsM(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, d, "vidpay") {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val src = if (id % 10 == 5 || id % 10 == 9) id - 1 else id
          (id, Multimodal.PlantedVideo.mp4Bytes(src,
            3 + (src % 3).toInt * 2, 18, 16, brighten = id % 10 == 9,
            samplesPerChunk = 1 + (src % 3).toInt))
        }).toDF("doc_id", "payload")
    }

  /** Video near-duplicate pairs: Hamming ≤ 3 over the first-keyframe
    * dHash via the same pigeonhole banded equi-join as the image/audio
    * tiers ([[graft.operators.Dedup.hammingPairs64]]) — finds the exact
    * re-uploads at distance 0 and the brightened edits at distance ≤ 1. */
  private def qVideoKfPairs(s: SparkSession, d: String): DataFrame =
    Dedup.hammingPairs64(qVideoKeyframes(s, d), "doc_id", "kf_hi", "kf_lo", 3)

  /** Audio near-duplicate pairs: Hamming ≤ 3 over the 64-bit envelope
    * fingerprint via the same pigeonhole banded equi-join as the image
    * tier ([[graft.operators.Dedup.hammingPairs64]]). Finds both planted
    * duplicate classes at distance 0 — the exact copies AND the 2×-gain
    * copies (envelope gradient signs are gain-invariant). Oracle replays
    * the banding + bit_count re-check over the replayed fingerprints. */
  private def qAudioFpPairs(s: SparkSession, d: String): DataFrame =
    Dedup.hammingPairs64(qAudioFeatures(s, d), "doc_id", "fp_hi", "fp_lo", 3)

  /** Embedding-cosine near-duplicate pairs over deterministic char-trigram
    * embeddings (the docs near-dup path when no learned embedding exists):
    * banded hyperplane LSH candidates via equi-join, exact cosine re-check.
    * The oracle is the brute-force all-pairs definition — banded recall at
    * sim ≥ 0.98 is < 1e-6 miss probability and exact on this fixture. */
  private def qDocNearDupCosine(s: SparkSession, d: String): DataFrame = {
    val vecs = docVecsM(s, d)
    // 16 bands × 10 bits: per-pair miss < 1e-5 at sim ≥ 0.98 while buckets
    // stay ~4× smaller than the 8-bit default (candidate count ∝ 2^-bits).
    // NOTE on this fixture's cost: the synthetic docs share one trigram
    // profile, so >half of ALL pairs are genuine LSH candidates (the corpus
    // has ~10⁵ pairs above 0.92 sim) — candidate density here reflects the
    // data, not the plan; on a diverse corpus buckets are sparse.
    Similarity.cosineNearDupPairs(vecs, "vid", "vec", 0.98, bands = 16, bitsPerBand = 10)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        round(col("sim"), 6).as("sim"))
  }

  /** Embedding-space decontamination: the documents corpus split into a
    * "training" side (doc_id % 10 ≠ 0) and a "benchmark" side (% 10 = 0),
    * then every training doc within trigram-cosine ≥ 0.98 of any benchmark
    * doc flagged via [[graft.operators.Similarity.crossCosineMatches]] —
    * banded-signature equi-join candidates, exact re-check (recall regime
    * identical to doc_neardup_cosine, whose brute-force oracle pins it on
    * this fixture). */
  private def qCrossDecontaminate(s: SparkSession, d: String): DataFrame = {
    // both split sides read the SHARED memoized vector blocks (docVecsM) —
    // the operator's map-only broadcast tier then touches the corpus side
    // exactly once and collects the small benchmark side
    val vecs = docVecsM(s, d)
    val corpus = vecs.filter(pmod(col("vid"), lit(10)) =!= 0)
    val probes = vecs.filter(pmod(col("vid"), lit(10)) === 0)
    Similarity.crossCosineMatches(corpus, probes, "vid", "vec", 0.98,
        bands = 16, bitsPerBand = 10)
      .select(col("corpus_id"), col("probe_id"), round(col("sim"), 6).as("sim"))
  }

  /** TF-IDF keyword extraction: every doc's top-3 terms by the smooth-idf
    * weight, rounded-weight-then-term deterministic ranking — both the
    * weights and the ranking hash-check against the same math in SQL. */
  private def qTfidfTopTerms(s: SparkSession, d: String): DataFrame =
    TextOps.topTerms(Tables.documents(s, d), "doc_id", 3)
      .select(col("doc").as("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), round(col("tfidf"), 6).as("tfidf"))

  /** BM25 relevance of every doc against a fixed domain lexicon — the
    * retrieval scoring used to pull domain-relevant docs into a training
    * mix; k1/b at the standard 1.2/0.75, zero for lexicon-free docs. */
  private def qBm25(s: SparkSession, d: String): DataFrame =
    TextOps.bm25(Tables.documents(s, d), "doc_id",
        Seq("join", "spark", "stream", "window"))
      .select(col("doc").as("doc_id"), round(col("bm25"), 6).as("bm25"))

  /** Winnowing rolling-hash fingerprints (k=8, w=4), summarized per doc as
    * (count, sum, min, max) of the selected hash multiset — a four-way
    * check of the full fingerprint set without shipping ~120 rows/doc. */
  /** Memoized winnowed fingerprint frame (distinct (doc, p, h)) — shared
    * by doc_fingerprints and doc_fingerprint_pairs, the docVecsM/jaccardM
    * pattern: one materialized winnow pass per (session, dir). */
  private[graft] def docFpsM(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, d, "fps")(
      TextOps.winnowFingerprints(Tables.documents(s, d), "doc_id"))

  private def qFingerprints(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val agg = docFpsM(s, d)
      .groupBy("doc").agg(
        count(lit(1)).as("n_fp"),
        // MODULAR sum: h is the 60-bit gram digest, and a raw bigint sum
        // over ~120 fingerprints/doc overflows 63 bits (ANSI throws)
        sum(pmod(col("h"), lit(1000000007L))).as("fp_sum"),
        min("h").as("fp_min"), max("h").as("fp_max"))
      .withColumnRenamed("doc", "doc_id")
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("fp_sum"), lit(0L)).as("fp_sum"),
        coalesce(col("fp_min"), lit(-1L)).as("fp_min"),
        coalesce(col("fp_max"), lit(-1L)).as("fp_max"))
  }

  /** Corpus-trained bigram perplexity per doc — the CCNet-style quality
    * signal; MLE bigram LM fit on the same corpus, ppl = exp(−avg ln P). */
  private def qPerplexity(s: SparkSession, d: String): DataFrame =
    docPplM(s, d)
      .select(col("doc").as("doc_id"), col("n_bigrams"),
        round(col("ppl"), 6).as("ppl"))

  /** Memoized corpus-LM perplexity scores — shared by doc_perplexity and
    * doc_curation_chain's band-pass stage (the LM trains on the FULL
    * corpus in both, so the scores are the same frame). */
  private[graft] def docPplM(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, d, "ppl")(
      TextOps.bigramPerplexity(Tables.documents(s, d), "doc_id"))

  /** Interpolated Kneser–Ney trigram perplexity, LM fit on the full corpus
    * ([[graft.functions.TextOps.knPerplexity]]) — the smoothed upgrade of
    * [[qPerplexity]]'s MLE bigram: discounted raw counts at the top order,
    * continuation counts below, exact normalization over vocab + OOV
    * (OperatorsSpec pins the estimator against an independent reference
    * and the Σ P = 1 property). */
  private def qKnPerplexity(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TextOps.knPerplexity(docs, docs, "doc_id")
      .select(col("doc").as("doc_id"), col("n_grams"),
        round(col("ppl"), 6).as("ppl"))
  }

  /** Held-out Kneser–Ney scoring — LM fit on doc_id % 10 ≠ 0, perplexity
    * of the % 10 = 0 split: the OOV/backoff path a self-scored model can
    * never reach (every self-scored gram was counted by construction) —
    * unseen contexts back off order by order and unseen TOKENS land on the
    * unigram's reserved 1/(V+1) mass instead of −∞, so no scored doc is
    * dropped. The CCNet-style quality-filter deployment shape: score a
    * candidate corpus under a reference-corpus LM. */
  private def qKnPerplexityHeldout(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TextOps.knPerplexity(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id")
      .select(col("doc").as("doc_id"), col("n_grams"),
        round(col("ppl"), 6).as("ppl"))
  }

  /** CCNet/fastText-style quality classifier
    * ([[graft.operators.Quality.nbClassifier]]): naive-Bayes log-odds over
    * hashed unigram+bigram features, trained closed-form on the
    * doc_id % 10 ≠ 0 split labeled good = (lang = 'en') — the CCNet
    * in-domain-vs-out deployment shape — scoring EVERY document, so the
    * held-out 10% exercises the OOV-feature path (unseen buckets take the
    * smoothing default via the left join, never −∞). `pred_good` derives
    * from the ROUNDED score so the boundary can't flip between engines. */
  private def qQualityClassifier(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Quality.nbClassifier(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
          .withColumn("is_good", col("lang") === "en"),
        docs, "doc_id", "is_good")
      .select(col("doc").as("doc_id"), col("n_feats"),
        round(col("score"), 6).as("score"),
        (round(col("score"), 6) > 0).cast("int").as("pred_good"))
  }

  /** Distributed BPE vocabulary training ([[graft.operators.Bpe]]): 8
    * merge rounds over the corpus word-type table; the oracle replays the
    * full merge sequence round by round (greedy left-to-right merges via
    * gaps-and-islands parity over hit positions — the SQL twin of the
    * operator's aggregate fold). */
  private def qBpeVocab(s: SparkSession, d: String): DataFrame =
    graft.operators.Bpe.trainVocab(Tables.documents(s, d), "text", merges = 8)

  /** MOSS-style copy-detection pairs: docs sharing ≥ minShared winnowed
    * fingerprint hashes, stop-phrase hashes df-capped out of the index.
    *
    * The df cap is FRACTIONAL — max(100, 5% of the corpus) — because a
    * "stop phrase" is a phrase appearing in a large share of documents,
    * not a fixed count: the round-12 gate found the flat cap 100 going
    * DEGENERATE at sf0.1 (5000 docs share enough boilerplate that every
    * copied passage's hashes exceeded df 100, so the larger gate SF
    * verified an empty result — a gate that couldn't catch a wrong-pair
    * bug). At sf0.01 the fractional cap still resolves to 100, so the
    * historical results are byte-identical; at sf0.1 it resolves to 250
    * and the gate checks 9 real pairs. Fraction choice is a COST bound
    * too: candidate volume is Σ df², and the measured sf0.1 volumes are
    * 1.1M (cap 100) / 6.8M (cap 250) / 55M (cap 500) rows — 5% keeps the
    * gate non-degenerate at ~6× the historical work instead of ~48×. */
  private def qFingerprintPairs(s: SparkSession, d: String): DataFrame =
    Dedup.fingerprintPairsFrom(docFpsM(s, d), minShared = 50,
        maxDocFreq = math.max(100, math.ceil(docCountM(s, d) * 0.05).toInt))
      .select(col("doc_a"), col("doc_b"), col("n_shared"))

  /** Memoized documents row count per (session, dir) — a dataset-fixed
    * scalar; paying a count job per query invocation would bill repeated
    * fixed work to the op's wall. */
  private def docCountM(s: SparkSession, d: String): Long =
    SessionMemo.value(s, d, "doc_count")(Tables.documents(s, d).count())

  /** Token counting (the charter's "whitespace + BPE-ish" pair): whitespace
    * split size + GPT-2-style pre-tokenization piece count, both one
    * codegen'd pass; the oracle replays the SAME RE2-compatible pattern in
    * DuckDB (no lookahead anywhere, so Java regex and RE2 agree). */
  private def qDocTokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_ws_tokens"),
      TextOps.bpeishTokenCount(col("text")).as("n_bpeish_tokens"))

  /** Gopher/C4 repetition gates (Rae et al. 2021 §A1.1): top-2-gram char
    * fraction, duplicate-3-gram char fraction, mean word length, and the
    * composite keep flag — all statistics AND the decision hash-checked. */
  /** PII gate over deterministic "profile" text derived from `customer`
    * (the documents fixture is PII-free word soup, so the fixture text is
    * CONSTRUCTED in-query from driver data — modular-key cases decide which
    * rows carry an email / phone / IP / long id, and c_name's own 9-digit
    * key runs give organic long-id hits). Both the per-category counts and
    * the full redaction chain hash-check against the same construction in
    * the oracle. */
  private def qPiiRedact(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Pii
    val key = col("c_custkey")
    val text = concat_ws(" ",
      col("c_name"), lit("segment"), col("c_mktsegment"),
      when(pmod(key, lit(3)) === 0,
        concat(lit("contact user"), key.cast("string"), lit("@example.com")))
        .otherwise(lit("no email on file")),
      when(pmod(key, lit(4)) === 0,
        concat(lit("tel 1-555-"), lpad(pmod(key * 7, lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(pmod(key, lit(5)) === 0,
        concat(lit("last ip 10."), pmod(key, lit(256)).cast("string"),
          lit(".0."), pmod(key * 3, lit(256)).cast("string")))
        .otherwise(lit("")))
    val prof = Tables.customer(s, d).select(key.as("doc_id"), text.as("text"))
    Pii.withRedacted(Pii.withPiiStats(prof))
      .select(col("doc_id"), col("n_email"), col("n_ipv4"), col("n_phone"),
        col("n_long_id"), col("has_pii"), col("redacted"))
  }

  private def qGopherRepetition(s: SparkSession, d: String): DataFrame =
    Quality.gopherKeep(Quality.repetitionStats(Tables.documents(s, d), "doc_id", "text"))
      .select(col("doc").as("doc_id"),
        round(col("top2gram_frac"), 6).as("top2gram_frac"),
        round(col("dup3gram_frac"), 6).as("dup3gram_frac"),
        round(col("mean_word_len"), 6).as("mean_word_len"), col("keep"))

  /** Benchmark decontamination (GPT-3 §C n-gram overlap): the corpus checked
    * against a carved-out benchmark slice (doc_id % 20 == 0); flagged pairs
    * with their overlap fraction. */
  private def qDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Decontaminate.contaminatedPairs(docs, docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", 3, 0.5)
      .select(col("doc").as("doc_id"), col("bench_id"),
        round(col("overlap_frac"), 6).as("overlap_frac"))
  }

  /** Bloom-prefiltered decontamination
    * ([[graft.operators.Decontaminate.contaminatedPairsBloom]]): the exact
    * inverted-index overlap, but non-candidate train shingles are dropped by
    * a benchmark-shingle Bloom probe BEFORE the equi-join exchange — the
    * plan a 100 TB run needs (train shingle volume dominates; ~all of it
    * matches nothing). Different bench slice + threshold than
    * doc_decontaminate so the two queries pin independent result sets; the
    * oracle is the plain inverted-index SQL because the Bloom layer is
    * result-invariant by construction (false positives die in the exact
    * join; the denominator is unfiltered). */
  private def qDecontaminateBloom(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Decontaminate.contaminatedPairsBloom(docs,
        docs.filter(col("doc_id") % 17 === 3), "doc_id", "text",
        n = 3, minFrac = 0.4)
      .select(col("doc").as("doc_id"), col("bench_id"),
        round(col("overlap_frac"), 6).as("overlap_frac"))
  }

  /** Deterministic stratified hash sampling (training-mix quotas): 50% of
    * long documents, 25% of short ones, membership a pure content-hash
    * predicate — reproducible across engines and partitionings, which is
    * exactly what the oracle verifies. */
  private def qSampleHash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).withColumn("stratum",
      when(size(graft.functions.TextOps.tokens(col("text"))) >= 60, "long")
        .otherwise("short"))
    Sampling.stratifiedHashSample(docs, "doc_id", "stratum",
        Map("long" -> 0.5, "short" -> 0.25))
      .select(col("doc_id"), col("stratum"))
  }

  /** Temperature-scaled mixture sample (p_d ∝ n_d^0.5, target 200 rows)
    * over the same long/short strata as doc_sample_hash — the rates come
    * from the corpus counts, not from the caller. */
  private def qMixtureTemp(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).withColumn("stratum",
      when(size(graft.functions.TextOps.tokens(col("text"))) >= 60, "long")
        .otherwise("short"))
    Sampling.temperatureSample(docs, "doc_id", "stratum", alpha = 0.5,
        targetTotal = 200)
      .select(col("doc_id"), col("stratum"))
  }

  /** Token-budget mixture spec over the documents table's real `source`
    * strata: src0 gets 80% of a 2000-token budget, src1/2/3 the rest,
    * every other source share 0. At sf0.01 src0's 1600-token budget
    * EXCEEDS its ~1.4k available tokens (rate caps at 1); at sf0.1 it
    * doesn't (rate ~0.12) — the standing dual-SF gate exercises both
    * branches of the cap. */
  private val budgetShares = Map(
    "src0" -> 0.8, "src1" -> 0.1, "src2" -> 0.06, "src3" -> 0.04)

  private def docsWithTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).withColumn("n_tokens",
      size(graft.functions.TextOps.tokens(col("text"))).cast("long"))

  /** Per-source accounting a mixture build is planned from: available
    * tokens, integer token budget, capped keep-rate. */
  private def qTokenBudgetPlan(s: SparkSession, d: String): DataFrame =
    Sampling.tokenBudgetPlan(docsWithTokens(s, d), "source", col("n_tokens"),
      targetTokens = 2000, shares = budgetShares)

  /** The realized sample under the same spec: content-hash membership at
    * the plan's rates, so the doc set is reproducible and the oracle
    * replays membership row by row. */
  private def qTokenBudgetSample(s: SparkSession, d: String): DataFrame =
    Sampling.tokenBudgetSample(docsWithTokens(s, d), "doc_id", "source",
        col("n_tokens"), targetTokens = 2000, shares = budgetShares)
      .select(col("doc_id"), col("source"), col("n_tokens"))

  /** The round-5 curation tier composed end to end — perplexity band-pass
    * (LM trained on the full corpus; band on the 6dp-rounded score so the
    * gate itself is the hash-stable value) → winnowing-fingerprint passage
    * dedup over the survivors → temperature mixture sample of what's left.
    * Each stage is independently hash-checked; this query pins the JOIN
    * semantics BETWEEN stages (semi/anti joins, stage-local doc frequencies
    * and stage-local mixture counts). */
  private def qCurationChain(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val keep = docPplM(s, d)
      .filter(round(col("ppl"), 6).between(28.0, 31.0))
      .select(col("doc").as("doc_id"))
    val banded = docs.join(keep, Seq("doc_id"), "left_semi")
    // winnow fingerprints are doc-LOCAL, so the survivors' fingerprint set
    // is exactly the memoized frame semi-joined to the survivors; the
    // stage-local part (df caps, pair counts) runs on the filtered set
    val survFps = docFpsM(s, d).join(
      banded.select(col("doc_id").as("doc")), Seq("doc"), "left_semi")
    val dupIds = Dedup.fingerprintPairsFrom(survFps, minShared = 50,
        maxDocFreq = 100)
      .select(col("doc_b").as("doc_id")).distinct()
    // the mixture stage only needs (doc_id, stratum) — materialize that
    // NARROW frame once (lazy checkpoint), so temperatureSample's two
    // passes (rate aggregation + membership scan) read two slim columns
    // instead of re-running the band-pass + pair-join lineage per pass
    val strat = banded.join(dupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        when(size(TextOps.tokens(col("text"))) >= 60, "long").otherwise("short")
          .as("stratum"))
      .localCheckpoint(false)
    Sampling.temperatureSample(strat, "doc_id", "stratum", alpha = 0.5,
        targetTotal = 150)
      .select(col("doc_id"), col("stratum"))
  }

  /** Curation lineage audit ([[graft.Corpus.audit]]): the SAME three-stage
    * chain as doc_curation_chain, but instead of the survivor set the output
    * labels EVERY input doc with the first stage that dropped it — the
    * per-record provenance a production curation run must be able to answer
    * ("why is doc X missing from the training mix?"). Stage inputs reuse
    * the session memos exactly as qCurationChain does, so the audited chain
    * and the declared chain are the same computation. */
  private def qCurationAudit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val stages = Seq[(String, Corpus => Corpus)](
      "perplexity" -> { c =>
        val keep = docPplM(s, d)
          .filter(round(col("ppl"), 6).between(28.0, 31.0))
          .select(col("doc").as("doc_id"))
        c.copy(docs = c.docs.join(keep, Seq("doc_id"), "left_semi"))
      },
      "fingerprint" -> { c =>
        val survFps = docFpsM(s, d).join(
          c.docs.select(col("doc_id").as("doc")), Seq("doc"), "left_semi")
        val dupIds = Dedup.fingerprintPairsFrom(survFps, minShared = 50,
            maxDocFreq = 100)
          .select(col("doc_b").as("doc_id")).distinct()
        c.copy(docs = c.docs.join(dupIds, Seq("doc_id"), "left_anti"))
      },
      "sample" -> { c =>
        val strat = c.docs.withColumn("stratum",
          when(size(TextOps.tokens(col("text"))) >= 60, "long")
            .otherwise("short"))
        c.copy(docs = Sampling.temperatureSample(strat, "doc_id", "stratum",
            alpha = 0.5, targetTotal = 150)
          .select(c.docs.columns.map(col).toSeq: _*))
      })
    Corpus(docs).audit(stages)
  }

  /** GPT-style concat-and-chunk sequence packing: whitespace token counts →
    * 8 hash shards → per-shard running offsets → 256-token context-window
    * spans. Every number is a deterministic integer, so the whole packing
    * layout hash-checks. */
  private def qPackChunks(s: SparkSession, d: String): DataFrame = {
    val withCounts = Tables.documents(s, d)
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast("long"))
    graft.operators.Packing.concatChunks(withCounts, "doc_id", "n_tokens", 256, 8)
      .select(col("doc_id"), col("shard"), col("offset_start"),
        col("chunk_start"), col("chunk_end"))
  }

  /** [[Corpus.qualityQuantiles]] declared: per-stratum exact interpolated
    * quality quantiles — the threshold-picking table a curation mix is
    * tuned with. Oracle: DuckDB `quantile_cont` over the same 6dp-rounded
    * scores (both engines interpolate identically on identical inputs). */
  private def qQualityQuantiles(s: SparkSession, d: String): DataFrame =
    Corpus(Tables.documents(s, d)).qualityQuantiles(
      when(col("n_tokens") >= 60, "long").otherwise("short"),
      Seq(0.1, 0.25, 0.5, 0.75, 0.9))

  /** Multi-dimensional aggregation (`ROLLUP`) over the corpus dimensions —
    * per-(source, lang) doc counts and char volume with per-source and
    * grand-total subtotal rows, the one-pass hierarchy summary a curation
    * report needs (counts by source, by source×lang, overall) without three
    * scans. `grouping()` flags disambiguate subtotal rows from real NULL
    * dimension values; Spark expands the grouping sets inside a single
    * shuffle (partial aggs per set), same as it would at 100 TB. */
  private def qDocSourceRollup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .rollup(col("source"), col("lang"))
      .agg(grouping(col("source")).cast("long").as("g_source"),
        grouping(col("lang")).cast("long").as("g_lang"),
        count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("g_source"), col("g_lang"), col("n_docs"), col("sum_chars"))

  /** Streaming corpus curation — continuous document ingest as a
    * Structured Streaming query: row-local quality gate (every
    * [[graft.functions.TextOps.withTextStats]] column is a pure expression,
    * so the gate rides the stream with NO state) feeding an exact-dedup
    * aggregation (digest → canonical min-id + multiplicity, the
    * doc_dedup_exact shape) whose state store holds one row per distinct
    * surviving digest. This is the continuous-ingest twin of the batch
    * curation entry points: a crawler drops parquet files into the lake and
    * the curation ledger stays current without re-scanning the corpus.
    * Oracle: the identical gate + GROUP BY over the batch table (one file =
    * one micro-batch under `Trigger.AvailableNow`; aggregation state is
    * order-insensitive, so stream == batch exactly). */
  private def qDocStreamCurate(s: SparkSession, d: String): DataFrame = {
    val schema = Tables.documents(s, d).schema
    val linkDir = streamLinkDir(d, "docs", "documents.parquet")
    val stream = s.readStream.schema(schema).parquet(linkDir.toString)
    val agg = TextOps.withTextStats(stream)
      .filter(col("quality") >= 0.7)
      .groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_docs"))
    runStream(s, "doc_stream_curate", "complete", agg)
  }

  /** SQL replay of [[qImagePhash]]: planted pixels → 2×2 box-average grid
    * → dHash words. Shared verbatim by the phash and phash-pairs oracles
    * (the pairs oracle nests it as a CTE). */
  private val imagePhashSql =
    s"""WITH ids AS (SELECT doc_id,
      |    CASE WHEN doc_id % 10 IN (5, 9) THEN doc_id - 1 ELSE doc_id END AS src,
      |    (doc_id % 10 = 9) AS br FROM documents),
      |px AS (
      |  SELECT i.doc_id, x.x, y.y,
      |    CASE WHEN i.br AND x.x < 2 AND y.y < 2
      |      THEN least(255, CAST(concat('0x', substr(md5(i.src || '_' || x.x || '_' || y.y), 1, 15)) AS BIGINT) % 256 + 64)
      |      ELSE CAST(concat('0x', substr(md5(i.src || '_' || x.x || '_' || y.y), 1, 15)) AS BIGINT) % 256
      |    END AS g
      |  FROM ids i, range(18) x(x), range(16) y(y)),
      |$DhashBitsCtes
      |SELECT doc_id, CAST(18 AS BIGINT) AS img_w, CAST(16 AS BIGINT) AS img_h,
      |  ${bitWords("dh")}
      |FROM bits GROUP BY 1""".stripMargin

  /** SQL replay of [[qAudioFeatures]]: planted PCM samples → integer
    * energy/zero-cross + 65-frame envelope fingerprint words. Shared by
    * the features and pairs oracles (the pairs oracle nests it as a CTE).
    * Frame assignment (i·65)//260 == the Spark side's floor-bound rects
    * because 260 is an exact multiple of 65. */
  private val audioFeaturesSql =
    s"""WITH ids AS (SELECT doc_id,
      |    CASE WHEN doc_id % 10 IN (5, 9) THEN doc_id - 1 ELSE doc_id END AS src,
      |    CASE WHEN doc_id % 10 = 9 THEN 2 ELSE 1 END AS gain FROM documents),
      |smp AS (
      |  SELECT d.doc_id, s.i,
      |    (CAST(concat('0x', substr(md5(d.src || '_a_' || s.i), 1, 15)) AS BIGINT) % 32768 - 16384) * d.gain AS v
      |  FROM ids d, range(260) s(i)),
      |zc AS (
      |  SELECT doc_id, CAST(SUM(v * v) AS BIGINT) AS sum_sq,
      |    CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v < 0) <> (pv < 0))
      |      THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
      |  FROM (SELECT doc_id, v,
      |          lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM smp)
      |  GROUP BY 1),
      |fr AS (SELECT doc_id, (i * 65) // 260 AS f,
      |    CAST(SUM(ABS(v)) AS BIGINT) AS e
      |  FROM smp GROUP BY 1, 2),
      |bits AS (
      |  SELECT a.doc_id, a.f AS b, CASE WHEN n.e > a.e THEN 1 ELSE 0 END AS bit
      |  FROM fr a JOIN fr n ON n.doc_id = a.doc_id AND n.f = a.f + 1
      |  WHERE a.f < 64),
      |fp AS (SELECT doc_id, ${bitWords("fp")} FROM bits GROUP BY 1)
      |SELECT zc.doc_id, CAST(8000 AS BIGINT) AS sample_rate,
      |  CAST(260 AS BIGINT) AS n_samples, CAST(32 AS BIGINT) AS duration_ms,
      |  zc.sum_sq, zc.zero_cross, fp.fp_hi, fp.fp_lo
      |FROM zc JOIN fp ON fp.doc_id = zc.doc_id""".stripMargin

  /** SQL replay of [[qVideoKeyframes]]: planted raw gray8 keyframes →
    * the image tier's exact dHash grid math (18×16 → uniform 2×2 cells)
    * over the video pixel recipe, plus arithmetic replay of the planted
    * sample-table metadata (frame count 3+(src%3)·2, keyframes every 2nd
    * sample, 25 fps duration). Raw frames are lossless, so the Spark
    * side's slice(encode(px)) == px and the replay is exact. Shared by
    * the keyframes and pairs oracles. */
  private val videoKeyframesSql =
    s"""WITH ids AS (SELECT doc_id,
      |    CASE WHEN doc_id % 10 IN (5, 9) THEN doc_id - 1 ELSE doc_id END AS src,
      |    (doc_id % 10 = 9) AS br FROM documents),
      |meta AS (SELECT doc_id, src, br, 3 + (src % 3) * 2 AS nf FROM ids),
      |px AS (
      |  SELECT m.doc_id, x.x, y.y,
      |    CASE WHEN m.br AND x.x < 2 AND y.y < 2
      |      THEN least(255, CAST(concat('0x', substr(md5(m.src || '_v_0_' || x.x || '_' || y.y), 1, 15)) AS BIGINT) % 256 + 64)
      |      ELSE CAST(concat('0x', substr(md5(m.src || '_v_0_' || x.x || '_' || y.y), 1, 15)) AS BIGINT) % 256
      |    END AS g
      |  FROM meta m, range(18) x(x), range(16) y(y)),
      |$DhashBitsCtes,
      |hw AS (SELECT doc_id, ${bitWords("kf")} FROM bits GROUP BY 1)
      |SELECT m.doc_id, CAST(18 AS BIGINT) AS vid_w, CAST(16 AS BIGINT) AS vid_h,
      |  CAST(m.nf * 40 AS BIGINT) AS duration_ms,
      |  CAST(m.nf AS BIGINT) AS n_frames,
      |  CAST((m.nf + 1) // 2 AS BIGINT) AS n_keyframes,
      |  hw.kf_hi, hw.kf_lo
      |FROM meta m JOIN hw ON hw.doc_id = m.doc_id""".stripMargin

  /** Shared DuckDB CTEs: distinct word-3-gram shingles per document. */
  /** DuckDB replay of [[graft.functions.TextOps.knPerplexity]] at n = 3:
    * the model CTEs (raw trigram counts + prefix mass, distinct-trigram
    * continuation counts, distinct-bigram unigram continuations, the three
    * scalar constants) and the three-level interpolation CASE chain, with
    * every division/multiplication in the operator's association order.
    * `trainW` / `scoreW` are WHERE predicates selecting the two sides. */
  /** Generated round-by-round BPE replay: each merge round is one
    * pair-count aggregate + top-1 pick + a greedy left-to-right merge
    * rewrite. Greedy-in-SQL: mark hit positions (syms[i], syms[i+1]) =
    * best pair, then keep only even offsets within each maximal run of
    * consecutive hits (gaps-and-islands) — for left ≠ right the runs have
    * length 1 and every hit merges; for left = right (a char run like
    * "aaaa") the parity rule reproduces the operator's fold exactly
    * ([aa, aa], never [aaaa]). The last round emits only its pair pick. */
  private def bpeOracleSql(merges: Int): String = {
    // every w{r}/b{r} is referenced by TWO consumers (next round's pair
    // count + this round's rewrite; the pick by the hit mark and the
    // rewrite) — DuckDB inlines plain CTEs, so without MATERIALIZED the
    // chain re-expands 2^merges scans of `documents` (measured: fd
    // exhaustion at 8 rounds before any row came back)
    val rounds = (1 to merges).map { r =>
      val pick =
        s"""p$r AS (SELECT syms[i] AS a, syms[i+1] AS b, sum(cnt) AS c
           |  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM w${r - 1})
           |  GROUP BY 1, 2),
           |b$r AS MATERIALIZED (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1)""".stripMargin
      val rewrite =
        s"""m$r AS MATERIALIZED (SELECT word, cnt, i, syms[i] AS s,
           |    coalesce(syms[i] = (SELECT a FROM b$r)
           |      AND i < len(syms) AND syms[i+1] = (SELECT b FROM b$r), FALSE) AS hit
           |  FROM (SELECT word, cnt, syms, unnest(range(1, len(syms) + 1)) AS i FROM w${r - 1})),
           |h$r AS (SELECT word, i FROM m$r WHERE hit),
           |i$r AS (SELECT word, i,
           |    i - row_number() OVER (PARTITION BY word ORDER BY i) AS isl FROM h$r),
           |g$r AS (SELECT word, i FROM
           |    (SELECT word, i, min(i) OVER (PARTITION BY word, isl) AS i0 FROM i$r)
           |  WHERE (i - i0) % 2 = 0),
           |n$r AS (SELECT m.word, m.cnt, m.i,
           |    CASE WHEN g.i IS NOT NULL THEN m.s || (SELECT b FROM b$r) ELSE m.s END AS s,
           |    (g2.i IS NOT NULL) AS dropped
           |  FROM m$r m
           |  LEFT JOIN g$r g ON m.word = g.word AND m.i = g.i
           |  LEFT JOIN g$r g2 ON m.word = g2.word AND m.i = g2.i + 1),
           |w$r AS MATERIALIZED (SELECT word, any_value(cnt) AS cnt, list(s ORDER BY i) AS syms
           |  FROM n$r WHERE NOT dropped GROUP BY word)""".stripMargin
      if (r < merges) s"$pick,\n$rewrite" else pick
    }.mkString(",\n")
    val out = (1 to merges).map(r =>
      s"SELECT $r AS merge_rank, a AS left_sym, b AS right_sym, " +
        s"CAST(c AS BIGINT) AS pair_count FROM b$r")
      .mkString("\nUNION ALL ")
    s"""WITH wc AS (SELECT w AS word, count(*) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 1 GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT word, cnt,
       |    list_transform(range(1, length(word) + 1), i -> word[i]) AS syms
       |  FROM wc),
       |$rounds
       |SELECT * FROM (
       |$out
       |) ORDER BY merge_rank""".stripMargin
  }

  private def knOracleSql(trainW: String, scoreW: String): String =
    s"""WITH tr AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE $trainW),
       |sr AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE $scoreW),
       |g3 AS (SELECT doc_id, toks[i] AS a, toks[i+1] AS b, toks[i+2] AS c
       |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tr WHERE len(toks) >= 3)),
       |s3 AS (SELECT doc_id, toks[i] AS a, toks[i+1] AS b, toks[i+2] AS c
       |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM sr WHERE len(toks) >= 3)),
       |c3 AS (SELECT a, b, c, CAST(count(*) AS DOUBLE) AS cf FROM g3 GROUP BY 1, 2, 3),
       |cx AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS cctx,
       |         CAST(count(DISTINCT c) AS DOUBLE) AS n1pn FROM g3 GROUP BY 1, 2),
       |t3 AS (SELECT DISTINCT a, b, c FROM g3),
       |cc2t AS (SELECT b, c, CAST(count(DISTINCT a) AS DOUBLE) AS cc2 FROM t3 GROUP BY 1, 2),
       |ct2t AS (SELECT b, CAST(count(*) AS DOUBLE) AS ct2,
       |           CAST(count(DISTINCT c) AS DOUBLE) AS n1p2 FROM t3 GROUP BY 1),
       |t2 AS (SELECT DISTINCT toks[i] AS u, toks[i+1] AS w
       |       FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM tr WHERE len(toks) >= 2)),
       |cc1t AS (SELECT w, CAST(count(DISTINCT u) AS DOUBLE) AS cc1 FROM t2 GROUP BY 1),
       |kk AS (SELECT greatest(CAST(count(*) AS DOUBLE), 1.0) AS nbt,
       |              CAST(count(DISTINCT w) AS DOUBLE) AS vcont FROM t2),
       |vv AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
       |       FROM (SELECT unnest(toks) AS tok FROM tr)),
       |j AS (SELECT s.doc_id,
       |        coalesce(c3.cf, 0.0) AS cf, coalesce(cx.cctx, 0.0) AS cctx,
       |        coalesce(cx.n1pn, 0.0) AS n1pn, coalesce(cc2t.cc2, 0.0) AS cc2v,
       |        coalesce(ct2t.ct2, 0.0) AS ct2v, coalesce(ct2t.n1p2, 0.0) AS n1p2,
       |        coalesce(cc1t.cc1, 0.0) AS cc1v, kk.nbt, kk.vcont, vv.v
       |      FROM s3 s
       |      LEFT JOIN c3 USING (a, b, c) LEFT JOIN cx USING (a, b)
       |      LEFT JOIN cc2t USING (b, c) LEFT JOIN ct2t USING (b)
       |      LEFT JOIN cc1t ON s.c = cc1t.w
       |      CROSS JOIN kk CROSS JOIN vv),
       |q1 AS (SELECT *, greatest(cc1v - 0.75, 0.0) / nbt
       |         + (0.75 * greatest(vcont, 1.0) / nbt) * (1.0 / (v + 1.0)) AS p1 FROM j),
       |q2 AS (SELECT *, CASE WHEN ct2v <= 0 THEN p1
       |         ELSE greatest(cc2v - 0.75, 0.0) / ct2v + 0.75 * n1p2 / ct2v * p1 END AS p2 FROM q1),
       |q3 AS (SELECT doc_id, CASE WHEN cctx <= 0 THEN p2
       |         ELSE greatest(cf - 0.75, 0.0) / cctx + 0.75 * n1pn / cctx * p2 END AS p FROM q2)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  ROUND(exp(-avg(ln(p))), 6) AS ppl FROM q3 GROUP BY 1""".stripMargin

  private val CURATION_CTES =
    s"""WITH $BigramPplCtes,
        |d1 AS (SELECT d.doc_id, d.text FROM documents d JOIN sc USING (doc_id)
        |       WHERE ROUND(ppl, 6) BETWEEN 28.0 AND 31.0),
        |dd AS (SELECT doc_id, text FROM d1 WHERE length(text) >= 11),
        |${winnowCtes(distinct = true)},
        |cap AS (SELECT doc_id, h FROM
        |          (SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS dfq FROM sel)
        |        WHERE dfq <= 100),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |       FROM cap a JOIN cap b ON a.h = b.h AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |dup AS (SELECT DISTINCT doc_b AS doc_id FROM pr WHERE n_shared >= 50),
        |d2 AS (SELECT doc_id, text FROM d1
        |       WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
        |${temperatureMixCtes("d2", "150.0", "2")}""".stripMargin

  private val SHINGLES =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |tri AS (
      |  SELECT doc_id, w || '_' || lead(w, 1) OVER win || '_' || lead(w, 2) OVER win AS shingle
      |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
      |ds AS (SELECT DISTINCT doc_id, shingle FROM tri),""".stripMargin

  /** Shared DuckDB CTE: every 8-token window start `(doc_id, pos, h)` with
    * h = the 60-bit md5-prefix fingerprint of the window joined by `_` —
    * the oracle twin of [[graft.operators.Dedup.spanStarts]] (positional,
    * NOT distinct; same fingerprint recipe, so even collision classes
    * agree across engines). */
  private val SPAN_STARTS = {
    val chain = (0 until SpanMinTokens)
      .map(i => if (i == 0) "w" else s"lead(w, $i) OVER win")
      .mkString(" || '_' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, pos,
       |    CAST(concat('0x', substr(md5($chain), 1, 15)) AS BIGINT) AS h
       |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
       |  QUALIFY lead(w, ${SpanMinTokens - 1}) OVER win IS NOT NULL),""".stripMargin
  }

  /** Shared DuckDB CTE: 32-bit simhash per document. */
  private val SIMHASH =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |th AS (SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) AS h FROM tok),
      |bits AS (SELECT doc_id, j, sum(((h >> j) & 1) * 2 - 1) AS s
      |         FROM th CROSS JOIN generate_series(0, 31) g(j) GROUP BY 1, 2),
      |sh AS (SELECT doc_id,
      |         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
      |       FROM bits GROUP BY 1)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // ROLLUP subtotal hierarchy; DuckDB sum(BIGINT) widens to HUGEINT → cast
    QueryDef("doc_source_rollup", qDocSourceRollup,
      """SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
        |  CAST(GROUPING(source) AS BIGINT) AS g_source,
        |  CAST(GROUPING(lang) AS BIGINT) AS g_lang,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY ROLLUP (source, lang)""".stripMargin),

    // streaming curation ledger == the batch gate + digest rollup (the
    // quality formula is doc_text_stats'; the gate is doc_pipeline's 0.7)
    QueryDef("doc_stream_curate", qDocStreamCurate,
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |q AS (SELECT doc_id, text,
        |  0.4 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
        |  + 0.4 * (1.0 - len(list_filter(toks, x -> x IN ('the','a'))) / CAST(len(toks) AS DOUBLE))
        |  + 0.2 * least(len(toks) / 100.0, 1.0) AS quality FROM t)
        |SELECT md5(text) AS digest, min(doc_id) AS canonical_id,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM q WHERE quality >= CAST(0.7 AS DOUBLE) GROUP BY 1""".stripMargin),

    // per-stratum exact interpolated quality quantiles over the SAME
    // 6dp-rounded composite score as doc_text_stats
    QueryDef("doc_quality_quantiles", qQualityQuantiles,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT CASE WHEN len(toks) >= 60 THEN 'long' ELSE 'short' END AS stratum,
        |  ROUND(0.4 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
        |      + 0.4 * (1.0 - len(list_filter(toks, x -> x IN ('the','a'))) / CAST(len(toks) AS DOUBLE))
        |      + 0.2 * least(len(toks) / 100.0, 1.0), 6) AS q FROM t),
        |qn AS (SELECT stratum, quantile_cont(q, [0.1, 0.25, 0.5, 0.75, 0.9]) AS qs
        |       FROM s GROUP BY 1)
        |SELECT stratum, CAST(generate_subscripts(qs, 1) AS BIGINT) AS i,
        |  ROUND(unnest(qs), 6) AS quality_q
        |FROM qn""".stripMargin),

    // Gopher repetition gates: 2-gram/3-gram char fractions via lead()
    // windows, multiplicity preserved (no DISTINCT), keep = composite gate
    QueryDef("doc_gopher_repetition", qGopherRepetition,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts,
        |              length(text) AS nc FROM documents),
        |base AS (SELECT doc_id, CAST(nc AS DOUBLE) AS nc,
        |         CAST(len(ts) AS DOUBLE) AS nt,
        |         CAST(nc - len(ts) + 1 AS DOUBLE) AS wc FROM toks),
        |tok AS (SELECT doc_id, unnest(ts) AS w,
        |        generate_subscripts(ts, 1) AS pos FROM toks),
        |g2 AS (SELECT doc_id, w || ' ' || lead(w, 1) OVER win AS gram FROM tok
        |       WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        |       QUALIFY lead(w, 1) OVER win IS NOT NULL),
        |g2c AS (SELECT doc_id, gram, count(*) AS c, length(gram) AS gc
        |        FROM g2 GROUP BY doc_id, gram),
        |t2 AS (SELECT doc_id, max(c * gc) AS topchars FROM g2c GROUP BY doc_id),
        |g3 AS (SELECT doc_id,
        |       w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS gram
        |       FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        |       QUALIFY lead(w, 2) OVER win IS NOT NULL),
        |g3c AS (SELECT doc_id, gram, count(*) AS c, length(gram) AS gc
        |        FROM g3 GROUP BY doc_id, gram),
        |d3 AS (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c * gc ELSE 0 END) AS dupchars
        |       FROM g3c GROUP BY doc_id)
        |SELECT b.doc_id,
        |  ROUND(coalesce(t2.topchars, 0) / b.nc, 6) AS top2gram_frac,
        |  ROUND(coalesce(d3.dupchars, 0) / b.nc, 6) AS dup3gram_frac,
        |  ROUND(b.wc / b.nt, 6) AS mean_word_len,
        |  (b.wc / b.nt >= 3.0 AND b.wc / b.nt <= 10.0
        |   AND coalesce(t2.topchars, 0) / b.nc <= 0.20
        |   AND coalesce(d3.dupchars, 0) / b.nc <= 0.30) AS keep
        |FROM base b LEFT JOIN t2 USING (doc_id) LEFT JOIN d3 USING (doc_id)""".stripMargin),

    // decontamination: distinct-3-gram overlap of every doc against the
    // doc_id % 20 = 0 benchmark slice, inverted-index join only
    QueryDef("doc_decontaminate", qDecontaminate,
      s"$SHINGLES\n${shingleOverlapSql("doc_id % 20 = 0", "0.5")}"),

    // Bloom-prefiltered decontamination: the Bloom layer is result-invariant
    // (prefilter + exact join == exact join), so the oracle is the plain
    // inverted-index overlap at this query's own bench slice / threshold
    QueryDef("doc_decontaminate_bloom", qDecontaminateBloom,
      s"$SHINGLES\n${shingleOverlapSql("doc_id % 17 = 3", "CAST(0.4 AS DOUBLE)")}"),

    // stratified hash sampling: the md5-bucket predicate replayed exactly
    // (fractions chosen so fraction * 2^32 is an exact integer — no
    // double->int rounding divergence between engines)
    QueryDef("doc_sample_hash", qSampleHash,
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) >= 60 THEN 'long' ELSE 'short' END AS stratum
        |  FROM documents),
        |h AS (SELECT doc_id, stratum,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS b
        |  FROM t)
        |SELECT doc_id, stratum FROM h
        |WHERE b < CASE stratum WHEN 'long' THEN 2147483648 ELSE 1073741824 END""".stripMargin),

    // Temperature mixture: same strata, rates n^0.5-proportional, T=200,
    // 9dp-rounded fraction floored onto the 2^32 hash space
    QueryDef("doc_mixture_temp", qMixtureTemp,
      s"""WITH ${temperatureMixCtes("documents", "200.0", "")}
        |SELECT h.doc_id, h.stratum FROM h JOIN f USING (stratum) WHERE b < thr""".stripMargin),

    // Token-budget mixture plan: per-source token volume → integer budget
    // (6dp-round-then-floor of share·target — shares written CAST AS
    // DOUBLE so DuckDB's DECIMAL literals do the same IEEE math) → capped
    // 9dp rate. src0's budget exceeds availability at sf0.01 only, so the
    // dual-SF gate covers both sides of the least(1, ·) cap.
    QueryDef("doc_token_budget", qTokenBudgetPlan,
      s"""WITH t AS (SELECT source, len(string_split(text, ' ')) AS nt FROM documents),
        |$TokenBudgetCtes
        |SELECT source, tokens_available, token_budget,
        |  ROUND(LEAST(CAST(1 AS DOUBLE),
        |    token_budget / CAST(tokens_available AS DOUBLE)), 9) AS rate
        |FROM p""".stripMargin),

    // membership replay at the plan's rates: same md5-prefix 32-bit bucket
    // as every sampler oracle, thresholds floor(rate * 2^32)
    QueryDef("doc_token_budget_sample", qTokenBudgetSample,
      s"""WITH t AS (SELECT doc_id, source, len(string_split(text, ' ')) AS nt
        |      FROM documents),
        |$TokenBudgetCtes,
        |f AS (SELECT source,
        |  CAST(FLOOR(ROUND(LEAST(CAST(1 AS DOUBLE),
        |    token_budget / CAST(tokens_available AS DOUBLE)), 9)
        |    * 4294967296) AS BIGINT) AS thr FROM p),
        |h AS (SELECT doc_id, source, nt,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS b
        |  FROM t)
        |SELECT h.doc_id, h.source, CAST(h.nt AS BIGINT) AS n_tokens
        |FROM h JOIN f USING (source) WHERE b < thr""".stripMargin),

    // concat-and-chunk packing: md5 shard + per-shard running-offset window,
    // integer chunk spans (DuckDB window SUM(BIGINT) yields HUGEINT — cast)
    QueryDef("doc_pack_chunks", qPackChunks,
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS nt,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        |  FROM documents),
        |s AS (SELECT doc_id, nt, h, CAST(h % 8 AS INT) AS shard FROM t),
        |o AS (SELECT doc_id, shard, nt,
        |  CAST(coalesce(sum(nt) OVER (PARTITION BY shard ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM s)
        |SELECT doc_id, shard, off AS offset_start,
        |  CAST(off // 256 AS BIGINT) AS chunk_start,
        |  CAST((off + nt - 1) // 256 AS BIGINT) AS chunk_end
        |FROM o""".stripMargin),

    // PII gate: the same deterministic profile construction, the same
    // RE2-safe patterns (group-0 counts) and the same 4-step redaction
    // chain, replayed verbatim — email → ipv4 → phone → long-id.
    QueryDef("doc_pii_redact", qPiiRedact,
      """WITH prof AS (SELECT c_custkey AS doc_id,
        |  concat_ws(' ', c_name, 'segment', c_mktsegment,
        |    CASE WHEN c_custkey % 3 = 0 THEN concat('contact user', CAST(c_custkey AS VARCHAR), '@example.com') ELSE 'no email on file' END,
        |    CASE WHEN c_custkey % 4 = 0 THEN concat('tel 1-555-', lpad(CAST((c_custkey * 7) % 10000 AS VARCHAR), 4, '0')) ELSE '' END,
        |    CASE WHEN c_custkey % 5 = 0 THEN concat('last ip 10.', CAST(c_custkey % 256 AS VARCHAR), '.0.', CAST((c_custkey * 3) % 256 AS VARCHAR)) ELSE '' END
        |  ) AS text FROM customer),
        |c AS (SELECT doc_id, text,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(text, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ipv4,
        |  len(regexp_extract_all(text, '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?')) AS n_phone,
        |  len(regexp_extract_all(text, '[0-9]{9,}')) AS n_long_id
        |  FROM prof)
        |SELECT doc_id, n_email, n_ipv4, n_phone, n_long_id,
        |  (n_email > 0 OR n_ipv4 > 0 OR n_phone > 0 OR n_long_id > 0) AS has_pii,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |    '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?', '<PHONE>', 'g'),
        |    '[0-9]{9,}', '<ID>', 'g') AS redacted
        |FROM c""".stripMargin),

    // tf-idf top terms: same smooth idf, same rounded-weight/term ranking
    QueryDef("doc_tfidf_top_terms", qTfidfTopTerms,
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS nd FROM documents),
        |w AS (SELECT doc_id, term,
        |        CAST(tf AS DOUBLE) * (ln((nd + 1.0) / (df + 1.0)) + 1.0) AS wt
        |      FROM tf JOIN dfreq USING (term), n),
        |r AS (SELECT doc_id, term, ROUND(wt, 6) AS tfidf,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY ROUND(wt, 6) DESC, term ASC) AS rank
        |      FROM w)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tfidf
        |FROM r WHERE rank <= 3""".stripMargin),

    // BM25 against the same 4-term lexicon, same k1=1.2 / b=0.75 math
    QueryDef("doc_bm25", qBm25,
      """WITH lens AS (SELECT doc_id,
        |        CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents),
        |st AS (SELECT count(*) AS nd, avg(dl) AS avgdl FROM lens),
        |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |h AS (SELECT doc_id, term FROM t
        |      WHERE term IN ('join', 'spark', 'stream', 'window')),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM h GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id,
        |        sum(ln(1.0 + (nd - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |            / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS s
        |      FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id), st GROUP BY 1)
        |SELECT l.doc_id, ROUND(coalesce(s, 0.0), 6) AS bm25
        |FROM lens l LEFT JOIN sc ON sc.doc_id = l.doc_id""".stripMargin),

    // Bigram perplexity: same MLE bigram LM, exp(-avg ln(c_ab/c_a))
    QueryDef("doc_perplexity", qPerplexity,
      s"""WITH $BigramPplCtes
        |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |  ROUND(ppl, 6) AS ppl FROM sc""".stripMargin),

    // Interpolated Kneser-Ney trigram ppl: raw discounted counts at order
    // 3, continuation counts (distinct-type extensions) below, unigram
    // with a 1/(V+1) OOV reserve; arithmetic written in the operator's
    // exact association order so both engines round identically
    QueryDef("doc_kn_perplexity", qKnPerplexity,
      knOracleSql("TRUE", "TRUE")),

    // Same estimator, LM fit on doc_id % 10 <> 0, scored on % 10 = 0 —
    // the held-out split exercises OOV tokens + unseen-context backoff
    QueryDef("doc_kn_perplexity_heldout", qKnPerplexityHeldout,
      knOracleSql("doc_id % 10 <> 0", "doc_id % 10 = 0")),

    // Naive-Bayes quality classifier over hashed unigram+bigram features
    // (buckets 2^18, Laplace alpha=1): train on doc_id % 10 <> 0 labeled
    // good = (lang = 'en'), score every doc; unseen buckets take the
    // smoothing default via the left join (the OOV path). Same md5-prefix
    // bucket recipe and the operator's exact association order
    QueryDef("doc_quality_classifier", qQualityClassifier,
      """WITH tr AS (SELECT doc_id, (lang = 'en') AS good,
        |             string_split(text, ' ') AS toks
        |           FROM documents WHERE doc_id % 10 <> 0),
        |sr AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |trg AS (
        |  SELECT good, toks[i] AS g
        |  FROM (SELECT good, toks, unnest(range(1, len(toks) + 1)) AS i FROM tr)
        |  UNION ALL
        |  SELECT good, toks[i] || ' ' || toks[i + 1] AS g
        |  FROM (SELECT good, toks, unnest(range(1, len(toks))) AS i FROM tr
        |        WHERE len(toks) >= 2)),
        |model AS (SELECT CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 262144 AS f,
        |            CAST(sum(CASE WHEN good THEN 1 ELSE 0 END) AS DOUBLE) AS cg,
        |            CAST(sum(CASE WHEN NOT good THEN 1 ELSE 0 END) AS DOUBLE) AS cb
        |          FROM trg GROUP BY 1),
        |tot AS (SELECT coalesce(sum(cg), 0.0) AS tg,
        |               coalesce(sum(cb), 0.0) AS tb FROM model),
        |pri AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS ndg,
        |               CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS ndb
        |        FROM documents WHERE doc_id % 10 <> 0),
        |srg AS (
        |  SELECT doc_id, toks[i] AS g
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM sr)
        |  UNION ALL
        |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM sr
        |        WHERE len(toks) >= 2)),
        |j AS (SELECT s.doc_id,
        |        ln((coalesce(m.cg, 0.0) + 1.0) / (tot.tg + 262144.0))
        |      - ln((coalesce(m.cb, 0.0) + 1.0) / (tot.tb + 262144.0)) AS llr
        |      FROM (SELECT doc_id,
        |              CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 262144 AS f
        |            FROM srg) s
        |      LEFT JOIN model m USING (f) CROSS JOIN tot),
        |sc AS (SELECT j.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |         ROUND(ln(greatest(pri.ndg, 1.0) / greatest(pri.ndb, 1.0))
        |               + sum(j.llr), 6) AS score
        |       FROM j CROSS JOIN pri GROUP BY j.doc_id, pri.ndg, pri.ndb)
        |SELECT doc_id, n_feats, score,
        |  CAST(score > 0 AS INT) AS pred_good FROM sc""".stripMargin),

    // BPE vocabulary training, 8 merges: full round-by-round replay of the
    // pair-count -> top-1 -> greedy-merge loop (ties: count desc, pair asc)
    QueryDef("doc_bpe_vocab", qBpeVocab,
      bpeOracleSql(8)),

    // The composed curation chain: perplexity band -> fingerprint dedup
    // over survivors -> temperature sample; stage-local dfs and counts
    QueryDef("doc_curation_chain", qCurationChain,
      s"""$CURATION_CTES
         |SELECT h2.doc_id, h2.stratum FROM h2 JOIN f2 USING (stratum)
         |WHERE b < thr""".stripMargin),

    // Curation lineage audit: same chain CTEs, every input doc labeled with
    // the FIRST stage that dropped it (stages are nested subsets, so the
    // CASE order IS the chain order); 'kept' = survived the whole chain
    QueryDef("doc_curation_audit", qCurationAudit,
      s"""$CURATION_CTES,
         |fin AS (SELECT h2.doc_id FROM h2 JOIN f2 USING (stratum) WHERE b < thr)
         |SELECT d.doc_id,
         |  (d.doc_id IN (SELECT doc_id FROM fin)) AS keep,
         |  CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM d1) THEN 'perplexity'
         |       WHEN d.doc_id IN (SELECT doc_id FROM dup) THEN 'fingerprint'
         |       WHEN d.doc_id NOT IN (SELECT doc_id FROM fin) THEN 'sample'
         |       ELSE 'kept' END AS dropped_by
         |FROM documents d""".stripMargin),

    // Winnowing fingerprints: same base-31 mod 2^20 polynomial over char
    // 8-grams, same h*2^32+(2^32-1-p) order-embedding window min, w=4
    QueryDef("doc_fingerprints", qFingerprints,
      s"""WITH dd AS (SELECT doc_id, text FROM documents WHERE length(text) >= 11),
        |${winnowCtes(distinct = false)},
        |agg AS (SELECT doc_id, count(*) AS n_fp,
        |          CAST(sum(h % 1000000007) AS BIGINT) AS fp_sum,
        |          min(h) AS fp_min, max(h) AS fp_max FROM sel GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_fp, 0) AS BIGINT) AS n_fp,
        |  CAST(coalesce(fp_sum, 0) AS BIGINT) AS fp_sum,
        |  CAST(coalesce(fp_min, -1) AS BIGINT) AS fp_min,
        |  CAST(coalesce(fp_max, -1) AS BIGINT) AS fp_max
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin),

    // MOSS pairs over the same winnowed set: df-cap 100, >= 50 shared hashes
    QueryDef("doc_fingerprint_pairs", qFingerprintPairs,
      s"""WITH dd AS (SELECT doc_id, text FROM documents WHERE length(text) >= 11),
        |${winnowCtes(distinct = true)},
        |cap AS (SELECT doc_id, h FROM
        |          (SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS dfq FROM sel)
        |        WHERE dfq <= greatest(100,
        |          CAST(ceil(0.05 * (SELECT count(*) FROM documents)) AS BIGINT))),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |       FROM cap a JOIN cap b ON a.h = b.h AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared
        |FROM pr WHERE n_shared >= 50""".stripMargin),

    // One-row corpus report: same stats/quality math aggregated corpus-wide
    QueryDef("doc_corpus_summary", (s, d) =>
        graft.Corpus(Tables.documents(s, d)).summary,
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |q AS (SELECT doc_id, text, len(toks) AS nt,
        |        0.4 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
        |      + 0.4 * (1.0 - len(list_filter(toks, x -> x IN ('the','a'))) / CAST(len(toks) AS DOUBLE))
        |      + 0.2 * least(len(toks) / 100.0, 1.0) AS quality FROM t)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  ROUND(avg(nt), 6) AS avg_tokens,
        |  ROUND(avg(quality), 6) AS avg_quality,
        |  ROUND(avg(CASE WHEN nt >= 60 THEN 1.0 ELSE 0.0 END), 6) AS pct_long
        |FROM q""".stripMargin),

    QueryDef("doc_text_stats", qTextStats,
      """WITH t AS (SELECT doc_id, length(text) AS nc, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id, CAST(nc AS BIGINT) AS n_chars_calc,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
        |  ROUND(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6) AS distinct_ratio,
        |  ROUND(list_aggregate(list_transform(toks, x -> len(x)), 'sum') / CAST(len(toks) AS DOUBLE), 6) AS avg_token_len,
        |  ROUND(len(list_filter(toks, x -> x IN ('the','a'))) / CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio,
        |  ROUND(0.4 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
        |      + 0.4 * (1.0 - len(list_filter(toks, x -> x IN ('the','a'))) / CAST(len(toks) AS DOUBLE))
        |      + 0.2 * least(len(toks) / 100.0, 1.0), 6) AS quality
        |FROM t""".stripMargin),

    QueryDef("doc_langid", qLangId,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |  len(list_filter(toks, x -> x IN ('the','a','big','small','fast','slow'))) / CAST(len(toks) AS DOUBLE) AS sg,
        |  len(list_filter(toks, x -> x IN ('table','join','query','scan','merge','sort','hash','group'))) / CAST(len(toks) AS DOUBLE) AS sq,
        |  len(list_filter(toks, x -> x IN ('stream','window','batch','spark','line'))) / CAST(len(toks) AS DOUBLE) AS ss
        | FROM t)
        |SELECT doc_id, ROUND(sg, 6) AS score_general, ROUND(sq, 6) AS score_sql,
        |  ROUND(ss, 6) AS score_stream,
        |  CASE WHEN ss > greatest(sg, sq) THEN 'stream'
        |       WHEN sq > sg THEN 'sql' ELSE 'general' END AS pred_profile
        |FROM s""".stripMargin),

    QueryDef("doc_dedup_exact", qDedupExact,
      "SELECT md5(text) AS digest, count(*) AS n_docs, min(doc_id) AS canonical_id FROM documents GROUP BY 1"),

    QueryDef("doc_dup_spans", qDupSpans,
      s"""$SPAN_STARTS
         |${spanIslandCtes(SpanMinTokens)}
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         |  CAST(max(pos) - min(pos) + $SpanMinTokens AS BIGINT) AS span_len
         |FROM isl GROUP BY doc_id, grp""".stripMargin),

    QueryDef("doc_strip_spans", qStripSpans,
      s"""$SPAN_STARTS
         |nc AS (SELECT doc_id, pos FROM
         |  (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt,
         |     row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM sh)
         |  WHERE cnt >= 2 AND rn > 1),
         |isl AS (SELECT doc_id, pos,
         |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM nc),
         |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + ${SpanMinTokens - 1} AS e
         |  FROM isl GROUP BY doc_id, grp),
         |kept AS (SELECT t.doc_id, t.pos, t.w FROM toks t
         |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
         |    WHERE sp.doc_id = t.doc_id AND t.pos BETWEEN sp.s AND sp.e)),
         |reb AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text2
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(len(string_split(coalesce(r.text2, ''), ' ')) AS BIGINT) AS n_tokens,
         |  md5(coalesce(r.text2, '')) AS digest
         |FROM documents d LEFT JOIN reb r ON r.doc_id = d.doc_id""".stripMargin),

    QueryDef("doc_span_profile", qSpanProfile,
      s"""$SPAN_STARTS
         |${spanIslandCtes(SpanMinTokens)},
         |sp AS (SELECT doc_id, max(pos) - min(pos) + $SpanMinTokens AS span_len
         |  FROM isl GROUP BY doc_id, grp),
         |agg AS (SELECT doc_id, SUM(span_len) AS dup_toks FROM sp GROUP BY doc_id),
         |base AS (SELECT doc_id, source,
         |  len(string_split(text, ' ')) AS nt FROM documents)
         |SELECT source, count(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(SUM(dup_toks), 0) AS BIGINT) AS dup_tokens,
         |  ROUND(COALESCE(SUM(dup_toks), 0) / CAST(SUM(nt) AS DOUBLE), 6) AS dup_ratio
         |FROM base LEFT JOIN agg USING (doc_id) GROUP BY source""".stripMargin),

    QueryDef("doc_dedup_incremental", qDedupIncremental,
      s"""$SHINGLES
         |capped AS (SELECT * FROM ds
         |  QUALIFY count(*) OVER (PARTITION BY shingle) <= $JaccardDfCap),
         |sz AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY 1),
         |l AS (SELECT * FROM capped WHERE doc_id % 10 = 0),
         |r AS (SELECT * FROM capped WHERE doc_id % 10 <> 0),
         |inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS c
         |  FROM l JOIN r ON l.shingle = r.shingle GROUP BY 1, 2),
         |near AS (SELECT DISTINCT a AS doc_id FROM inter
         |  JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
         |  WHERE c / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.5),
         |ex AS (SELECT DISTINCT b.doc_id
         |  FROM documents b JOIN documents r2
         |    ON md5(b.text) = md5(r2.text)
         |   AND b.doc_id % 10 = 0 AND r2.doc_id % 10 <> 0)
         |SELECT d.doc_id,
         |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
         |       WHEN near.doc_id IS NOT NULL THEN 'near'
         |       ELSE 'kept' END AS verdict
         |FROM documents d
         |LEFT JOIN ex ON ex.doc_id = d.doc_id
         |LEFT JOIN near ON near.doc_id = d.doc_id
         |WHERE d.doc_id % 10 = 0""".stripMargin),

    QueryDef("doc_span_leakage", qSpanLeakage,
      s"""$SPAN_STARTS
         |srcw AS (SELECT DISTINCT d.source AS src, s.h
         |  FROM sh s JOIN documents d USING (doc_id))
         |SELECT a.src AS source_a, b.src AS source_b,
         |  count(*) AS n_shared_windows
         |FROM srcw a JOIN srcw b ON a.h = b.h AND a.src < b.src
         |GROUP BY 1, 2""".stripMargin),

    QueryDef("doc_jaccard_pairs", qJaccardPairs,
      s"""$SHINGLES
         |${jaccardInterCtes(JaccardDfCap)}
         |SELECT doc_a, doc_b, n_common,
         |  ROUND(n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE), 6) AS jaccard
         |FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         |WHERE n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.8""".stripMargin),

    // connected components over the jaccard pair graph: reachability
    // closure per vertex (min reachable id == component label) — DuckDB's
    // recursive CTE walks what the Spark side labels via min-label
    // propagation + pointer jumping
    QueryDef("doc_dedup_clusters", qDedupClusters,
      s"""${SHINGLES.replaceFirst("WITH ", "WITH RECURSIVE ")}
         |${jaccardInterCtes(JaccardDfCap)},
         |pr AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.8),
         |ed AS (SELECT doc_a AS a, doc_b AS b FROM pr
         |       UNION SELECT doc_b, doc_a FROM pr),
         |reach(v, r) AS (
         |  SELECT a, a FROM ed
         |  UNION
         |  SELECT reach.v, ed.b FROM reach JOIN ed ON ed.a = reach.r)
         |SELECT v AS doc_id, min(r) AS cluster_id, v = min(r) AS kept
         |FROM reach GROUP BY v""".stripMargin),

    QueryDef("doc_minhash_lsh", qMinhashLsh,
      s"""$SHINGLES
         |x AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS x FROM ds),
         |h AS (SELECT doc_id, i, min((x * (2*i+1) + (7919*(i+1)) % 2147483647) % 2147483647) AS m
         |      FROM x CROSS JOIN generate_series(0, 15) g(i) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, i // 4 AS band, md5(string_agg(m::VARCHAR, '_' ORDER BY i)) AS bh
         |          FROM h GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |est AS (SELECT doc_a, doc_b, sum(CASE WHEN ha.m = hb.m THEN 1 ELSE 0 END) / 16.0 AS ej
         |        FROM cand JOIN h ha ON ha.doc_id = doc_a
         |                  JOIN h hb ON hb.doc_id = doc_b AND hb.i = ha.i
         |        GROUP BY 1, 2)
         |SELECT doc_a, doc_b, ROUND(ej, 6) AS est_jaccard FROM est""".stripMargin),

    QueryDef("doc_simhash", qSimhash,
      s"""$SIMHASH
         |SELECT doc_id, simhash FROM sh""".stripMargin),

    QueryDef("doc_simhash_pairs", qSimhashPairs,
      s"""$SIMHASH
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2""".stripMargin),

    QueryDef("doc_multimodal", qMultimodal,
      """WITH h AS (SELECT doc_id, strlen(text) AS nb, md5(text) AS checksum,
        |  CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h60 FROM documents)
        |SELECT doc_id, CAST(nb AS BIGINT) AS n_bytes, checksum,
        |  64 + h60 % 1857 AS width,
        |  64 + (h60 // 7) % 1017 AS height,
        |  500 + (h60 // 13) % 59500 AS duration_ms
        |FROM h""".stripMargin),

    // planted-dimension replay of the real header decode: the Spark side
    // round-trips doc_id → PNG/JPEG/GIF bytes → parsed dims; the oracle
    // recomputes the plant + resize plan arithmetically
    // Byte-extract replay of the five-format plant: image + MP4 rows carry
    // the planted dims; WAV rows duration = nSamples*1000 // rate (the
    // decoder's dataSize*1000/byteRate reduces to exactly this) with zero
    // dims, so their resize targets are zero without the 512/0 division;
    // MP4 rows duration = units*1000 // timescale from the mvhd fields.
    QueryDef("doc_multimodal_real", qMultimodalReal,
      """WITH plant AS (SELECT doc_id, doc_id % 5 AS fmt,
        |  16 + (doc_id * 7) % 2033 AS w0,
        |  16 + (doc_id * 13) % 1525 AS h0,
        |  CASE (doc_id // 5) % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS rate,
        |  CASE (doc_id // 5) % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS tsc
        |  FROM documents),
        |dims AS (SELECT doc_id, fmt,
        |  CASE WHEN fmt = 3 THEN 0 ELSE w0 END AS width,
        |  CASE WHEN fmt = 3 THEN 0 ELSE h0 END AS height,
        |  CASE WHEN fmt = 3
        |    THEN ((rate * (1 + doc_id % 5) + doc_id % 997) * 1000) // rate
        |  WHEN fmt = 4
        |    THEN ((tsc * (1 + doc_id % 7) + doc_id % 331) * 1000) // tsc
        |  ELSE 0 END AS duration_ms
        |  FROM plant),
        |sc AS (SELECT *, CASE WHEN fmt = 3 THEN 1.0
        |    ELSE least(1.0, CAST(512 AS DOUBLE) / greatest(width, height)) END AS scale
        |  FROM dims)
        |SELECT doc_id, width, height, duration_ms,
        |  CAST(floor(width * scale) AS BIGINT) AS target_width,
        |  CAST(floor(height * scale) AS BIGINT) AS target_height
        |FROM sc""".stripMargin),

    // dHash replay from the planted pixels: PNG is lossless so the Spark
    // side's decode(encode(px)) == px, and every post-decode step is
    // integer arithmetic. Grid mean: Spark sums all 3 RGB channels and
    // divides by 3·count — floor((3·Σg)/(3·cnt)) == Σg // cnt, the SQL
    // form. Bit b (= gy·8+gx) set iff grid(gx+1,gy) > grid(gx,gy);
    // words: hi = bits 63..32, lo = 31..0, both non-negative BIGINTs.
    QueryDef("doc_image_phash", qImagePhash,
      imagePhashSql),

    // PCM replay from the planted samples: WAV 16-bit PCM is lossless so
    // the Spark side's decode(encode(s)) == s, and every post-decode step
    // is integer arithmetic (Σs², sign-flip count, per-frame Σ|s| +
    // gradient-sign bits). The %10==9 rows pass only because gradient
    // signs survive the exact 2x gain — the fingerprint's invariance
    // property, oracle-checked.
    QueryDef("doc_audio_features", qAudioFeatures,
      audioFeaturesSql),

    // same 4x16-bit banding replay as the image pairs, over (fp_hi, fp_lo)
    QueryDef("doc_audio_fp_pairs", qAudioFpPairs,
      hammingPairsSql(audioFeaturesSql, "fp_hi", "fp_lo")),

    // banding replay: 4 bands × 16 bits over (hi, lo) — band 0 = lo%2^16,
    // 1 = lo//2^16, 2 = hi%2^16, 3 = hi//2^16 (= hammingPairs64's global
    // bit ranges at maxDist 3) — then the exact bit_count re-check
    QueryDef("doc_image_phash_pairs", qImagePhashPairs,
      hammingPairsSql(imagePhashSql, "dh_hi", "dh_lo")),

    // sample-table + raw-keyframe replay: counts/duration arithmetically,
    // the first-keyframe dHash from the planted pixels (image-grid math)
    QueryDef("doc_video_keyframes", qVideoKeyframes,
      videoKeyframesSql),

    // same 4x16-bit banding replay as the image/audio pairs, over
    // (kf_hi, kf_lo)
    QueryDef("doc_video_kf_pairs", qVideoKfPairs,
      hammingPairsSql(videoKeyframesSql, "kf_hi", "kf_lo")),

    QueryDef("doc_token_counts", qDocTokenCounts,
      """SELECT doc_id,
        |  CAST(length(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(length(regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS BIGINT)
        |    AS n_bpeish_tokens
        |FROM documents""".stripMargin),

    // brute-force definition of the trigram-embedding near-dup pairs (the
    // Spark side goes through banded-LSH blocking; precision is exact and
    // recall on this fixture is proven equal by ExactPropertySpec + this hash)
    QueryDef("doc_neardup_cosine", qDocNearDupCosine,
      s"""WITH $TrigramVecCtes,
        |dots AS (SELECT a.doc_id AS qa, b.doc_id AS qb, sum(a.c*b.c) AS d
        |  FROM vec a JOIN vec b ON a.b = b.b AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sims AS (SELECT qa, qb, d / (na.n * nb.n) AS sim
        |  FROM dots JOIN nrm na ON na.doc_id = qa JOIN nrm nb ON nb.doc_id = qb)
        |SELECT qa AS doc_a, qb AS doc_b, ROUND(sim, 6) AS sim
        |FROM sims WHERE sim >= 0.98""".stripMargin),

    // cross-corpus decontamination: the SAME trigram-vector construction as
    // doc_neardup_cosine, restricted to (train, benchmark) cross pairs
    QueryDef("doc_cross_decontaminate", qCrossDecontaminate,
      s"""WITH $TrigramVecCtes,
        |dots AS (SELECT a.doc_id AS cid, b.doc_id AS pid, sum(a.c*b.c) AS d
        |  FROM vec a JOIN vec b ON a.b = b.b
        |  WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0 GROUP BY 1, 2),
        |sims AS (SELECT cid, pid, d / (na.n * nb.n) AS sim
        |  FROM dots JOIN nrm na ON na.doc_id = cid JOIN nrm nb ON nb.doc_id = pid)
        |SELECT cid AS corpus_id, pid AS probe_id, ROUND(sim, 6) AS sim
        |FROM sims WHERE sim >= 0.98""".stripMargin),

    QueryDef("doc_pipeline", qDocPipeline,
      s"""$SHINGLES
         |${jaccardInterCtes(JaccardDfCap)},
         |dups AS (SELECT DISTINCT doc_b FROM inter
         |  JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.8),
         |q AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
         |scoredq AS (SELECT doc_id, text,
         |    0.4 * (len(list_distinct(tk)) / CAST(len(tk) AS DOUBLE))
         |    + 0.4 * (1.0 - len(list_filter(tk, x -> x IN ('the','a'))) / CAST(len(tk) AS DOUBLE))
         |    + 0.2 * least(len(tk) / 100.0, 1.0) AS quality FROM q)
         |SELECT s.doc_id, ROUND(s.quality, 6) AS quality,
         |  CAST(concat('0x', substr(md5(s.text), 1, 15)) AS BIGINT) AS fingerprint
         |FROM scoredq s LEFT JOIN dups ON dups.doc_b = s.doc_id
         |WHERE dups.doc_b IS NULL AND s.quality >= 0.7""".stripMargin)
  )
}
