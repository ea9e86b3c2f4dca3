package graft.operators

import graft.functions.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, from exact to
  * similarity-based:
  *
  *  - exact: hash-groupBy on content — one shuffle keyed by digest, the
  *    canonical 100 TB dedup shape;
  *  - n-gram Jaccard: shingle inverted-index self-join — exact pairwise
  *    similarity, cost bounded by shared-shingle frequency;
  *  - MinHash + LSH: k portable hash functions → banded signatures →
  *    bucket-join; candidate generation cost is O(docs·bands), the standard
  *    scale path when pairwise is infeasible;
  *  - SimHash: 32-bit sign-aggregated token hashes; near-dup = small
  *    Hamming distance.
  *
  * All hashes derive from md5 (portable across engines) — no engine-native
  * hash functions, so results are reproducible anywhere.
  */
object Dedup {

  /** Exact dedup groups: digest → group size + canonical (min) id. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("canonical_id"))

  /** Distinct word n-gram shingles per document: (id, shingle). */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    // shingle i = tokens[i..i+n-1] joined; build via transform over indices
    val sh = when(size(toks) >= n,
      transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws("_", slice(toks, i + 1, lit(n)))
      )).otherwise(array())
    df.select(col(idCol).as("doc"), explode(array_distinct(sh)).as("shingle"))
  }

  /** Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle,
    * filtered to jaccard ≥ minJ. Shuffle key = shingle (inverted index).
    *
    * `maxDocFreq` caps the document frequency of index shingles: a shingle
    * appearing in more than that many documents (a stop-phrase) is excluded
    * from the similarity, which bounds every join key's fan-out at
    * maxDocFreq² candidate pairs — without the cap one hot shingle creates a
    * quadratic bucket at scale. Both the intersection AND the per-doc sizes
    * use the capped shingle set, so jaccard stays a true Jaccard over the
    * informative shingles. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, minJ: Double, maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val shAll = shingles(df, idCol, textCol, n)
    // Doc-frequency cap via a count window over the shingle partition: ONE
    // shuffle keyed by shingle replaces the old groupBy + semi-join shape
    // (which re-ran the shingle explode twice and shuffled it three times).
    // The window's HashPartitioning(shingle) is exactly the full-width pin
    // the row-exploding self-join below needs — AQE's byte-sized coalescing
    // would otherwise mis-plan pair generation onto a few tasks (same fix
    // as [[graft.operators.Similarity.cosineNearDupPairs]]). Width sized
    // from the shingle-volume estimate ([[graft.core.Widths]] — one
    // ~26 B (doc, 3-word shingle) row per token ≈ 5.2× the document
    // bytes the Generate-blind estimate reports).
    val nPart = graft.core.Widths.forExchange(shAll, expansion = 5.2)
    val capped =
      if (maxDocFreq == Int.MaxValue) shAll
      else shAll
        .withColumn("_df", count(lit(1)).over(Window.partitionBy("shingle")))
        .filter(col("_df") <= maxDocFreq).drop("_df")
    // The capped index MATERIALIZES ONCE as a lazy DISK_ONLY KEYED local
    // checkpoint ([[org.apache.spark.sql.GraftCheckpoint]]: explicit
    // full-width repartition on the join key — exempt from AQE's
    // byte-based coalescing, ADVICE r4 — with the hash(shingle)
    // distribution re-advertised on the checkpoint's LogicalRDD) that all
    // four consumers (both self-join sides + the two sizes reads) scan as
    // existing blocks WITH ZERO further exchanges. Two prior failure
    // modes die here: (a) exchange reuse does not hold over persisted
    // inputs (AQE's stage cache does not deduplicate exchanges whose
    // subtree contains a TableCacheQueryStage — the round-10 find: the
    // 2M-doc point re-ran the scan→shingle-explode→df-window lineage FOUR
    // times, 13.3 GB mem + 5.7 GB disk of spilled map sorts); (b) a plain
    // localCheckpoint CREATED under AQE captures NO outputPartitioning
    // (the pre-execution AdaptiveSparkPlanExec has none — the round-11
    // find), so the self-join sides each re-exchanged the index and only
    // ReusedExchange collapsed them back to one materialized copy.
    // DISK_ONLY keeps the blocks out of the unified pool the join needs
    // (the r9 BlockedVar lesson); blocks free when the frame is
    // unreferenced — no accrual across calls.
    val sh = org.apache.spark.sql.GraftCheckpoint.localCheckpointHashed(
      capped, Seq("shingle"),
      org.apache.spark.storage.StorageLevel.DISK_ONLY, nPart)
    // per-doc capped sizes: aggregated once from the checkpointed blocks
    // and materialized the same way — the two renamed consumers below
    // would otherwise each re-scan the full index
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("sz"))
      .localCheckpoint(false, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("jaccard",
        col("n_common") / (col("sz_a") + col("sz_b") - col("n_common")))
      .filter(col("jaccard") >= minJ)
  }

  /** Cross-corpus exact n-gram Jaccard (the incremental-ingestion tier:
    * a new BATCH against an already-curated REFERENCE corpus): every
    * `(doc_l, doc_r)` pair with one doc per side sharing ≥1 capped shingle
    * and jaccard ≥ minJ. Only CROSS pairs are generated — batch-internal
    * duplicates are [[jaccardPairs]]' job, and the reference is assumed
    * deduped — so the join cost is |batch| × matches, not the reference's
    * self-pair volume. The document-frequency cap counts across BOTH
    * corpora (a stop-phrase is global), and per-doc sizes use the capped
    * set, exactly as in [[jaccardPairs]]. One shuffle keyed by shingle;
    * both join sides and the size aggregate read the same exchange. */
  def crossJaccardPairs(left: DataFrame, right: DataFrame, idCol: String,
                        textCol: String, n: Int, minJ: Double,
                        maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val uni = shingles(left, idCol, textCol, n).withColumn("_side", lit("l"))
      .unionByName(shingles(right, idCol, textCol, n).withColumn("_side", lit("r")))
    val nPart = graft.core.Widths.forExchange(uni, expansion = 5.2)
    val capped =
      if (maxDocFreq == Int.MaxValue) uni
      else uni
        .withColumn("_df", count(lit(1)).over(Window.partitionBy("shingle")))
        .filter(col("_df") <= maxDocFreq).drop("_df")
    // one keyed materialization for the four consumers — same
    // persisted-input exchange-reuse failure AND AQE-checkpoint
    // partitioning loss (and fix) as [[jaccardPairs]]
    val sh = org.apache.spark.sql.GraftCheckpoint.localCheckpointHashed(
      capped, Seq("shingle"),
      org.apache.spark.storage.StorageLevel.DISK_ONLY, nPart)
    val sizes = sh.groupBy("_side", "doc").agg(count(lit(1)).as("sz"))
      .localCheckpoint(false, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val inter = sh.filter(col("_side") === "l").as("a")
      .hint("shuffle_hash")
      .join(sh.filter(col("_side") === "r").as("b"),
        col("a.shingle") === col("b.shingle"))
      .groupBy(col("a.doc").as("doc_l"), col("b.doc").as("doc_r"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.filter(col("_side") === "l")
        .select(col("doc").as("doc_l"), col("sz").as("sz_l")), "doc_l")
      .join(sizes.filter(col("_side") === "r")
        .select(col("doc").as("doc_r"), col("sz").as("sz_r")), "doc_r")
      .withColumn("jaccard",
        col("n_common") / (col("sz_l") + col("sz_r") - col("n_common")))
      .filter(col("jaccard") >= minJ)
  }

  /** Winnow window for an n-doc corpus: `w + 1 = 5·√(n / 2×10⁶)`, floored
    * at the MOSS-default w = 4 (so ≤ 2.8×10⁶-doc corpora keep their exact
    * historical fingerprints). Background pair-enumeration work is the
    * n²/|context-space| law (§2.9.9): two unrelated docs land a shared
    * SELECTED fingerprint when they share a selection context, so pair
    * incidences grow ∝ (n·density)². Density is 2/(w+1), hence holding
    * w + 1 ∝ √n keeps the background pair mass ∝ n — the same
    * fixed-parameter-rot fix class as [[autoRows]] (+4 minhash rows per
    * decade) and the self-sizing decontamination Bloom. The cost is the
    * MOSS guarantee coarsening: detected shared runs are ≥ k + w − 1
    * chars, e.g. 22 at the 2×10⁷-doc operating point (w = 15) vs 11 at
    * the default; planted-copy recall is unchanged because genuine
    * copies share whole documents, not 11-char fragments. Measured
    * honesty (§2.9.13): the i.i.d. model overstates the PAIR-mass win —
    * winnowing selects low-hash grams CORRELATEDLY across documents, so
    * w's reliable payoff is the ~density-proportional index
    * exchange/scan shrink; the background-pair mass needed the 60-bit
    * emitted digest and bytes-sized widths as well. */
  def autoW(nDocs: Long): Int =
    math.max(4, math.ceil(5.0 * math.sqrt(math.max(1L, nDocs) / 2e6)).toInt - 1)

  /** MOSS-style copy-detection pairs over winnowing fingerprints
    * ([[graft.functions.TextOps.winnowFingerprints]]): two docs are a
    * candidate pair when their selected rolling-hash fingerprint SETS share
    * at least `minShared` hashes. Winnowing guarantees any shared substring
    * of length ≥ k + w − 1 contributes a shared fingerprint, so this finds
    * passage-level copying that whole-doc hashing misses and shingle
    * Jaccard dilutes.
    *
    * GEOMETRY IS CORPUS-SIZE-DEPENDENT and auto-sizes by default
    * (`w ≤ 0`): one cheap count derives the winnow window via [[autoW]],
    * and `minShared` — stated by the caller AT the default density
    * 2/(4+1) — is rescaled by the density ratio `5/(w+1)` so the
    * threshold keeps meaning "the same amount of shared text". An
    * explicit `w` pins the geometry verbatim, minShared unrescaled —
    * fixed-size experiments, replaying a historical run. Plan shape: ONE
    * exchange keyed by fingerprint hash that the doc-frequency cap, the
    * [[localCheckpointAdvertised]] index materialization, and both
    * self-join sides all ride
    * (§2.9.11's stage decomposition: the index exchange is ~80% of the
    * op's bytes, so it gets to exist exactly once).
    *
    * COST MODEL for `maxDocFreq`: candidate volume is Σ df² over the
    * surviving index hashes, so the cap bounds the worst case at
    * maxDocFreq²·|hot hashes|. Keep it a FLAT count (the default here,
    * and the setting under which the 2.6×/decade ladder was measured) —
    * a FRACTIONAL cap (df ≤ share·n) re-admits a quadratic worst case:
    * one saturated stop-phrase hash alone contributes up to share²·n²
    * pairs (measured at 5000 docs: 1.1M → 6.8M → 55M candidates for
    * caps 100/250/500). The repo's one fractional-cap caller is the
    * sf-gate query, whose job is verifying nonzero pairs at every gate
    * SF — do not port that cap shape to a production corpus. */
  def fingerprintPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, w: Int = -1, minShared: Int = 10,
                       maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val (wEff, msEff) =
      if (w > 0) (w, minShared)
      else {
        val wAuto = autoW(df.count())
        // floor at min(2, minShared), not a flat 2: a caller's minShared = 1
        // must survive the w = 4 identity case (auto geometry resolving to
        // the default density is row-identical to the pinned call)
        (wAuto, math.max(math.min(2, minShared),
          math.ceil(minShared * 5.0 / (wAuto + 1)).toInt))
      }
    // distinct (doc, h) by construction — the per-doc fingerprint set is
    // array_distinct'd BEFORE the explode, so no distinct aggregate runs
    // over the exploded rows at all (the round-11 shape spent ~35% of its
    // CPU re-distincting 5×10⁸ exploded rows it could have deduped inside
    // the per-doc array)
    val hs = df.filter(length(col(textCol)) >= k + wEff - 1)
      .select(col(idCol).as("doc"), col(textCol).as("_txt"))
      .repartition(col("doc"))
      .select(col("doc"), explode(array_distinct(transform(
        graft.functions.WinnowSelect.selected(col("_txt"), k, wEff),
        s => s.getField("h")))).as("h"))
    pairsOverIndex(hs, msEff, maxDocFreq, distinctNeeded = false)
  }

  /** [[fingerprintPairs]] from an already-computed fingerprint frame
    * (`(doc, p, h)` rows, distinct or not — only the distinct (doc, h)
    * sets matter here). Lets a session reuse one materialized winnow pass
    * across the summary and pairs consumers. Geometry is the frame's —
    * no auto-w, no threshold rescale. */
  def fingerprintPairsFrom(fps: DataFrame, minShared: Int,
                           maxDocFreq: Int): DataFrame =
    pairsOverIndex(fps.select(col("doc"), col("h")), minShared, maxDocFreq,
      distinctNeeded = true)

  /** Shared tail of the fingerprint tier: ONE full-width exchange keyed by
    * `h` that everything downstream rides —
    *
    *  - the `(doc, h)` distinct (when the input can repeat): the double
    *    HashAggregate plans WITHOUT its own exchange because
    *    `HashPartitioning(h)` satisfies `ClusteredDistribution(doc, h)`;
    *  - the doc-frequency window (`count over partitionBy(h)`): same
    *    partitioning, one local sort;
    *  - the `2 ≤ df ≤ maxDocFreq` filter: df = 1 hashes pair with NOTHING
    *    (a pair needs two docs on the key), so dropping them cannot change
    *    `n_shared` of any pair — they only bloat the checkpoint and the
    *    join build (at 2×10⁶ docs they are most of the index);
    *  - the capped index checkpoint ([[org.apache.spark.sql.GraftCheckpoint
    *    .localCheckpointAdvertised]] — the lineage above is narrow over the
    *    explicit repartition, so re-exchanging the survivors through
    *    `localCheckpointHashed` would be pure waste), whose blocks both
    *    self-join sides scan with zero further exchanges.
    *
    * The round-11 shape paid three stages over this lineage (distinct
    * exchange, window exchange, checkpoint re-exchange — §2.9.11's stage
    * decomposition); this one pays one. The pair aggregate's exchange is
    * byte-trivial at every measured decade (map-side partial count + the
    * minShared survivors being ~linear in docs). */
  private def pairsOverIndex(docH: DataFrame, minShared: Int,
                             maxDocFreq: Int, distinctNeeded: Boolean): DataFrame = {
    // bytes-sized width ([[graft.core.Widths]]): the h-exchange carries the
    // whole index, and the session width a fixture-scale user runs with
    // would put GBs through each window sort at the 4th decade. Expansion
    // model: one (doc, h) row ≈ 24 B per selected gram, ~2 selected grams
    // per 5·(w+1)/2 chars — ~10× the document bytes at the default
    // densities the estimate reports (Generate passes child stats through)
    val nPart = graft.core.Widths.forExchange(docH, expansion = 10.0)
    val byH0 = docH.repartition(nPart, col("h"))
    val byH = if (distinctNeeded) byH0.dropDuplicates("doc", "h") else byH0
    val capped = byH
      .withColumn("_df", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("_df") >= 2 &&
        (if (maxDocFreq == Int.MaxValue) lit(true) else col("_df") <= maxDocFreq))
      .drop("_df")
    val ix = org.apache.spark.sql.GraftCheckpoint.localCheckpointAdvertised(
      capped, Seq("h"),
      org.apache.spark.storage.StorageLevel.DISK_ONLY, nPart)
    ix.as("a").hint("shuffle_hash").join(ix.as("b"),
        col("a.h") === col("b.h") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Pin threshold for the row-exploding band self-joins, in banded rows per
    * shuffle partition. Above it, AQE's byte-based post-shuffle coalescing
    * would funnel a join whose OUTPUT vastly exceeds its input onto a few
    * tasks — the explicit full-width repartition prevents that. Below it the
    * input is so small that a dedicated exchange costs more than it saves
    * (the round-4 doc_minhash_lsh regression: an unconditional pin nearly
    * doubled a 5k-doc query). At cluster scale (1e9 docs × bands) the gate
    * always engages. */
  val PinRowsPerPartition = 4096L

  /** Full-width repartition on the candidate-join key, gated on estimated
    * banded-row volume (see [[PinRowsPerPartition]]); width sized from the
    * known banded-row count ([[graft.core.Widths.forRows]] — ~28 B of
    * (doc, band, band_hash) per row, session width as the floor). */
  private def pinIfExploding(df: DataFrame, rows: Long, key: Seq[Column]): DataFrame = {
    val session = df.sparkSession.sessionState.conf.numShufflePartitions
    if (rows >= PinRowsPerPartition * session)
      df.repartition(graft.core.Widths.forRows(df.sparkSession, rows, 28L), key: _*)
    else df
  }

  /** MinHash prime modulus (2^31 − 1) and deterministic hash-family params:
    * h_i(x) = (a_i·x + b_i) mod P with a_i odd, b_i pseudo-random fixed. */
  val P = 2147483647L
  def aCoef(i: Int): Long = 2L * i + 1
  def bCoef(i: Int): Long = (7919L * (i + 1)) % P

  /** MinHash signatures: k portable hash functions over 32-bit shingle
    * hashes. Output: (doc, sig: array<long> of length k). One aggregation —
    * the explode×k happens inside a column expression, not as rows. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame = {
    val sh = shingles(df, idCol, textCol, n)
      .withColumn("x", TextOps.hash32(col("shingle")))
    val mins = (0 until k).map { i =>
      min(pmod(col("x") * aCoef(i) + bCoef(i), lit(P))).as(s"m$i")
    }
    sh.groupBy("doc").agg(mins.head, mins.tail: _*)
      .select(col("doc"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** MinHash-LSH design point the auto geometry holds: near-duplicates at
    * jaccard ≥ [[DesignSim]] are recalled with probability ≥
    * [[DesignRecall]] whatever rows-per-band the corpus size demands.
    * 0.985 is the MEASURED 4th-decade operating point (r=8 × 4 bands:
    * recall 1−(1−0.95⁸)⁴ = 0.987, SURVEY §2.9.9) — so the auto geometry
    * reproduces the validated configuration exactly at 2×10⁷ docs instead
    * of inventing an unmeasured wider one. */
  val DesignSim = 0.95
  val DesignRecall = 0.985

  /** Rows per band for an n-doc corpus: `max(4, ⌈4·log₁₀(n/2×10⁵)⌉)` —
    * "+4 rows per decade past 2×10⁵ docs", anchored at the two measured
    * operating points (SURVEY §2.9.9: r=4 holds through 2×10⁶ docs; at
    * 2×10⁷ it rots 19.3×/decade from background band collisions while r=8
    * holds 9.3×). Background collision probability per band is j_bg^r, so
    * +4 rows per decade keeps n·j_bg^r flat at the fixture's measured
    * background agreement (j_bg ≈ 0.56 = 10^(-1/4)) — the n^(1+ρ)
    * tradeoff as a concrete sizing law, same fixed-parameter-rot fix
    * class as the E2LSH ⌈log₂ n⌉+5 bands ([[graft.models.BlockedVar]])
    * and the self-sizing decontamination Bloom filter. */
  def autoRows(nDocs: Long): Int =
    math.max(4, math.ceil(4.0 * math.log10(math.max(1L, nDocs) / 2e5)).toInt)

  /** Band count holding the ([[DesignSim]], [[DesignRecall]]) design point
    * at `r` rows per band: recall = 1−(1−s^r)^b ≥ target ⇔
    * b ≥ ln(1−target)/ln(1−s^r); floored at 4 (the shipped geometry, so
    * sub-2×10⁶ corpora keep their exact historical candidates). */
  def autoBands(r: Int, s: Double = DesignSim, recall: Double = DesignRecall): Int = {
    val pBand = math.pow(s, r)
    math.max(4, math.ceil(math.log1p(-recall) / math.log1p(-pBand)).toInt)
  }

  /** LSH banding: split the k-long signature into `bands` bands of k/bands
    * rows; docs sharing any band hash become candidate pairs; est_jaccard =
    * fraction of matching signature positions.
    *
    * GEOMETRY IS CORPUS-SIZE-DEPENDENT and auto-sizes by default
    * (k = bands ≤ 0): one cheap count over the corpus derives rows-per-band
    * via [[autoRows]] and the band count via [[autoBands]] — the round-10
    * decade table showed the former fixed r=4 default silently going
    * 19.3×/decade at 2×10⁷ docs while r=8 held 9.3× at ~0.99 recall for
    * 0.95-jaccard near-dups. Explicit k/bands arguments pin a geometry
    * (fixed-size experiments, replaying a historical run): the measured
    * r=8 4th-decade geometry is `k = 40, bands = 5`. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, k: Int = -1, bands: Int = -1): DataFrame = {
    val (kEff, bandsEff) =
      if (k > 0) (k, if (bands > 0) bands else 4)
      else {
        // the count is the sizing input (metadata-cheap on a parquet
        // lake); everything downstream is a pure function of (r, b)
        val r = autoRows(df.count())
        val b = if (bands > 0) bands else autoBands(r)
        (r * b, b)
      }
    minhashCandidatesExplicit(df, idCol, textCol, n, kEff, bandsEff)
  }

  /** Signature count AT OR ABOVE which [[minhashCandidates]] prunes the
    * join-back signature frame to candidate docs (Bloom prefilter); below
    * it the direct two-join plan runs. */
  val PruneSignatures = 1000000L

  /** [[minhashCandidates]] at a pinned (k, bands) geometry. `pruneAt`
    * exists so specs can reach the pruned plan on a fixture-size corpus. */
  private[graft] def minhashCandidatesExplicit(df: DataFrame, idCol: String,
                                               textCol: String, n: Int, k: Int,
                                               bands: Int,
                                               pruneAt: Long = PruneSignatures): DataFrame = {
    val r = k / bands
    // materialized (not cache()): both join sides read the same RDD blocks,
    // and the ContextCleaner releases them when the frame goes out of scope
    // (the sig.count() below is the materializing action)
    val sig = minhashSignatures(df, idCol, textCol, n, k).localCheckpoint(false)
    // the banded exchange is NARROW — (doc, band, band_hash) only. Carrying
    // the k-long signature through the self-join costs bands× the signature
    // volume (13.8 of the 20 GB the 2×10⁷ r=8 point shuffled); candidates
    // are ~linear in docs, so the signatures join back onto the (small)
    // candidate set instead, and both join-backs read the SAME checkpointed
    // blocks.
    val nSig = sig.count()
    val banded0 = sig.select(col("doc"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws("_", slice(col("sig"), b * r + 1, lit(r)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    val banded = pinIfExploding(banded0, nSig * bands,
      Seq(col("band"), col("band_hash")))
    val cand0 = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash")
          && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    // Past ~10⁶ docs the un-pruned join-backs are the dominant cost: at
    // 2×10⁷ (4 bands) the narrow exchange saved 13.8 GB of banded shuffle
    // write but the two sort-merge joins over ALL 20M signatures spent it
    // back in CPU (task core-sec 15.7k wide → 19.4k joined-back, wall
    // 501 → 624 s). Candidates are ~linear in docs and usually touch a
    // small doc subset, so prune the signature frame FIRST with a Bloom
    // filter over the candidate doc ids (the decontamination pattern:
    // scalar-subquery blob, no driver collect; false positives only leave
    // a few extra signatures that the inner join-backs drop, so the result
    // is value-identical at any FPP). Below the gate the signature frame
    // is at most a few hundred MB and the prune's extra driver-sequenced
    // jobs cost more than they save — small corpora keep the direct plan
    // (and their pinned stage counts).
    val (cand, sigJb) = if (nSig < pruneAt) (cand0, sig) else {
      val candC = cand0.localCheckpoint(false)
      // materialize at full width BEFORE the coalesced bloom build below:
      // a lazy checkpoint first touched through a coalesce(32) would run
      // the whole post-shuffle distinct + block caching inside 32 fat
      // tasks (OOM'd at the 4th decade); the count also right-sizes the
      // filter to the real candidate volume
      val nCand = candC.count()
      val items = math.max(1L, math.min(nSig, 2L * nCand))
      val bits = math.max(1L << 23, 10L * items)
      if (bits > (1L << 27)) {
        // the 16 MB bit cap would hold ~13M items at 10 bits each; past it
        // the FPP degrades toward 1 and the prune pays its filter build +
        // probe scan + extra checkpoint while dropping almost nothing —
        // fall back to the direct two-join plan (value-identical either
        // way; the filter is only ever a performance device)
        df.sparkSession.sparkContext.setLocalProperty("graft.minhash.prune",
          "skipped-degenerate")
        (candC, sig)
      } else {
        // Build the filter over the candidate docs' 64-bit hashes with the
        // partial-count COALESCED first and the result BROADCAST: a wide
        // aggregate would ship one partial bitmap per input partition into a
        // single-core OR-merge (8000 sized partitions × 16 MB at the 4th
        // decade), and a scalar-subquery literal would be deserialized by
        // every probe task. The explode is NOT distinct'd — bloom insertion
        // is idempotent, so the extra shuffle buys nothing.
        val bf = candC
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc"))
          .select(xxhash64(col("doc")).as("h"))
          .coalesce(32)
          .stat.bloomFilter("h", items, bits)
        val bc = df.sparkSession.sparkContext.broadcast(bf)
        val pruned = sig
          .filter(graft.functions.BloomProbe.mightContainLong(
            xxhash64(col("doc")), bc))
          .localCheckpoint(false)
        // materialize the pruned frame NOW: the two join-backs below are
        // separate branches, and if AQE submits both map stages before the
        // lazy checkpoint's first compute finishes, the probe filter races
        // its own cache and can run twice (sig/candC get the same eager
        // treatment). Once the blocks exist the broadcast is never probed
        // again — the checkpoint truncates lineage, so recompute-after-
        // block-loss is already fatal with or without the filter — so the
        // executor copies of the blob are released NOW instead of waiting
        // out the ContextCleaner. unpersist, not destroy: the checkpointed
        // RDD's serialized form still carries the (never re-read) handle,
        // and a destroyed broadcast fails downstream task serialization
        // outright.
        pruned.count()
        bc.unpersist()
        (candC, pruned)
      }
    }
    cand
      .join(sigJb.select(col("doc").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigJb.select(col("doc").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, z) => acc + z)
          .cast("double") / k)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Every length-`minTokens` token window start per document:
    * `(doc, pos, h)` with 1-based `pos` and `h` = 60-bit md5-prefix
    * fingerprint ([[TextOps.fingerprint64]]) of the window's tokens joined
    * by `_`. NOT distinct — the same window text occurring at two positions
    * yields two rows, because span semantics are positional. A LONG key
    * (not the md5 hex) keeps the downstream shuffle sorts on 8-byte values;
    * since both engines derive the same fingerprint, its (negligible)
    * collision classes are identical on both sides, so oracle hashes still
    * match exactly. The window build is a pure array expression (one scan,
    * codegen); rows are ~one per token, the inherent cost of
    * substring-level dedup. */
  private[graft] def spanStarts(df: DataFrame, idCol: String,
                                textCol: String, minTokens: Int): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val starts = when(size(toks) >= minTokens,
      transform(sequence(lit(1), size(toks) - (minTokens - 1)),
        p => struct(p.as("pos"),
          TextOps.fingerprint64(concat_ws("_", slice(toks, p, lit(minTokens)))).as("h"))))
      .otherwise(array().cast("array<struct<pos:int,h:bigint>>"))
    df.select(col(idCol).as("doc"), explode(starts).as("s"))
      .select(col("doc"), col("s.pos").as("pos"), col("s.h").as("h"))
  }

  /** Maximal duplicated token spans (exact-substring dedup, the
    * "deduplicating training data" diagnostic): every maximal CONTIGUOUS run
    * of token positions covered by some length-`minTokens` window occurring
    * ≥ `minOccurrences` times corpus-wide (with multiplicity — a within-doc
    * repeat counts). Output `(doc, span_start, span_len)`, 1-based token
    * positions. Duplicated starts merge into one span whenever their
    * coverage intervals OVERLAP (start gap < `minTokens`), so spans never
    * overlap and `span_len` sums are exactly the distinct covered-token
    * count — what [[graft.Corpus.spanDupProfile]]'s `dup_tokens` relies
    * on. Exactly-adjacent coverage (gap = `minTokens`, the period-aligned
    * repeat) stays two spans: disjoint, so sums remain exact.
    *
    * Shape: one shuffle keyed by window hash (a count window — no self-join,
    * so a hot window costs a count, never a pair fan-out), then one shuffle
    * keyed by doc for the gaps-and-islands merge of duplicated starts into
    * maximal spans. Both linear in token count — the scale contrast with
    * suffix-array constructions that need global sorts. */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               minTokens: Int, minOccurrences: Int = 2): DataFrame = {
    // Window-hash rows exchanged on h ONCE and materialized as a KEYED
    // lazy DISK_ONLY checkpoint ([[jaccardPairs]] pattern +
    // [[org.apache.spark.sql.GraftCheckpoint]]'s re-advertised hash(h)
    // distribution), feeding both the count aggregate and the probe join
    // from the same hash-partitioned blocks with ZERO further exchanges.
    // Three problems die together: (a) the aggregate plans in COMPLETE
    // mode — window hashes are ~unique, so a map-side partial aggregate
    // combines nothing yet builds a per-task hash map over every distinct
    // key, and at the 2×10⁶-doc point (fat 3M-key map tasks) that map
    // outgrew the task execution share and spilled 7.5 GB against 0.7 GB
    // of shuffle; (b) over a persisted input the probe join cannot reuse
    // the aggregate's exchange (AQE's cached-relation reuse failure), so
    // without the checkpoint the explode lineage + exchange run twice;
    // (c) a plain checkpoint CREATED under AQE advertises no partitioning
    // (round-11 find), which cost an h-only aggregate-input re-exchange
    // at EVERY scale (~20% of the op's bytes) and, past the broadcast
    // gate, a full-width probe re-exchange (8.1 GB at 2×10⁷). A hot
    // window still costs a counter, not a buffered partition: it
    // collapses inside the ONE final aggregate task that owns its key
    // (vs a count WINDOW, which buffers the hot key's rows in one task).
    // Width sized from the window-row byte estimate ([[graft.core.Widths]]
    // — one 28 B (doc, pos, h) row per corpus token at ~5 chars/token ≈
    // 5.6× the document bytes the Generate-blind estimate reports;
    // session width floors at fixture scale).
    val starts = spanStarts(df, idCol, textCol, minTokens)
    val st = org.apache.spark.sql.GraftCheckpoint.localCheckpointHashed(
      starts, Seq("h"),
      org.apache.spark.storage.StorageLevel.DISK_ONLY,
      graft.core.Widths.forExchange(starts, expansion = 5.6,
        targetPartitionBytes = graft.core.Widths.AggTargetPartitionBytes))
    val dupH = st.groupBy("h").agg(count(lit(1)).as("_cnt"))
      .filter(col("_cnt") >= minOccurrences).select("h")
    // tiny for real corpora → size-gated broadcast keeps the probe
    // shuffle-free; past the gate the fallback is a shuffled HASH join
    // (never sort-merge: the probe is one row per corpus token, and both
    // its exchange — already partitioned by h — and the build's collapse
    // into ReusedExchange on the parquet path)
    val dup = st.join(graft.core.Joins.maybeBroadcastElseHash(dupH), Seq("h"), "left_semi")
    // gaps-and-islands on COVERAGE: a start at pos covers [pos, pos+m−1], so
    // starts p, q (p<q) overlap iff q − p < m. Both window functions use the
    // same (doc, pos) spec → one shuffle + sort.
    val w = Window.partitionBy("doc").orderBy("pos")
    val isl = dup
      .withColumn("_brk",
        when(col("pos") - lag("pos", 1).over(w) >= minTokens, 1).otherwise(0))
      .withColumn("_grp", sum("_brk").over(w))
    isl.groupBy(col("doc"), col("_grp"))
      .agg(min("pos").as("span_start"),
        (max("pos") - min("pos") + minTokens).cast("long").as("span_len"))
      .select(col("doc"), col("span_start"), col("span_len"))
  }

  /** Remove duplicated spans, keeping each span's FIRST corpus occurrence
    * (ordered by (doc, pos)): every non-canonical duplicated window start
    * marks its `minTokens` positions covered; covered tokens are dropped and
    * the text rebuilt from the survivors. Docs shorter than `minTokens`
    * tokens pass through untouched. The cut is GREEDY per position: a
    * window's canonical occurrence is exempt from its OWN coverage, but when
    * it happens to sit inside the non-canonical coverage span of a different
    * duplicated window in the same doc, those positions are still cut — in
    * that (rare, nested-duplication) shape a window can end with zero
    * surviving copies corpus-wide. Ordinary duplication keeps exactly one.
    *
    * The coverage spans collapse to a tiny per-doc array (maximal merged
    * intervals), so the rebuild is a doc-level join + one array expression —
    * token rows never shuffle a second time. */
  def stripDupSpans(df: DataFrame, idCol: String, textCol: String,
                    minTokens: Int): DataFrame = {
    // spans-side rows carry an underscore-prefixed doc key so the final
    // drop can never collide with a caller column literally named "doc"
    // (DataFrame.drop-by-name removes EVERY column with that name)
    // exchanged on h once into a keyed checkpoint, for the same reasons
    // as [[dupSpans]]: the aggregate plans COMPLETE (no uncombining
    // partial hash map to spill) and both it and the probe join consume
    // the same materialized blocks with no re-exchange
    val starts = spanStarts(df, idCol, textCol, minTokens)
      .withColumnRenamed("doc", "_sds_doc")
    val st = org.apache.spark.sql.GraftCheckpoint.localCheckpointHashed(
      starts, Seq("h"),
      org.apache.spark.storage.StorageLevel.DISK_ONLY,
      graft.core.Widths.forExchange(starts, expansion = 5.6,
        targetPartitionBytes = graft.core.Widths.AggTargetPartitionBytes))
    // per duplicated window: its canonical (first) occurrence — the same
    // hot-key-immune aggregate + gated-broadcast shape as [[dupSpans]];
    // struct min is lexicographic (doc, pos), i.e. corpus order
    val canon = st.groupBy("h")
      .agg(count(lit(1)).as("_cnt"),
        min(struct(col("_sds_doc"), col("pos"))).as("_c"))
      .filter(col("_cnt") >= 2)
      .select(col("h"), col("_c._sds_doc").as("_cdoc"), col("_c.pos").as("_cpos"))
    val ncs = st.join(graft.core.Joins.maybeBroadcastElseHash(canon), Seq("h"))
      .filter(!(col("_sds_doc") === col("_cdoc") && col("pos") === col("_cpos")))
    val spans = ncs
      .withColumn("_grp",
        col("pos") - row_number().over(Window.partitionBy("_sds_doc").orderBy("pos")))
      .groupBy(col("_sds_doc"), col("_grp"))
      .agg(min("pos").as("s"), (max("pos") + lit(minTokens - 1)).as("e"))
      .groupBy("_sds_doc")
      .agg(collect_list(struct(col("s"), col("e"))).as("_spans"))
    // tokens materialize into a column first: referencing the split
    // EXPRESSION inside the rebuild lambda would re-split the text once per
    // element (O(n²) chars/row); a bound column is an O(1) array read
    val kept = filter(col("_toks"), (t, i) =>
      !exists(col("_spans"), sp => i + 1 >= sp("s") && i + 1 <= sp("e")))
    df.join(spans, df(idCol) === spans("_sds_doc"), "left")
      .withColumn("_toks", TextOps.tokens(col(textCol)))
      .withColumn(textCol,
        when(col("_spans").isNull, col(textCol))
          .otherwise(concat_ws(" ", kept)))
      .drop("_sds_doc", "_spans", "_toks")
  }

  /** 32-bit SimHash: per bit j, sum ±1 over token hashes (with multiplicity);
    * bit set iff the sum is positive. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("doc"),
        explode(TextOps.tokens(col(textCol))).as("t"))
      .withColumn("h", TextOps.hash32(col("t")))
    val bitSums = (0 until 32).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(1) * 2 - 1).as(s"s$j")
    }
    tok.groupBy("doc").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc"),
        (0 until 32).map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce((x, y) => x + y).as("simhash"))
  }

  /** Near-duplicate pairs by Hamming distance ≤ `maxDist` over a 64-bit
    * signature held as two NON-NEGATIVE 32-bit words (hi = bits 63..32,
    * lo = bits 31..0) — the carrier
    * [[graft.operators.Multimodal.imageDHash]] emits (split words keep
    * every value a plain small BIGINT on any engine; a packed 64-bit
    * value goes negative past bit 62 and sign semantics diverge). Same
    * pigeonhole band-blocking as [[simhashPairs]]: `maxDist + 1` bands
    * over the global bit range, so a pair within the distance agrees
    * exactly on ≥ 1 band and the equi-join on (band, band_val) generates
    * every true pair; exact bit_count re-check filters. A band straddling
    * the word boundary assembles from both words with non-negative
    * shift/mask/add only, so a SQL oracle replays band values with plain
    * integer arithmetic. Null words (undecodable payloads upstream) are
    * excluded — they have no pixel signal to pair on. */
  def hammingPairs64(sig: DataFrame, docCol: String, hiCol: String,
                     loCol: String, maxDist: Int): DataFrame = {
    val bands = maxDist + 1
    require(bands >= 2 && bands <= 64, "maxDist must be in [1, 63]")
    val sh = sig.filter(col(hiCol).isNotNull && col(loCol).isNotNull)
      .select(col(docCol).as("doc"), col(hiCol).cast("long").as("_hi"),
        col(loCol).cast("long").as("_lo"))
      .localCheckpoint(false)
    def mask(n: Int): Long = if (n >= 63) Long.MaxValue else (1L << n) - 1
    val bandCols = (0 until bands).map { b =>
      val s = b * 64 / bands
      val e = (b + 1) * 64 / bands
      if (e <= 32)
        shiftrightunsigned(col("_lo"), s).bitwiseAND(lit(mask(e - s)))
      else if (s >= 32)
        shiftrightunsigned(col("_hi"), s - 32).bitwiseAND(lit(mask(e - s)))
      else // straddles the word boundary: low part from _lo, high from _hi
        shiftrightunsigned(col("_lo"), s).bitwiseAND(lit(mask(32 - s))) +
          col("_hi").bitwiseAND(lit(mask(e - 32))) * lit(1L << (32 - s))
    }
    val banded0 = sh.select(col("doc"), col("_hi"), col("_lo"),
        posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")
    val banded = pinIfExploding(banded0, sh.count() * bands,
      Seq(col("band"), col("band_val")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val")
          && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        (bit_count(col("a._hi").bitwiseXOR(col("b._hi"))) +
          bit_count(col("a._lo").bitwiseXOR(col("b._lo")))).cast("long").as("hamming"))
      .distinct() // pairs can share several bands
      .filter(col("hamming") <= maxDist)
  }

  /** Near-duplicate pairs by SimHash Hamming distance ≤ maxDist, via
    * pigeonhole band-blocking: split the 32 bits into (maxDist+1) bands —
    * any pair within Hamming ≤ maxDist differs in at most maxDist bands, so
    * it agrees EXACTLY on at least one band. Equi-join on (band, band_value)
    * generates all candidates (no cross join anywhere in the plan), then the
    * exact Hamming filter keeps true pairs. Output is identical to the
    * all-pairs definition; cost is one shuffle keyed by band value. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int): DataFrame = {
    val bands = maxDist + 1
    val bandCols = (0 until bands).map { b =>
      val lo = b * 32 / bands
      val hi = (b + 1) * 32 / bands
      shiftright(col("simhash"), lo).bitwiseAND(lit((1L << (hi - lo)) - 1))
    }
    // materialize the per-doc simhash table (small: one row per doc); the
    // banding below is a narrow projection over it, so both self-join sides
    // re-derive it without re-running the token aggregation, and the blocks
    // free themselves when the frame is unreferenced (vs the old permanent
    // cache())
    val sh = simhash(df, idCol, textCol).localCheckpoint(false)
    val banded0 = sh.select(col("doc"), col("simhash"),
        posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")
    // same exploding-join parallelism pin (and small-input gate) as
    // minhashCandidates
    val banded = pinIfExploding(banded0, sh.count() * bands,
      Seq(col("band"), col("band_val")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val")
          && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct() // pairs can share several bands
      .filter(col("hamming") <= maxDist)
  }
}
