package graft

import graft.obs.{RunDelta, RunRecorder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale proof-point for the by-series tier (not part of the driver's
  * per-round bench): runs the grouped meta-operators —
  * [[graft.models.GroupedOls.fitBySeries]],
  * [[graft.eval.AutoSelect.autoXvarSelectBySeries]],
  * [[graft.eval.AutoSelect.findSeasonalLengthBySeries]], and the
  * [[graft.models.BlockedVar]] approx-screen + blocked fit — at 10⁴ and
  * 10⁵ series and prints ONE JSON line with per-op walls and driver heap,
  * so the "holds at any series count" claims are measured, not argued.
  * Near-linear wall growth 10⁴→10⁵ + flat driver memory = the plans carry
  * no per-series driver state and no nSeries² stage.
  *
  * Narrowing knobs (how single curves get their extra decades without
  * re-running the whole battery): `SPARK_GRAFT_SCALE_OPS=a,b,c` keeps only
  * the named ops — a tier whose ops are all filtered out is skipped
  * entirely, input generation included; series sizes come from args,
  * corpus/events sizes from `SPARK_GRAFT_SCALE_DOCS` /
  * `SPARK_GRAFT_SCALE_EVENTS` (comma-separated counts).
  *
  * The fixture is generated, not salted from the 5 segment series: exact
  * copies of one segment would make every pair of the 10⁵ series a genuine
  * near-perfect correlation, turning the BlockedVar screen's output itself
  * quadratic — a degenerate input no real 10⁵-series panel resembles.
  * Instead each 5-series block gets one hash-noise driver and four
  * followers coupled to the driver's lag (the mv_screen_approx plant,
  * scaled), so couplings stay O(n) and the screen's recall work is the
  * realistic regime.
  */
object BenchScale {

  /** nSeries hash-noise series × nObs monthly points, with planted lag-1
    * couplings inside each block of 5 (driver sid%5==0; follower coupling
    * strengths ±1.0 / ±0.9). Pure column arithmetic — no joins, no UDFs. */
  def syntheticFrame(spark: SparkSession, nSeries: Long, nObs: Int): DataFrame = {
    def noise(sid: org.apache.spark.sql.Column, t: org.apache.spark.sql.Column,
              tag: String) =
      (pmod(xxhash64(concat_ws("_", sid, t, lit(tag))), lit(1000L))
        .cast("double") / 1000.0) - 0.5
    // constant ~3M rows per generated split, the same fixture-layout rule
    // as syntheticDocs: at the default 32 splits a 10⁷-series point put
    // 30M rows through EACH map task, and the per-task external sort's
    // multi-pass merge (spill ≈ full input, fixed 8 GB pool) grew the map
    // stage ×46 in core-sec for ×10 rows (stage-metrics probe, §2.9.12).
    // ≤10⁶ series the width stays 32, so lower decades keep their
    // measured layout exactly; a real lake scan has hundreds of splits.
    val nParts = math.max(32L, nSeries * nObs / 3000000L).toInt
    val base = spark.range(0, nSeries * nObs, 1, nParts)
      .select((col("id") / nObs).cast("long").as("_sid"),
        pmod(col("id"), lit(nObs.toLong)).as("_t"))
    val drv = col("_sid") - pmod(col("_sid"), lit(5L))
    val c = element_at(array(lit(0.0), lit(1.0), lit(-1.0), lit(0.9), lit(-0.9)),
      pmod(col("_sid"), lit(5L)).cast("int") + 1)
    base.select(
      concat(lit("s"), col("_sid")).as("series_id"),
      add_months(lit("2015-01-01").cast("date"), col("_t").cast("int")).as("ds"),
      (when(pmod(col("_sid"), lit(5L)) === 0, noise(col("_sid"), col("_t"), "d"))
        .otherwise(c * noise(drv, col("_t") - 1, "d")
          + lit(0.1) * noise(col("_sid"), col("_t"), "f"))).as("y"),
      lit(false).as("is_future"))
  }

  /** Synthetic corpus with planted duplicate structure: 50 hash-drawn words
    * per doc from a 500-word vocab; every doc_id%10==5 is an EXACT copy of
    * its predecessor, every doc_id%10==9 a NEAR copy (49 shared words + one
    * changed) — so the dedup tiers have genuine O(n) pair work at any n,
    * never the degenerate all-alike corpus whose pair output is itself
    * quadratic. Pure column arithmetic, no joins/UDFs. */
  def syntheticDocs(spark: SparkSession, nDocs: Long): DataFrame = {
    // 500 words — every historical decade ran at this vocabulary
    val vocab = 500L
    // constant ~62.5K docs per generated partition (the regime every
    // measured decade ran in: 2M docs over the default 32 range splits).
    // At 2×10⁷ the default 32 splits put 31M exploded shingle rows
    // through each map task and the 4th-decade jaccard OOM'd in the
    // shuffle writer; a real 20M-doc lake scan has hundreds of splits,
    // so holding rows/split constant is the honest layout. ≤2M docs the
    // width stays 32 — lower decades keep their measured layout exactly.
    val nParts = math.max(32L, nDocs / 62500L).toInt
    val base = spark.range(0, nDocs, 1, nParts).select(col("id").as("doc_id"))
    val srcBase = when(pmod(col("doc_id"), lit(10L)).isin(5L, 9L), col("doc_id") - 1)
      .otherwise(col("doc_id"))
    val words = transform(sequence(lit(0), lit(49)), i =>
      concat(lit("w"), pmod(xxhash64(concat_ws("_", srcBase, i)), lit(vocab)).cast("string")))
    val text = array_join(
      when(pmod(col("doc_id"), lit(10L)) === 9,
        concat(slice(words, 1, 49), array(lit("wdup")))).otherwise(words), " ")
    base.select(col("doc_id"), text.as("text"))
  }

  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.envCpus(32)
    val spark = GraftSession.local(cpus, extraConf = Seq(
      // past the 200-partition bypass threshold the map side switches to
      // the serialized sort writer — at ≤125K rows/task that in-memory
      // sort is a few MB, while the bypass (hash) writer would open
      // numPartitions files PER concurrent task (768×32 ≈ 25K > the 20K
      // fd ulimit). Keep the default threshold: small points stay bypass,
      // sized big points stay under the fd limit.
      // inputs are persisted DISK_ONLY (below), so the storage pool is
      // idle — keep its protected share minimal and hand the unified
      // pool to the sorts/aggs that actually need it
      "spark.memory.storageFraction" -> "0.2",
      // sizePartitions (below) is the experiment's independent variable:
      // AQE's coalescer re-merges the sized shuffles back to its 64 MB
      // advisory chunks (64 MB COMPRESSED ≈ 400 MB in a window sort —
      // ~20 effective partitions at the 10⁶ point, which is where the
      // run-to-run spill/OOM came from), silently overriding the knob.
      // Skew handling stays on; only the coalescer is pinned off.
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false"))
    // executor metrics, per-stage rows and the §2.9.12 segment-law
    // detectors (stage view + plan view), attributed per op by a bus drain
    val rec = RunRecorder.install(spark)
    spark.range(1000).selectExpr("sum(id)").collect() // JVM warmup
    val nObs = 96
    val sizes = if (args.nonEmpty) args.map(_.toLong).toSeq
                else Seq(10000L, 100000L)
    def usedMb: Long = {
      System.gc()
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) >> 20
    }
    val onlyOps: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_SCALE_OPS").map(_.split(",").map(_.trim).toSet)
    def keep(ops: Seq[(String, DataFrame => Unit)]) =
      ops.filter { case (k, _) => onlyOps.forall(_.contains(k)) }
    def envSizes(name: String, dflt: Seq[Long], active: Boolean): Seq[Long] =
      if (!active) Seq.empty
      else sys.env.get(name).map(_.split(",").map(_.trim.toLong).toSeq).getOrElse(dflt)
    /** Time each kept op through the recorder: per-op executor-side
      * attribution (task/cpu/gc time, shuffle read/write, MEMORY/DISK
      * SPILL) names a super-linear wall's bottleneck from the record
      * (task_sec ≫ wall·cores ⇒ core saturation; spill_disk ≫ 0 ⇒ the
      * shuffle outgrew executor memory; neither ⇒ scheduler/plan), and the
      * per-STAGE rows name the exact plan node family (the stage's
      * callsite) that spilled. Incremental stderr record per op (a later
      * op dying — e.g. disk-full at the 10⁶ tier — must not lose completed
      * timings), plus a GC nudge so the ContextCleaner frees the finished
      * op's dereferenced shuffle files before the next op's spill peak. */
    def measure(ops: Seq[(String, DataFrame => Unit)], frame: DataFrame,
                tag: String, n: Long,
                setWidth: String => Unit = _ => ()): Seq[(String, RunDelta)] =
      ops.map { case (k, f) =>
        setWidth(k)
        val (_, d) = rec.measure(f(frame))
        d.stageRows.sortBy(_.stageId).foreach { r =>
          val w = r.work
          System.err.println(s"[stage] op=$k stage=${r.stageId} task_sec=${w.taskMs / 1000} " +
            s"sw_mb=${w.shuffleWrite >> 20} sr_mb=${w.shuffleRead >> 20} " +
            s"spill_mem_mb=${w.spillMem >> 20} spill_disk_mb=${w.spillDisk >> 20} " +
            s"cpu_sec=${w.cpuMs / 1000} gc_sec=${w.gcMs / 1000} " +
            s"swr=${w.writeRecords} srr=${w.readRecords}  ${r.name}")
        }
        System.err.println(s"[bench_scale] op $k $tag=$n ${RunRecorder.f3(d.sec)}s ${d.json()}")
        System.gc()
        k -> d
      }
    def jsonLine(head: String, ops: Seq[(String, RunDelta)]): String = {
      // local[n] hosts the executor block store in the same JVM, so heap
      // after the ops is dominated by the (deliberately) checkpointed input
      // and operator checkpoints — executor-side storage on a real cluster.
      // Unpersist everything first so the number read is DRIVER state.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val mem = usedMb
      // per-op attribution rides in a parallel object so the plain "ops"
      // second-per-op shape every prior BENCH_SCALE point uses stays stable
      val line = s"""{$head,"ops":${RunRecorder.obj(ops.map { case (k, d) => k -> d.sec })},""" +
        s""""ops_metrics":${RunRecorder.obj(ops.map { case (k, d) => k -> d.json() })},"driver_used_mb":$mem}"""
      System.err.println(s"[bench_scale] $line")
      line
    }

    import graft.functions.FeatureOps
    val seriesOps: Seq[(String, DataFrame => Unit)] = Seq(
      "fit_by_series" -> (frame => GroupedOlsRun.run(frame)),
      "seasonal_length_by_series" -> (frame =>
        graft.eval.AutoSelect.findSeasonalLengthBySeries(frame)
          .write.mode("overwrite").format("noop").save()),
      "auto_xvar_by_series" -> (frame =>
        graft.eval.AutoSelect.autoXvarSelectBySeries(frame)
          .write.mode("overwrite").format("noop").save()),
      "svr_by_series" -> (frame =>
        graft.models.Svr.fitPredictBySeries(
            FeatureOps.addTimeTrend(frame), Seq("t"), maxSweeps = 100)
          .write.mode("overwrite").format("noop").save()),
      // the reference's CI contract at the by-series tier: grouped OLS
      // point forecasts + one exact-percentile width per series
      "conformal_by_series" -> { frame =>
        val flagged = graft.core.SeriesFrame.withTestFlag(
          FeatureOps.addTimeTrend(frame), 12)
        graft.operators.Conformal.attachBySeries(flagged,
            graft.models.GroupedOls.fitPredictBySeries(flagged, Seq("t")))
          .write.mode("overwrite").format("noop").save()
      },
      "mlp_by_series" -> (frame =>
        graft.models.MlpNet.fitPredictBySeries(
            FeatureOps.addTimeTrend(frame), Seq("t"), hidden = 4, maxIter = 60)
          .write.mode("overwrite").format("noop").save()),
      "rnn_by_series" -> (frame =>
        graft.models.RnnNet.fitPredictBySeries(
            FeatureOps.addArTerms(frame, 2), Seq("ar_1", "ar_2"),
            "rnn", width = 3, units = 4, maxIter = 40)
          .write.mode("overwrite").format("noop").save()),
      "blockedvar_screen_fit" -> { frame =>
        val block = graft.models.BlockedVar.screenApprox(frame,
          maxSources = 2, minAbsCorr = 0.6, profileWindow = 64)
          .localCheckpoint(true)
        val (fits, _) = graft.models.BlockedVar.fitWithBlock(frame, block,
          maxLag = 1, maxSources = 2)
        fits.write.mode("overwrite").format("noop").save()
      })

    // corpus tier: same 10× growth discipline over the dedup operators
    val corpusOps: Seq[(String, DataFrame => Unit)] = {
      import graft.operators.Dedup
      Seq(
        "dedup_exact" -> (docs =>
          Dedup.exactGroups(docs, "doc_id", "text")
            .write.mode("overwrite").format("noop").save()),
        "jaccard_pairs" -> (docs =>
          Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8, 100)
            .write.mode("overwrite").format("noop").save()),
        "minhash_lsh" -> (docs =>
          Dedup.minhashCandidates(docs, "doc_id", "text")
            .write.mode("overwrite").format("noop").save()),
        // the default geometry (k=16, 4 bands, r=4) rots at the 4th decade:
        // band-collision FALSE candidates grow with shingle-space
        // saturation (measured 19x/decade at 2x10^7). r=8 (k=32, 4 bands)
        // drops per-band collision from s^4 to s^8 — background pairs
        // vanish while 0.95-jaccard near-dups keep ~0.99 recall
        // (1-(1-s^8)^4). LSH geometry is corpus-size-dependent; this op
        // measures the rescaled curve beside the rotted default.
        "minhash_lsh_r8" -> (docs =>
          Dedup.minhashCandidates(docs, "doc_id", "text", n = 3, k = 32,
              bands = 4)
            .write.mode("overwrite").format("noop").save()),
        "fingerprint_pairs" -> (docs =>
          Dedup.fingerprintPairs(docs, "doc_id", "text",
            minShared = 20, maxDocFreq = 100)
            .write.mode("overwrite").format("noop").save()),
        // same n²/|space| pair-enumeration law as minhash's band rot,
        // same class of fix: coarsen the winnow window (w 4 → 12 cuts
        // fingerprint density ~3×, background pairs ~9×) at the cost of
        // the MOSS guarantee coarsening to shared runs ≥ k+w-1 = 19
        // tokens; minShared rescales with density. Operating points are
        // corpus-size-dependent — measured beside the fixed-w curve.
        "fingerprint_pairs_w12" -> (docs =>
          Dedup.fingerprintPairs(docs, "doc_id", "text", k = 8, w = 12,
            minShared = 7, maxDocFreq = 100)
            .write.mode("overwrite").format("noop").save()),
        // substring-level dedup: the count-window + islands shape must stay
        // linear in token volume (docs here share 50-token bodies, so the
        // planted copies carry genuine long duplicated runs)
        "dup_spans" -> (docs =>
          Dedup.dupSpans(docs, "doc_id", "text", 8)
            .write.mode("overwrite").format("noop").save()),
        "strip_spans" -> (docs =>
          Dedup.stripDupSpans(docs, "doc_id", "text", 8)
            .write.mode("overwrite").format("noop").save()),
        "cc_clusters" -> (docs =>
          graft.operators.Graph.connectedComponents(
            Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8, 100)
              .select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
            .write.mode("overwrite").format("noop").save()),
        // the ≥4th-decade near-dup cluster path: exact jaccard pair
        // generation follows the n²/|shingle-space| law once the 3-gram
        // space saturates (measured: the 2×10⁷ run projects ~500 GB of
        // pairs), so clustering rides the LINEAR minhash-LSH candidates
        // instead — same CC machinery, banded candidate edges at est ≥ 0.8
        "cc_clusters_lsh" -> (docs =>
          graft.operators.Graph.connectedComponents(
            Dedup.minhashCandidates(docs, "doc_id", "text", n = 3, k = 32,
                bands = 4)
              .filter(col("est_jaccard") >= 0.8)
              .select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
            .write.mode("overwrite").format("noop").save()),
        // Kneser-Ney trigram LM fit on the corpus, scored on a ~1% slice
        // (the quality-filter deployment shape): the model tables are one
        // explode + aggregation tree over the corpus (n-gram counts ->
        // prefix mass / type tables), scoring is slim LEFT equi-joins —
        // the whole op must stay ~linear in corpus token volume
        "kn_perplexity" -> (docs =>
          graft.functions.TextOps.knPerplexity(docs,
            docs.filter(pmod(col("doc_id"), lit(101L)) === 7), "doc_id")
            .write.mode("overwrite").format("noop").save()),
        // NB quality classifier in its deployment shape: train on a ~1%
        // LABELED reference slice (labels are the expensive input), score
        // the FULL corpus. The model table is bounded at `buckets` rows by
        // the hashing trick, so the score side must stay one broadcast
        // join + per-doc combine — the op's law is linear in corpus tokens
        "nb_classifier" -> (docs =>
          graft.operators.Quality.nbClassifier(
            docs.filter(pmod(col("doc_id"), lit(101L)) === 7)
              .withColumn("g", pmod(col("doc_id"), lit(2L)) === 0),
            docs, "doc_id", "g")
            .write.mode("overwrite").format("noop").save()),
        // BPE vocab training, 8 merges: one corpus scan to the word-TYPE
        // table (501 types on this fixture at any n), then 8 bounded
        // aggregate+rewrite rounds — the law is the scan, rounds ~flat
        "bpe_vocab" -> (docs =>
          graft.operators.Bpe.trainVocab(docs, "text", merges = 8)
            .write.mode("overwrite").format("noop").save()),
        // decontamination vs a ~1% benchmark slice: the exact inverted
        // index shuffles EVERY train shingle; the bloom path must show the
        // prefilter paying for itself as train volume grows
        "decontam_exact" -> (docs =>
          graft.operators.Decontaminate.contaminatedPairs(docs,
            docs.filter(pmod(col("doc_id"), lit(101L)) === 7),
            "doc_id", "text", 3, 0.5)
            .write.mode("overwrite").format("noop").save()),
        "decontam_bloom" -> (docs =>
          graft.operators.Decontaminate.contaminatedPairsBloom(docs,
            docs.filter(pmod(col("doc_id"), lit(101L)) === 7),
            "doc_id", "text", 3, 0.5)
            .write.mode("overwrite").format("noop").save()))
    }

    // events tier: the behavioral facade's windowed/stateful shapes, so the
    // "holds at any fact size" claims for sessionize/funnel/top-k/KMV are
    // measured like the other two tiers
    val eventOps: Seq[(String, DataFrame => Unit)] = Seq(
      "hourly" -> (ev => Events(ev).hourly
        .write.mode("overwrite").format("noop").save()),
      "sessionize" -> (ev => Events(ev).sessionize()
        .write.mode("overwrite").format("noop").save()),
      "funnel" -> (ev => Events(ev).funnel(Seq("view", "cart", "purchase"),
          86400000000000L)
        .write.mode("overwrite").format("noop").save()),
      "topk_users" -> (ev => Events(ev).topUsers(10)
        .write.mode("overwrite").format("noop").save()),
      "kmv_distinct_users" -> (ev => Events(ev).distinctUsersByHour(1024)
        .write.mode("overwrite").format("noop").save()),
      "retention" -> (ev => Events(ev).retention(7)
        .write.mode("overwrite").format("noop").save()),
      "top_paths" -> (ev => Events(ev).topPaths(3, 10)
        .write.mode("overwrite").format("noop").save()))

    // Size shuffle partitions to the point's data volume — the knob a real
    // cluster job sets per input scale. Fixed cpus(=32) partitions were the
    // tuned-for-10⁵ value: at 10⁶ series the window sorts held ~450 MB
    // in-mem per task against ~150 MB of task execution memory and spilled
    // 23 GB (the same fixed-parameter scale-rot class as round 8's LSH band
    // geometry). ~125K rows/partition: the big-point window-sort +
    // fused-agg stage carries wide feature rows (~400 B), so 250-500K
    // rows/task sat AT the ~60 MB minimum execution share 32 concurrent
    // tasks split out of an 8 GB heap — run-to-run it spilled 5 GB,
    // OOM'd, or passed depending on eviction timing. 125K rows/task
    // (~50 MB peak sort) leaves slack under the guarantee, so the
    // measurement is reproducible; small points stay at cpus so the
    // measured floor doesn't move.
    // cap raised 1024 → 8192 for the 4th corpus decade (2×10⁷ docs ≈ 10⁹
    // shingle rows): at 1024 the cap silently re-fattened tasks to 10⁶
    // rows — 8× the sizing law, the exact rot class the ladder exists to
    // catch. 8K partitions is nothing to the scheduler (~2×10⁵ task
    // launches over the tier) and the serialized sort writer emits one
    // data+index file per MAP task regardless of reduce width.
    def sizePartitions(rows: Long, rowsPerTask: Long = 125000L): Unit =
      spark.conf.set(
        "spark.sql.shuffle.partitions",
        math.max(cpus.toLong, math.min(8192L, rows / rowsPerTask)).toString)
    // Per-op-CLASS reduce widths (§2.9.12): the two sizing constraints
    // pull different ops different ways. Wide-row aggregates (auto_xvar's
    // fused ~400 B feature rows) need ≤125k rows/task or the shared-pool
    // sort OOMs run-to-run — the reproducibility guard. THIN extract-sort
    // ops (~100 B rows) are bounded by SEGMENT COUNT instead: map tasks ×
    // reduce partitions compressed segments grow quadratic under a single
    // rows rule (measured ×30/decade map-stage core-sec; §2.9.12), so
    // they take 625k rows/task (~6 MB segments at the 10⁷ point, sorts
    // still ~60 MB — measured fit_by_series 192.9 → 97.3 s at 10⁷).
    val thinSortRows: Map[String, Long] = Map(
      "fit_by_series" -> 625000L,
      "seasonal_length_by_series" -> 625000L)
    // Materialize the generated input once so op timings exclude
    // generation — DISK_ONLY, not localCheckpoint: a MEMORY_AND_DISK
    // input at the 10⁶ point (~7 GB, never fits) raced the window sorts
    // for the unified pool, and eviction timing decided between a clean
    // pass, 5 GB of sort spill, and a SparkOutOfMemoryError run-to-run.
    // Disk-resident input is also the honest regime: on a cluster the
    // ops read a parquet lake, not executor memory.
    // The input keeps its generated (range) partitioning: series arrive
    // contiguous and ds-ordered, so the sized shuffle compresses well and
    // the map side's serialized-sort spill is a measured ~170 task-sec.
    // (Round-robin pre-splitting to the sized width was tried and is
    // WORSE — scattering a series' rows across every partition inflated
    // the shuffle 1.6× and the reduce fetch fan-in, 49 → 88 s at 10⁶.)
    def materialize(df: DataFrame): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      p.write.mode("overwrite").format("noop").save()
      p
    }
    val seriesKept = keep(seriesOps)
    val points = (if (seriesKept.isEmpty) Seq.empty[Long] else sizes).map { n =>
      sizePartitions(n * nObs)
      val frame = materialize(syntheticFrame(spark, n, nObs))
      val line = jsonLine(s""""n_series":$n,"rows":${n * nObs}""",
        measure(seriesKept, frame, "n_series", n,
          k => sizePartitions(n * nObs, thinSortRows.getOrElse(k, 125000L))))
      frame.unpersist(blocking = true)
      line
    }
    val corpusKept = keep(corpusOps)
    val docSizes = envSizes("SPARK_GRAFT_SCALE_DOCS",
      Seq(20000L, 200000L), corpusKept.nonEmpty)
    val corpusPoints = docSizes.map { n =>
      // size on SHINGLE volume, not docs: the dedup shuffles carry ~50
      // token/shingle rows per doc (2M docs × 32 partitions put 230 MB
      // per task through the pair sorts — 34 GB of jaccard spill).
      // EXCEPT the ops whose keyed exchanges are operator-sized
      // (graft.core.Widths — fingerprint/span tiers): for those the
      // session width only carries the byte-trivial pair/final
      // aggregates, and the rows rule's 8000 partitions at 2×10⁷ turned
      // that ~1 GB exchange into 8000×8000 ≈ 64M micro-segments — the
      // §2.9.12 quadratic-segment law reproduced in the corpus tier,
      // measured 6.1× of fingerprint_pairs' wall (431.5 → 70.9 s).
      sizePartitions(n * 50)
      val widthsSized = Set("fingerprint_pairs", "fingerprint_pairs_w12",
        "dup_spans", "strip_spans")
      // kn_perplexity takes a BYTES-sized session width (~80 B/gram row ×
      // 50 tokens/doc at the Widths 64 MB/partition target), NOT the
      // shingle rows rule: the rows rule is right for the op's one big
      // explode aggregate but quadratically oversizes the model-TABLE
      // stages it feeds, whose record counts saturate with the gram-type
      // space — at 2×10⁷ the 8000-wide session put ~121M type rows
      // through 64M zstd segments (~2 records/frame) and per-segment
      // codec init/flush grew reduce-side CPU 5–7.5× for 1.2× records
      // (§2.9.16 #1, the §2.9.12 segment law's third appearance). The
      // bytes width keeps every kn stage's segments ≥ a few hundred
      // records through the measured decades.
      def knWidth(docs: Long): Long = math.max(cpus.toLong,
        math.min(8192L, docs * 50 * 80 / graft.core.Widths.TargetPartitionBytes))
      val docs = materialize(syntheticDocs(spark, n))
      val line = jsonLine(s""""n_docs":$n""", measure(corpusKept, docs, "n_docs", n,
        k => if (widthsSized(k))
          spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)
        else if (k == "kn_perplexity")
          spark.conf.set("spark.sql.shuffle.partitions", knWidth(n).toString)
        // nb_classifier / bpe_vocab: every exchange is bounded (model ≤
        // buckets rows; word types ≤ vocab) or thin (~25 B/doc for the
        // per-doc score aggregate) — the rows rule's 8000 width put 2e7
        // score rows through 320×8000 ≈ 2.6M segments (~8 records each;
        // bpe: 0.06) and per-segment codec overhead was the measured
        // 12.6×/decade in nb's first ladder. Bytes-sized: session floor
        // until the score aggregate genuinely outgrows 64 MB/partition.
        else if (k == "nb_classifier" || k == "bpe_vocab")
          spark.conf.set("spark.sql.shuffle.partitions",
            math.max(cpus.toLong,
              n * 25 / graft.core.Widths.TargetPartitionBytes).toString)
        else sizePartitions(n * 50)))
      docs.unpersist(blocking = true)
      line
    }
    val eventKept = keep(eventOps)
    val eventSizes = envSizes("SPARK_GRAFT_SCALE_EVENTS",
      Seq(1000000L, 10000000L), eventKept.nonEmpty)
    val eventPoints = eventSizes.map { n =>
      sizePartitions(n / 8) // ~60 B/event
      val ev = materialize(syntheticEvents(spark, n))
      val line = jsonLine(s""""n_events":$n""", measure(eventKept, ev, "n_events", n))
      ev.unpersist(blocking = true)
      line
    }
    // ANN recall battery (SPARK_GRAFT_SCALE_ANN=<n1,n2,…> to enable): a
    // real ANN tier is graded by recall@k vs probe budget, not just by
    // full-probe==brute-force equality. Clustered fixture (points jittered
    // around nClusters hash centers — the regime IVF cells are FOR; on
    // uniform data every cell boundary cuts true neighbor sets and recall
    // curves are meaninglessly flat). Ground truth per point: ivfKnn with
    // nProbe = nCells, which degenerates to exact brute force.
    val annSizes = envSizes("SPARK_GRAFT_SCALE_ANN", Seq.empty, active = true)
    val annPoints = annSizes.map { n =>
      import graft.operators.Similarity
      sizePartitions(n)
      val dims = 32; val nCells = 64; val k = 10; val nQueries = 64
      val emb = materialize(syntheticEmbeddings(spark, n, dims, nCells))
      val qf = col("vid") < nQueries
      def recall(approx: DataFrame, truth: DataFrame): Double = {
        val t = truth.select("query_id", "neighbor_id").localCheckpoint(true)
        val hits = approx.select("query_id", "neighbor_id")
          .join(t, Seq("query_id", "neighbor_id"), "left_semi").count()
        hits.toDouble / t.count()
      }
      val truth = Similarity.ivfKnn(emb, "vec_id", "embedding", k,
        nCells, nProbe = nCells, queryFilter = qf).localCheckpoint(true)
      val curves = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
      Seq(1, 2, 4, 8).foreach { p =>
        val t0 = System.nanoTime()
        val r = recall(Similarity.ivfKnn(emb, "vec_id", "embedding", k,
          nCells, nProbe = p, queryFilter = qf), truth)
        curves += ((s"ivf_probe$p", r, (System.nanoTime() - t0) / 1e9))
      }
      Seq(16, 64, 256).foreach { c =>
        val t0 = System.nanoTime()
        val r = recall(Similarity.pqKnn(emb, "vec_id", "embedding", k,
          m = 8, kStar = 16, nCand = c, queryFilter = qf), truth)
        curves += ((s"pq_cand$c", r, (System.nanoTime() - t0) / 1e9))
      }
      // residual codes at the SAME budgets: the raw-PQ collapse
      // (recall ≈ nCand/clusterSize, the tie-break lottery) vs the
      // IVFADC fix, measured side by side
      Seq(16, 64, 256).foreach { c =>
        val t0 = System.nanoTime()
        val r = recall(Similarity.ivfPqKnn(emb, "vec_id", "embedding", k,
          nCells = nCells, nProbe = 2, m = 8, kStar = 16, nCand = c,
          queryFilter = qf), truth)
        curves += ((s"ivfpq_probe2_cand$c", r, (System.nanoTime() - t0) / 1e9))
      }
      emb.unpersist(blocking = true)
      val cj = curves.map { case (nm, r, s) =>
        f""""$nm":{"recall":$r%.4f,"sec":$s%.3f}""" }.mkString(",")
      val line = s"""{"n_vecs":$n,"dims":$dims,"n_cells":$nCells,"k":$k,"n_queries":$nQueries,"curves":{$cj}}"""
      System.err.println(s"[bench_scale] ann $line")
      line
    }
    val out = s"""{"metric":"bench_scale","unit":"sec","n_obs":$nObs,"points":[${points.mkString(",")}],"corpus_points":[${corpusPoints.mkString(",")}],"event_points":[${eventPoints.mkString(",")}],"ann_points":[${annPoints.mkString(",")}]}"""
    println(out)
    // same truncation-proof file record as graft.Bench
    Bench.attempt("record write")(java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_scale_last.json"), (out + "\n").getBytes("UTF-8")))
    spark.stop()
  }

  /** Clustered synthetic embeddings: `n` unit-normalizable vectors in
    * `dims` dims, each jittered (±0.04) around one of `nClusters` hash
    * centers (cluster = vec_id % nClusters) — the locality structure ANN
    * probing exploits. Pure column arithmetic, no UDFs. */
  def syntheticEmbeddings(spark: SparkSession, n: Long, dims: Int,
                          nClusters: Int): DataFrame = {
    def noise(key: org.apache.spark.sql.Column, tag: String) =
      (pmod(xxhash64(concat_ws("_", key, lit(tag))), lit(1000L))
        .cast("double") / 1000.0) - 0.5
    val cl = pmod(col("id"), lit(nClusters.toLong))
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dims - 1)), i =>
        noise(concat_ws("_", cl, i.cast("string")), "c") +
          lit(0.08) * noise(concat_ws("_", col("id"), i.cast("string")), "j"))
        .as("embedding"))
  }

  /** Synthetic behavioral events: nEvents rows over nEvents/50 users,
    * hash-spread across 30 days, types drawn from a view-heavy pool with
    * genuine funnel structure (a user's purchase hashes later than its
    * views with probability ~1/2 like real traffic — the funnel's
    * strictly-after join keeps real work at any n). Pure column
    * arithmetic — no joins, no UDFs. */
  def syntheticEvents(spark: SparkSession, nEvents: Long): DataFrame = {
    val base = spark.range(nEvents)
    def h(tag: String) = xxhash64(concat_ws("_", col("id"), lit(tag)))
    base.select(
      col("id").as("event_id"),
      pmod(h("t"), lit(30L * 86400000000000L)).as("ts"),
      pmod(h("u"), lit(math.max(nEvents / 50, 1L))).as("user_id"),
      element_at(array(lit("view"), lit("view"), lit("view"), lit("click"),
          lit("cart"), lit("purchase")),
        pmod(h("e"), lit(6L)).cast("int") + 1).as("event_type"),
      (pmod(h("v"), lit(10000L)).cast("double") / 100.0).as("value"))
  }

  /** fitBySeries with its standard feature build (trend + 2 AR lags) —
    * factored so the timed unit is the operator a user calls. */
  private object GroupedOlsRun {
    def run(frame: DataFrame): Unit = {
      val withFeats = graft.functions.FeatureOps.addArTerms(
        graft.functions.FeatureOps.addTimeTrend(frame), 2)
      graft.models.GroupedOls.fitBySeries(withFeats, Seq("t", "ar_1", "ar_2"))
        .write.mode("overwrite").format("noop").save()
    }
  }
}
