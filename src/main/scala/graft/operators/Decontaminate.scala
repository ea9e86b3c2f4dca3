package graft.operators

import org.apache.spark.sql.{DataFrame, GraftColumns}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

/** Benchmark decontamination — remove training documents that overlap an
  * evaluation/benchmark corpus (the n-gram-overlap protocol popularized by
  * GPT-3 (Brown et al. 2020, §C) and used by most LLM training pipelines):
  * a training doc is contaminated when a large-enough fraction of its
  * distinct word n-grams also appears in SOME single benchmark doc.
  *
  * Shape: both sides shingle through [[Dedup.shingles]] (the train side
  * carrying each doc's distinct-shingle count), the candidate
  * generation is an EQUI-join keyed by shingle (inverted index — never
  * train × bench), and the per-(train, bench) overlap count is one shuffle
  * keyed by the pair. The benchmark side is typically tiny relative to the
  * training corpus, so its shingle index behaves like a semi-join filter;
  * cost is proportional to SHARED shingle volume, the same discipline as
  * [[Dedup.jaccardPairs]]'s capped index.
  */
object Decontaminate {

  /** Contaminated (train, bench) pairs with the overlap fraction:
    * |shingles(train) ∩ shingles(bench)| / |shingles(train)| ≥ minFrac.
    * Self-pairs (same id on both sides, e.g. when the benchmark is carved
    * from the corpus itself) are excluded. */
  def contaminatedPairs(train: DataFrame, bench: DataFrame,
                        idCol: String, textCol: String,
                        n: Int = 3, minFrac: Double = 0.5): DataFrame = {
    val bs = Dedup.shingles(bench, idCol, textCol, n)
      .withColumnRenamed("doc", "bench_id")
    overlapPairs(Dedup.sizedShingles(train, idCol, textCol, n), bs, minFrac)
  }

  /** Pairs of train shingle rows (carrying their doc's full distinct
    * count `_sz`, [[Dedup.sizedShingles]]) and bench shingle rows whose
    * overlap fraction reaches minFrac. The denominator rides the rows, so
    * the train side is read once: no per-doc size aggregate joins back. */
  private def overlapPairs(ts: DataFrame, bs: DataFrame,
                           minFrac: Double): DataFrame =
    ts.join(bs, Seq("shingle"))
      .filter(col("doc") =!= col("bench_id"))
      .groupBy("doc", "bench_id", "_sz").agg(count(lit(1)).as("_common"))
      .withColumn("overlap_frac", col("_common") / col("_sz"))
      .filter(col("overlap_frac") >= minFrac)
      .select(col("doc"), col("bench_id"), col("overlap_frac"))

  /** The cleaned training corpus: drop every doc contaminated against ANY
    * benchmark doc (anti-join on the flagged ids). */
  def clean(train: DataFrame, bench: DataFrame, idCol: String, textCol: String,
            n: Int = 3, minFrac: Double = 0.5): DataFrame = {
    val bad = contaminatedPairs(train, bench, idCol, textCol, n, minFrac)
      .select(col("doc").as(idCol))
    train.join(bad, Seq(idCol), "left_anti")
  }

  /** [[contaminatedPairs]] with a Bloom prefilter on the TRAIN side — the
    * 100 TB shape. The inverted-index join is exact but shuffles EVERY
    * distinct train shingle; at real corpus scale ~all of them match
    * nothing (the benchmark is orders of magnitude smaller), so that
    * shuffle is almost entirely wasted motion. This path builds a Bloom
    * filter over the benchmark's shingle hashes with Spark's own
    * runtime-join-filter machinery (`BloomFilterAggregate` to build,
    * codegen'd `BloomFilterMightContain` to probe — the same expressions
    * `InjectRuntimeFilter` plants under
    * `spark.sql.optimizer.runtime.bloomFilter.enabled`, here as explicit
    * library surface because the optimizer rule only fires on selective
    * CREATION-side filters it can see, not on "the whole bench table is
    * small relative to train") and drops non-candidate train shingles
    * BEFORE the exchange. The blob rides a scalar subquery exactly as
    * `InjectRuntimeFilter` plants it — bits-bounded (`numBits`, default
    * 8M bits = 1 MB regardless of bench row count), never inlined into the
    * plan text, one query DAG. Results are EXACTLY
    * [[contaminatedPairs]]'s: false positives survive the prefilter only
    * to match nothing in the exact equi-join, the overlap denominator
    * |shingles(train)| is computed on the UNFILTERED shingle set, and an
    * empty bench side yields a null filter whose probe is null → no
    * candidates → no pairs.
    *
    * The filter SIZES ITSELF from the bench side by default
    * (`expectedItems`/`numBits` ≤ 0 → one cheap count over the bench
    * shingles, 10 bits per item, floor 8M bits, cap 2²⁷ = 16 MB): a fixed
    * 1 MB filter silently saturates one decade past its tuning — measured
    * at 2×10⁷ docs, ~8.6M bench shingles in 8.39M bits gave ~99% FPP and
    * a byte-identical shuffle to the exact path, the same
    * fixed-parameter rot class as probe depths and band geometry. The
    * sizing count is a driver action over the SMALL side only, which is
    * the operator's stated regime (bench ≪ train).
    *
    * Oracle: doc_decontaminate_bloom — same SQL as the exact path, because
    * the result set is the same by construction. */
  def contaminatedPairsBloom(train: DataFrame, bench: DataFrame,
                             idCol: String, textCol: String,
                             n: Int = 3, minFrac: Double = 0.5,
                             expectedItems: Long = -1L,
                             numBits: Long = -1L): DataFrame = {
    val ts = Dedup.sizedShingles(train, idCol, textCol, n)
    val bsRaw = Dedup.shingles(bench, idCol, textCol, n)
      .withColumnRenamed("doc", "bench_id")
    // when auto-sizing, materialize the (small-by-contract) bench shingles
    // once: the sizing count is an action, and without the checkpoint the
    // bench explode lineage would run a second full time for the bloom
    // aggregate + equi-join (ADVICE r10).
    val bs = if (expectedItems > 0) bsRaw else bsRaw.localCheckpoint(false)
    // size on GLOBAL distinct shingles, not per-doc-distinct rows: the
    // filter holds one bit-set entry per distinct shingle whatever the
    // insertion multiplicity, and overlapping bench docs (benchmarks
    // carve variants of the same passages) overcount rows enough to push
    // the auto size into the 16 MB cap a decade early (ADVICE r11). The
    // distinct rides one small-side exchange over the checkpointed
    // blocks — bench ≪ train is this operator's stated regime.
    val items = math.max(1L,
      if (expectedItems > 0) expectedItems
      else bs.select("shingle").distinct().count())
    val bits =
      if (numBits > 0) numBits
      else math.min(math.max(8388608L, 10L * items), 1L << 27)
    val bloom = bs.agg(GraftColumns.column(
      new BloomFilterAggregate(
        GraftColumns.expression(xxhash64(col("shingle"))),
        Literal(items), Literal(bits)).toAggregateExpression())
      .as("_bloom")).scalar()
    val candidates = ts.filter(GraftColumns.column(BloomFilterMightContain(
      GraftColumns.expression(bloom),
      GraftColumns.expression(xxhash64(col("shingle"))))))
    // the carried _sz was taken before the prefilter: overlap_frac's
    // denominator stays |shingles(train)|
    overlapPairs(candidates, bs, minFrac)
  }

  /** [[clean]] through the Bloom-prefiltered pair path — same result set
    * (the prefilter is result-invariant), the 100 TB plan. Defaults
    * inherit the SELF-SIZING filter (≤ 0 → size from a bench count):
    * round 10 fixed only contaminatedPairsBloom's defaults and this
    * public entry point kept forwarding the fixed 1 MB filter that
    * measurably saturates at the 4th decade (ADVICE r10). */
  def cleanBloom(train: DataFrame, bench: DataFrame, idCol: String,
                 textCol: String, n: Int = 3, minFrac: Double = 0.5,
                 expectedItems: Long = -1L,
                 numBits: Long = -1L): DataFrame = {
    val bad = contaminatedPairsBloom(train, bench, idCol, textCol, n, minFrac,
        expectedItems, numBits)
      .select(col("doc").as(idCol))
    train.join(bad, Seq(idCol), "left_anti")
  }
}
