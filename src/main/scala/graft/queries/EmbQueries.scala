package graft
package queries

import graft.OracleGen._
import graft.core.Tables
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `emb_*` queries: embedding hygiene and nearest-neighbour search
  * (exact, LSH, IVF, PQ), each with its DuckDB oracle. */
object EmbQueries {

  /** Per-vector L2 norms + dimension count (vector hygiene checks that run
    * before any ANN stage). */
  private def qEmbNorms(s: SparkSession, d: String): DataFrame =
    graft.operators.Similarity.prepared(Tables.embeddings(s, d), "vec_id", "embedding")
      .select(col("vid").as("vec_id"), size(col("v")).cast("long").as("dim"),
        round(col("nrm"), 6).as("norm"))

  /** IVF ANN at FULL probe (nProbe = nCells): searches every posting list,
    * so the result is exactly the brute-force top-k (ExactPropertySpec pins
    * the equivalence and partial-probe recall) — which makes the all-pairs
    * SQL definition a valid hash oracle for the whole IVF machinery: KMeans
    * coarse quantizer, cell assignment, per-cell exact re-rank, dedup. */
  private def qEmbKnnIvf(s: SparkSession, d: String): DataFrame =
    graft.operators.Similarity.ivfKnn(Tables.embeddings(s, d), "vec_id", "embedding",
        3, nCells = 8, nProbe = 8, queryFilter = col("vid") < 50)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"))

  /** PQ ANN at FULL candidate pool (nCand ≥ corpus size at the verify SF)
    * — the emb_knn_ivf full-probe pattern: the exact re-rank then equals
    * brute force, making the all-pairs SQL a valid hash oracle for the
    * whole PQ machinery (subspace codebooks, code assignment, LUT ADC
    * scan, bounded-heap cut, exact re-rank). Partial-pool recall is
    * data-dependent — this fixture's embeddings are clusterless random
    * vectors, PQ's worst case (measured: a true top-3 neighbor can sit at
    * ADC rank ~356 of 500) — so the speed path's pool sizing is a
    * data-quality decision, pinned by ExactPropertySpec, not by this
    * oracle. */
  private def qEmbKnnPq(s: SparkSession, d: String): DataFrame = {
    // probe depth is a RECALL knob and must scale with the corpus — a
    // fixed nCand=512 was exact at sf0.01 (512 ≥ n−1) and silently lost
    // true top-3 neighbors at sf0.1 (512 of 1999 ADC candidates): the same
    // fixed-parameter scale-rot class as r8's pinned LSH band geometry.
    // One count() against the bucketed scan sizes it; a deployment sizes
    // nCand/nprobe to its measured recall target the same way.
    val emb = Tables.embeddings(s, d)
    val nCand = math.max(512L, emb.count() * 2 / 5).toInt
    Similarity.pqKnn(emb, "vec_id", "embedding",
        3, nCand = nCand, queryFilter = col("vid") < 50)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"))
  }

  /** IVF-PQ (residual codes) at full probe + full pool — exact, so the
    * brute-force SQL oracles the whole two-level machinery (driver-local
    * coarse quantizer, residual subspace codebooks, per-(query,cell)
    * LUTs, cell-gated ADC scan, exact re-rank). The speed path's recall
    * advantage over raw-vector PQ on clustered data is pinned by
    * ExactPropertySpec's A/B and measured in BENCH_SCALE ann_points. */
  private def qEmbKnnIvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // full pool sized from the corpus (the emb_knn_pq scale-rot lesson)
    val nCand = emb.count().toInt
    Similarity.ivfPqKnn(emb, "vec_id", "embedding", 3,
        nCells = 8, nProbe = 8, nCand = nCand, queryFilter = col("vid") < 50)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"))
  }

  private def qEmbKnn(s: SparkSession, d: String): DataFrame =
    Similarity.cosineKnn(Tables.embeddings(s, d), "vec_id", "embedding", 5,
        col("vid") < 50)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"))

  /** The scale path for ANN: LSH buckets bound the join (shuffle keyed by
    * bucket), exact cosine re-ranks within each bucket. */
  private def qEmbKnnLsh(s: SparkSession, d: String): DataFrame =
    Similarity.cosineKnnLsh(Tables.embeddings(s, d), "vec_id", "embedding", 3, 4)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"))

  private def qEmbLshBuckets(s: SparkSession, d: String): DataFrame =
    Similarity.lshBuckets(Tables.embeddings(s, d), "vec_id", "embedding", 8)
      .select(col("vid").as("vec_id"), col("bucket"))

  /** Per-label embedding centroids: mean vector per cluster label without
    * ever materializing a per-group vector collection — `posexplode` to
    * (label, dim, x) and one (label, dim) aggregation, so the shuffle key
    * carries the dimension index and a billion vectors reduce map-side.
    * The centroid step of embedding-space clustering curation (SemDeDup-
    * style: cluster, then prune near-dups within clusters against the
    * centroid); pairs with emb_knn_ivf's KMeans quantizer. */
  private def qEmbCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")))
      .groupBy(col("label"), col("pos").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), round(avg(col("col")), 6).as("centroid"))

  /** Cluster-prototypical semantic prune over the embedding table — the
    * cheap first pass of SemDeDup-style curation: per cluster label, score
    * every vector's cosine against the CLUSTER CENTROID and drop all but
    * one representative (lowest vec_id) of the centroid-dense core
    * (cos ≥ 0.3), keeping the informative outliers. (Pairwise
    * within-cluster near-dup is the doc_neardup_cosine tier; this is the
    * O(n) prototype filter that runs before it.) Shape: the centroid frame
    * is #labels rows → size-gated broadcast back onto the scan; the cosine
    * is the native codegen [[graft.functions.DotProduct]]; threshold
    * compares the ROUNDED score so cross-engine float noise can't flip a
    * boundary row. */
  private def qEmbSemdedup(s: SparkSession, d: String): DataFrame = {
    import graft.functions.DotProduct.dotNative
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
    val cent = emb.select(col("label"), posexplode(col("v")))
      .groupBy("label", "pos").agg(avg("col").as("c"))
      .groupBy("label").agg(
        transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x("c")).as("cv"))
    val scored = emb.join(graft.core.Joins.maybeBroadcast(cent), "label")
      .withColumn("cos", round(
        dotNative(col("v"), col("cv")) /
          (sqrt(dotNative(col("v"), col("v"))) * sqrt(dotNative(col("cv"), col("cv")))), 6))
    val keepers = scored.filter(col("cos") >= 0.3)
      .groupBy("label").agg(min("vec_id").as("keeper"))
    scored.join(graft.core.Joins.maybeBroadcast(keepers), Seq("label"), "left")
      .select(col("vec_id"), col("label"), col("cos"),
        (col("cos") < 0.3 || col("vec_id") === col("keeper")).as("keep"))
  }

  val defs: Seq[QueryDef] = Seq(
    // per-(label, dim) centroid means; generate_subscripts is 1-based
    QueryDef("emb_centroids", qEmbCentroids,
      """WITH e AS (SELECT CAST(label AS BIGINT) AS label,
        |  unnest(embedding) AS x,
        |  CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim
        |  FROM embeddings)
        |SELECT label, dim, count(*) AS n, ROUND(avg(x), 6) AS centroid
        |FROM e GROUP BY 1, 2""".stripMargin),

    // centroid-core prune: keep flag thresholded on the ROUNDED cosine
    QueryDef("emb_semdedup", qEmbSemdedup,
      """WITH x AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |  CAST(unnest(embedding) AS DOUBLE) AS x,
        |  generate_subscripts(embedding, 1) AS i FROM embeddings),
        |c AS (SELECT label, i, avg(x) AS c FROM x GROUP BY 1, 2),
        |dots AS (SELECT x.vec_id, x.label, sum(x.x * c.c) AS dot,
        |    sum(x.x * x.x) AS n1, sum(c.c * c.c) AS n2
        |  FROM x JOIN c ON x.label = c.label AND x.i = c.i GROUP BY 1, 2),
        |s AS (SELECT vec_id, label,
        |  ROUND(dot / (sqrt(n1) * sqrt(n2)), 6) AS cos FROM dots),
        |k AS (SELECT label, min(vec_id) AS keeper FROM s
        |      WHERE cos >= 0.3 GROUP BY 1)
        |SELECT s.vec_id, s.label, s.cos,
        |  (s.cos < 0.3 OR s.vec_id = k.keeper) AS keep
        |FROM s LEFT JOIN k USING (label)""".stripMargin),

    QueryDef("emb_knn", qEmbKnn,
      embCosineTopK(5)),

    // full-probe IVF == brute force (ExactPropertySpec), so the all-pairs
    // definition is the oracle; query side bounded like emb_knn
    // PQ at a fixture-covering candidate pool re-ranks exactly, so brute
    // force is its oracle too (same argument as emb_knn_ivf below)
    QueryDef("emb_knn_pq", qEmbKnnPq,
      embCosineTopK(3)),

    // full probe + full pool ⇒ exact: identical brute-force oracle as pq/ivf
    QueryDef("emb_knn_ivfpq", qEmbKnnIvfPq,
      embCosineTopK(3)),

    QueryDef("emb_knn_ivf", qEmbKnnIvf,
      embCosineTopK(3)),

    QueryDef("emb_knn_lsh", qEmbKnnLsh,
      embCosineTopK(3, s"""${lshBucketCtes(4)},
        |cand AS (SELECT a.vec_id AS qa, b.vec_id AS qb
        |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        |dots AS (SELECT c.qa, c.qb, sum(ea.v * eb.v) AS d
        |  FROM cand c JOIN ed ea ON ea.vec_id = c.qa
        |              JOIN ed eb ON eb.vec_id = c.qb AND eb.i = ea.i
        |  GROUP BY 1, 2)""".stripMargin)),

    QueryDef("emb_norms", qEmbNorms,
      """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |    len(embedding) AS dim FROM embeddings)
        |SELECT vec_id, CAST(min(dim) AS BIGINT) AS dim,
        |  ROUND(sqrt(sum(v * v)), 6) AS norm
        |FROM e GROUP BY 1""".stripMargin),

    QueryDef("emb_lsh_buckets", qEmbLshBuckets,
      s"WITH $EmbDims,\n${lshBucketCtes(8)}\nSELECT vec_id, bucket FROM bk")
  )
}
