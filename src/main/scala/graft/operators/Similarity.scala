package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Two tiers:
  *
  *  - [[cosineKnn]]: exact brute-force top-k — the correctness baseline.
  *    Cross join, so O(n²·d); fine to ~10⁵ vectors per partition-side,
  *    beyond that use the LSH tier.
  *  - [[lshBuckets]] / [[cosineKnnLsh]]: random-hyperplane signatures
  *    (deterministic pseudo-random planes derived from index arithmetic, no
  *    RNG state) bucket vectors so the join only compares within buckets —
  *    the 100 TB path: shuffle keyed by bucket, cost O(n·2^bits + Σ b²).
  *
  * All arithmetic in double (floats upcast) so results are reproducible
  * across engines and partitionings at 1e-15.
  */
object Similarity {

  private def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, z) => acc + z)

  /** Compiled dot product — identical left-to-right summation as [[dot]],
    * now the charter's TOP preference tier: a native codegen Catalyst
    * expression ([[graft.functions.DotProduct]]) wrapped directly into a
    * Column, so the loop fuses into whole-stage codegen with the
    * surrounding cosine arithmetic (no UDF boxing, no per-element
    * interpreted lambdas — the HOF form measured ~50× slower on
    * multi-million-candidate re-ranks, the UDF tier still paid
    * Array[Double] serialization per row). */
  def dotFast(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotNative(a, b)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, z) => acc + z))

  /** Normalize embeddings once: (id, v: array<double>, nrm). */
  def prepared(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vid"), toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))

  /** Exact top-k cosine neighbors for every vector (optionally only for ids
    * satisfying `queryFilter`). Ties broken on (rounded sim desc, id asc)
    * so ranking is reproducible across engines. */
  def cosineKnn(df: DataFrame, idCol: String, vecCol: String, k: Int,
                queryFilter: Column = lit(true)): DataFrame = {
    // lazy localCheckpoint, not cache(): both join sides read the same
    // materialized blocks (written on first use, pipelined into that job),
    // and the ContextCleaner releases them once the frame is unreferenced —
    // repeated ANN calls in one session accrue no storage
    val p = prepared(df, idCol, vecCol).localCheckpoint(false)
    val q = p.filter(queryFilter) // predicate over the renamed `vid` column
    val pairs = q.as("a").join(p.as("b"), col("a.vid") =!= col("b.vid"))
      .select(col("a.vid").as("query_id"), col("b.vid").as("neighbor_id"),
        (dotFast(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("sim"))
    topK(pairs, k)
  }

  /** Each query's top `k` of scored `(query_id, neighbor_id, sim)` pairs,
    * ranked by (6dp sim desc, neighbour id) so the ranking is reproducible
    * across engines: `(query_id, rank, neighbor_id, sim)`. */
  private def topK(pairs: DataFrame, k: Int): DataFrame =
    pairs.withColumn("rank",
        row_number().over(Window.partitionBy("query_id")
          .orderBy(round(col("sim"), 6).desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")

  /** The PQ tail shared by [[pqKnn]] and [[ivfPqKnn]]: cut each query's ADC
    * candidates `(qvid, nid, adc)` to its `nCand` nearest (ties on nid),
    * re-score them by exact cosine on the true vectors of `vecs(vid, v,
    * nrm)`, and keep the top `k`. */
  private def rerankAdc(cands: DataFrame, vecs: DataFrame, nCand: Int, k: Int): DataFrame = {
    val globalCand = cands
      .withColumn("_rk", row_number().over(Window.partitionBy("qvid")
        .orderBy(col("adc"), col("nid"))))
      .filter(col("_rk") <= nCand).select("qvid", "nid")
    topK(globalCand
      .join(vecs.select(col("vid").as("nid"), col("v").as("_nv"), col("nrm").as("_nn")), Seq("nid"))
      .join(vecs.select(col("vid").as("qvid"), col("v").as("_qv"), col("nrm").as("_qn")), Seq("qvid"))
      .select(col("qvid").as("query_id"), col("nid").as("neighbor_id"),
        (dotFast(col("_qv"), col("_nv")) / (col("_qn") * col("_nn"))).as("sim")), k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * a fixed integer mix mapped to [-0.5, 0.5). Portable to SQL. */
  private def planeCoef(plane: Int, dim: Column): Column =
    (pmod(lit(2654435761L) * (dim + 1) * (2 * plane + 1) + lit(40503L) * (plane + 1), lit(100003L))
      .cast("double") / 100003.0) - 0.5

  /** Random-hyperplane LSH bucket id from `bits` sign bits. */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String, bits: Int): DataFrame = {
    val p = prepared(df, idCol, vecCol)
    val bucket = (0 until bits).map { b =>
      val proj = aggregate(
        zip_with(col("v"), transform(sequence(lit(0), size(col("v")) - 1),
          d => planeCoef(b, d)), (x, w) => x * w),
        lit(0.0), (acc, z) => acc + z)
      when(proj > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    p.withColumn("bucket", bucket)
  }

  /** ANN top-k within LSH buckets — approximate; recall controlled by bits
    * (fewer bits → bigger buckets → higher recall & cost). */
  def cosineKnnLsh(df: DataFrame, idCol: String, vecCol: String, k: Int,
                   bits: Int): DataFrame = {
    val p = lshBuckets(df, idCol, vecCol, bits).localCheckpoint(false) // see cosineKnn
    val pairs = p.as("a").join(p.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vid") =!= col("b.vid"))
      .select(col("a.vid").as("query_id"), col("b.vid").as("neighbor_id"),
        (dotFast(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("sim"))
    topK(pairs, k)
  }

  /** [[planeCoef]] evaluated at plan time — numerically identical to the
    * Column expression (pmod == floorMod on the same longs), so signatures
    * match across the expression and literal-matrix paths. */
  private def planeCoefV(plane: Int, dim: Int): Double =
    java.lang.Math.floorMod(
      2654435761L * (dim + 1) * (2L * plane + 1) + 40503L * (plane + 1),
      100003L).toDouble / 100003.0 - 0.5

  /** Per-vector banded hyperplane signature: `bands` independent bucket ids
    * of `bitsPerBand` sign bits each, exploded to one (vid, band, band_val)
    * row per band. OR-amplification: two vectors are candidates if ANY band
    * matches, so recall rises with `bands` while each band's equi-join stays
    * bounded — the same banding shape as [[graft.operators.Dedup.simhashPairs]].
    *
    * The bands·bits·dims projection kernel is dense per-row numeric work, so
    * it runs as a typed `flatMap` with a tight primitive loop over a
    * plan-time coefficient matrix (planes depend only on (plane, dim),
    * never on data) — the imperative escape hatch SURVEY §4 reserves for
    * genuine per-row math that higher-order Column aggregates would
    * interpret element-by-element. Still one narrow pass; output is the
    * slim (vid, band, band_val) frame. */
  def bandedSignatures(df: DataFrame, idCol: String, vecCol: String,
                       bands: Int, bitsPerBand: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val p = prepared(df, idCol, vecCol).select(col("vid"), col("v"))
    val coefs = Array.tabulate(bands * bitsPerBand,
      df.select(size(col(vecCol))).first().getInt(0))(planeCoefV)
    val outSchema = StructType(Seq(p.schema.fields.head.copy(name = "vid"),
      StructField("band", IntegerType), StructField("band_val", LongType)))
    p.flatMap({ r =>
      val vid = r.get(0)
      val arr = r.getSeq[Double](1).toArray
      (0 until bands).map { b =>
        var bucket = 0L
        var bit = 0
        while (bit < bitsPerBand) {
          val c = coefs(b * bitsPerBand + bit)
          var s = 0.0
          var d = 0
          val n = math.min(arr.length, c.length)
          while (d < n) { s += arr(d) * c(d); d += 1 }
          if (s > 0) bucket |= (1L << bit)
          bit += 1
        }
        Row(vid, b, bucket)
      }
    })(Encoders.row(outSchema)).toDF()
  }

  /** IVF (inverted-file) coarse quantizer: MLlib KMeans fits `nCells`
    * centroids, every vector lands in its nearest centroid's posting list
    * (`cell`). Data-ADAPTIVE cells complement the data-oblivious hyperplane
    * LSH tier: tight clusters get their own cells, so probing few cells
    * bounds the exact-search region. Returns (vid, v, nrm, cell); the
    * centroid matrix rides in the returned model for probe computation. */
  def ivfIndex(df: DataFrame, idCol: String, vecCol: String, nCells: Int,
               seed: Long = 42L): (DataFrame, org.apache.spark.ml.clustering.KMeansModel) = {
    import org.apache.spark.ml.functions.array_to_vector
    val p = prepared(df, idCol, vecCol)
      .withColumn("_fv", array_to_vector(col("v")))
    // a coarse quantizer needs rough centroids, not convergence: random
    // init (k-means|| costs ~2k extra passes) + capped Lloyd iterations.
    // Correctness of full-probe search is partition-independent;
    // partial-probe recall is pinned by ExactPropertySpec.
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(nCells).setSeed(seed).setMaxIter(8).setInitMode("random")
      .setFeaturesCol("_fv").setPredictionCol("cell")
      .fit(p)
    (model.transform(p).drop("_fv"), model)
  }

  /** IVF ANN top-k: every vector probes its `nProbe` nearest centroids and
    * re-ranks exactly within those posting lists. Shuffle keyed by cell id
    * (the bucket-join scale shape); the centroid matrix is driver-bounded
    * (nCells × dims doubles) and the per-row probe ranking is the same
    * typed-kernel escape hatch as [[bandedSignatures]]. `nProbe = nCells`
    * degenerates to the exact brute force (ExactPropertySpec pins it). */
  def ivfKnn(df: DataFrame, idCol: String, vecCol: String, k: Int,
             nCells: Int, nProbe: Int, seed: Long = 42L,
             queryFilter: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val (indexed0, model) = ivfIndex(df, idCol, vecCol, nCells, seed)
    val indexed = indexed0.localCheckpoint(true)
    val centroids = model.clusterCenters.map(_.toArray)
    val probes = math.min(nProbe, centroids.length)
    val querySchema = StructType(
      indexed.schema.fields.head.copy(name = "vid") +: Seq(StructField("probe_cell", IntegerType)))
    // query-side pruning before the posting-list join: results for the kept
    // queries are identical, the candidate set just never materializes for
    // the pruned ones (the predicate is over the renamed `vid` column)
    val probed = indexed.select(col("vid"), col("v")).filter(queryFilter).flatMap({ r =>
      val arr = r.getSeq[Double](1).toArray
      val d2 = centroids.map { c =>
        var s = 0.0; var i = 0
        val n = math.min(arr.length, c.length)
        while (i < n) { val d = arr(i) - c(i); s += d * d; i += 1 }
        s
      }
      d2.zipWithIndex.sortBy(_._1).take(probes).map { case (_, cell) => Row(r.get(0), cell) }
    })(Encoders.row(querySchema)).toDF()
    val cands = probed.as("q")
      .join(indexed.select(col("vid").as("nid"), col("v").as("_nv"),
        col("nrm").as("_nn"), col("cell")).as("c"),
        col("q.probe_cell") === col("c.cell") && col("q.vid") =!= col("nid"))
    val scored = cands
      .join(indexed.select(col("vid"), col("v").as("_qv"), col("nrm").as("_qn")), Seq("vid"))
      .select(col("vid").as("query_id"), col("nid").as("neighbor_id"),
        (dotFast(col("_qv"), col("_nv")) / (col("_qn") * col("_nn"))).as("sim"))
      .dropDuplicates("query_id", "neighbor_id")
    topK(scored, k)
  }

  /** Product-quantization index: each UNIT vector splits into `m`
    * subvectors; per subspace a seeded sample-trained k-means codebook
    * learns `kStar` centroids and the vector's code is its
    * nearest-centroid id per subspace — m·log₂(kStar) bits per vector
    * (8×16 → 8 B against 256 B of float32 at d=64, the 32× memory cut
    * that keeps a billion-vector scan RAM-resident on a cluster).
    * Quantizing the normalized vectors makes squared-L2 ADC a monotone
    * proxy for cosine (‖a−b‖² = 2−2·cos on unit vectors). Returns the
    * coded frame `(vid, v, nrm, u, code)` and the codebook tensor
    * (m × kStar × d/m doubles — driver-bounded like IVF's centroid
    * matrix). Codebooks are deterministic AND partitioning-invariant
    * (hash-ordered sample + seeded fixed-budget Lloyd); search
    * correctness never depended on them (exact re-rank), which
    * ExactPropertySpec pins. */
  def pqIndex(df: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, kStar: Int = 16, seed: Long = 42L)
      : (DataFrame, Array[Array[Array[Double]]]) = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}
    val p = prepared(df, idCol, vecCol)
      .withColumn("u", transform(col("v"), x => x / col("nrm")))
      .localCheckpoint(true)
    val dims = p.select(size(col("u"))).head().getInt(0)
    require(dims % m == 0, s"embedding dim $dims not divisible by m=$m subspaces")
    val sub = dims / m
    // codebooks train on a BOUNDED deterministic sample: PQ codebooks are
    // a coarse kStar-level quantizer, so a few thousand vectors bound
    // their quality as well as a full pass (how billion-scale IVF/PQ
    // indexes train in practice) — and the whole train step becomes ONE
    // small collect + driver-local seeded k-means++/Lloyd per subspace
    // instead of m distributed KMeans fits (the former 8-fit fan-out
    // dominated emb_knn_pq's bench time at fixture scale). Hash-ordered
    // sampling makes the books partitioning-invariant; search correctness
    // never depended on them (exact re-rank, ExactPropertySpec).
    val sampleN = 2048
    val sample: Array[Array[Double]] = p
      .select(col("u"), xxhash64(col("vid").cast("string")).as("_h"))
      .orderBy(col("_h"), col("vid"))
      .limit(sampleN)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "pqIndex needs at least one vector")
    val books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => fitCodebook(sample, s * sub, sub, kStar, seed + s))
    val outSchema = StructType(p.schema.fields :+
      StructField("code", ArrayType(IntegerType, containsNull = false)))
    val uIdx = p.schema.fieldIndex("u")
    val codes = p.map({ r =>
      val u = r.getSeq[Double](uIdx).toArray
      val code = Array.tabulate(m) { s =>
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < kStar) {
          val c = books(s)(j); var d2 = 0.0; var i = 0
          while (i < sub) { val d = u(s * sub + i) - c(i); d2 += d * d; i += 1 }
          if (d2 < bestD) { bestD = d2; best = j }
          j += 1
        }
        best
      }
      Row.fromSeq(r.toSeq :+ code.toSeq)
    })(Encoders.row(outSchema)).toDF()
    (codes, books)
  }

  /** Driver-local seeded codebook fit for ONE PQ subspace: k-means++ init
    * + a fixed Lloyd iteration budget over the sampled subvectors — fully
    * deterministic from `seed` (the svr/mlp/rnn determinism pattern: fixed
    * iteration count, no convergence race). Empty clusters keep their
    * previous center. */
  private def fitCodebook(sample: Array[Array[Double]], off: Int, sub: Int,
                          kStar: Int, seed: Long): Array[Array[Double]] = {
    val xs = sample.map(u => java.util.Arrays.copyOfRange(u, off, off + sub))
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < sub) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val rng = new scala.util.Random(seed)
    val centers = scala.collection.mutable.ArrayBuffer(xs(rng.nextInt(xs.length)).clone)
    while (centers.size < kStar) {
      val dist = xs.map(x => centers.iterator.map(c => d2(x, c)).min)
      val tot = dist.sum
      if (tot <= 0) centers += xs(rng.nextInt(xs.length)).clone
      else {
        var r = rng.nextDouble() * tot; var i = 0
        while (i < xs.length - 1 && r > dist(i)) { r -= dist(i); i += 1 }
        centers += xs(i).clone
      }
    }
    var books = centers.toArray
    var it = 0
    while (it < 10) {
      val sums = Array.fill(kStar)(new Array[Double](sub))
      val cnts = new Array[Int](kStar)
      var i = 0
      while (i < xs.length) {
        var best = 0; var bd = Double.MaxValue; var j = 0
        while (j < kStar) {
          val d = d2(xs(i), books(j)); if (d < bd) { bd = d; best = j }; j += 1
        }
        cnts(best) += 1
        var t = 0
        while (t < sub) { sums(best)(t) += xs(i)(t); t += 1 }
        i += 1
      }
      books = Array.tabulate(kStar)(j =>
        if (cnts(j) == 0) books(j)
        else { val c = sums(j); var t = 0; while (t < sub) { c(t) /= cnts(j); t += 1 }; c })
      it += 1
    }
    books
  }

  /** PQ ANN top-k: asymmetric-distance (ADC) scan over the 8-byte codes
    * generates `nCand` candidates per query, then the true vectors re-rank
    * exactly — so precision is exact and, with `nCand` covering the true
    * neighborhood (ExactPropertySpec pins nCand = n−1 == brute force), the
    * output equals exact kNN while the scan reads codes, not vectors. The
    * scan is a typed per-partition kernel with the query LUTs
    * (queries × m × kStar distances) in the closure and a bounded heap per
    * query — no all-pairs join in the plan, partial results are
    * heap-pruned INSIDE each partition, and only partitions × queries ×
    * nCand candidate rows ever shuffle. The probe set is collected and
    * must be bounded (≤ 4096 — it is the user's query batch, like IVF's
    * centroid matrix; larger batches belong on [[cosineKnnLsh]] /
    * [[ivfKnn]]). */
  def pqKnn(df: DataFrame, idCol: String, vecCol: String, k: Int,
            m: Int = 8, kStar: Int = 16, nCand: Int = 64, seed: Long = 42L,
            queryFilter: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val (codes0, books) = pqIndex(df, idCol, vecCol, m, kStar, seed)
    val codes = codes0.localCheckpoint(true)
    val sub = books(0)(0).length
    val qRows = codes.filter(queryFilter).select(col("vid"), col("u")).collect()
    require(qRows.length <= 4096,
      s"pqKnn probe batch ${qRows.length} > 4096; use cosineKnnLsh/ivfKnn for bulk all-to-all")
    // per-query lookup table: lut(s)(j) = ||q_s − c_sj||²; ADC of a coded
    // vector is then m array reads + adds
    val luts = qRows.map { r =>
      val q = r.getSeq[Double](1).toArray
      val lut = Array.tabulate(m, kStar) { (s, j) =>
        val c = books(s)(j); var d2 = 0.0; var i = 0
        while (i < sub) { val d = q(s * sub + i) - c(i); d2 += d * d; i += 1 }
        d2
      }
      (r.get(0), lut)
    }
    val vidField = codes.schema.fields(codes.schema.fieldIndex("vid"))
    val candSchema = StructType(Seq(vidField.copy(name = "qvid"),
      vidField.copy(name = "nid"), StructField("adc", DoubleType)))
    val mLocal = m
    val cands = codes.select(col("vid"), col("code")).mapPartitions({ it =>
      // bounded max-heap per query: keeps the nCand SMALLEST ADC rows seen
      // in this partition
      val heaps = luts.map(q => (q._1,
        scala.collection.mutable.PriorityQueue.empty[(Double, Any)](
          Ordering.by[(Double, Any), Double](_._1))))
      it.foreach { r =>
        val nid = r.get(0)
        val code = r.getSeq[Int](1)
        var qi = 0
        while (qi < luts.length) {
          val (qvid, lut) = luts(qi)
          if (qvid != nid) {
            var adc = 0.0; var s = 0
            while (s < mLocal) { adc += lut(s)(code(s)); s += 1 }
            val h = heaps(qi)._2
            if (h.size < nCand) h.enqueue((adc, nid))
            else if (adc < h.head._1) { h.dequeue(); h.enqueue((adc, nid)) }
          }
          qi += 1
        }
      }
      heaps.iterator.flatMap { case (qvid, h) =>
        h.iterator.map { case (adc, nid) => Row(qvid, nid, adc) } }
    })(Encoders.row(candSchema)).toDF()
    // global nCand cut across partitions, then EXACT re-rank on true vectors
    rerankAdc(cands, codes, nCand, k)
  }

  /** IVF-PQ ANN top-k: product quantization over RESIDUALS
    * (`u − coarseCentroid(cell)`) instead of raw unit vectors — the
    * operating regime [[pqKnn]] measurably cannot serve. On clustered
    * corpora the raw-vector subspace codebooks train their centroids onto
    * the cluster centers, every member of a cluster quantizes to the SAME
    * code, within-cluster ADC distances go constant, and recall collapses
    * to the tie-break lottery nCand/clusterSize (measured in
    * BENCH_SCALE.json ann_points: 0.050 ≈ 16/312 … 0.164 ≈ 256/1562).
    * Encoding the residual spends the code's bits on exactly the
    * within-cluster structure the coarse quantizer removed — the
    * IVFADC construction of Jégou/Douze/Schmid, "Product Quantization
    * for Nearest Neighbor Search" (TPAMI 2011), §IV.
    *
    * Plan shape: the coarse quantizer AND the m residual codebooks are
    * driver-local deterministic fits over one bounded hash-ordered sample
    * ([[fitCodebook]] — no distributed KMeans round-trips); ONE typed map
    * assigns (cell, code) per row; queries (bounded probe batch, like
    * [[pqKnn]]) carry per-(query, probed-cell) residual LUTs in the scan
    * closure; the posting-list scan reads 8-byte codes gated on cell
    * membership with a bounded heap per query; only the nCand survivors
    * fetch true vectors for the exact re-rank. `nProbe = nCells` AND
    * `nCand ≥ n−1` degenerates to exact brute force (the ivf/pq oracle
    * pattern). */
  def ivfPqKnn(df: DataFrame, idCol: String, vecCol: String, k: Int,
               nCells: Int, nProbe: Int, m: Int = 8, kStar: Int = 16,
               nCand: Int = 64, seed: Long = 42L,
               queryFilter: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
    val p = prepared(df, idCol, vecCol)
      .withColumn("u", transform(col("v"), x => x / col("nrm")))
      .localCheckpoint(true)
    val dims = p.select(size(col("u"))).head().getInt(0)
    require(dims % m == 0, s"embedding dim $dims not divisible by m=$m subspaces")
    val sub = dims / m
    // one bounded deterministic sample trains BOTH quantizer levels: the
    // coarse centroids over full unit vectors, then the m subspace books
    // over the sample's residuals (assignments computed driver-side)
    val sampleN = 2048
    val sample: Array[Array[Double]] = p
      .select(col("u"), xxhash64(col("vid").cast("string")).as("_h"))
      .orderBy(col("_h"), col("vid"))
      .limit(sampleN)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "ivfPqKnn needs at least one vector")
    val cells = math.min(nCells, sample.length)
    val coarse: Array[Array[Double]] = fitCodebook(sample, 0, dims, cells, seed - 1)
    def nearestCell(u: Array[Double]): Int = {
      var best = 0; var bd = Double.MaxValue; var j = 0
      while (j < cells) {
        val c = coarse(j); var d2 = 0.0; var i = 0
        while (i < dims) { val d = u(i) - c(i); d2 += d * d; i += 1 }
        if (d2 < bd) { bd = d2; best = j }
        j += 1
      }
      best
    }
    val residSample = sample.map { u =>
      val c = coarse(nearestCell(u))
      Array.tabulate(dims)(i => u(i) - c(i))
    }
    val books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => fitCodebook(residSample, s * sub, sub, kStar, seed + s))
    // one distributed pass assigns (cell, code); the books + coarse matrix
    // are closure-bounded (cells·d + m·kStar·d/m doubles)
    val outSchema = StructType(p.schema.fields ++ Seq(
      StructField("cell", IntegerType),
      StructField("code", ArrayType(IntegerType, containsNull = false))))
    val uIdx = p.schema.fieldIndex("u")
    val mLocal = m; val subLocal = sub; val kStarLocal = kStar
    val coded = p.map({ r =>
      val u = r.getSeq[Double](uIdx).toArray
      val cell = nearestCell(u)
      val c = coarse(cell)
      val code = Array.tabulate(mLocal) { s =>
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < kStarLocal) {
          val b = books(s)(j); var d2 = 0.0; var i = 0
          while (i < subLocal) {
            val d = (u(s * subLocal + i) - c(s * subLocal + i)) - b(i)
            d2 += d * d; i += 1
          }
          if (d2 < bestD) { bestD = d2; best = j }
          j += 1
        }
        best
      }
      Row.fromSeq(r.toSeq ++ Seq(cell, code.toSeq))
    })(Encoders.row(outSchema)).toDF().localCheckpoint(true)
    val qRows = coded.filter(queryFilter).select(col("vid"), col("u")).collect()
    require(qRows.length <= 4096,
      s"ivfPqKnn probe batch ${qRows.length} > 4096; use cosineKnnLsh/ivfKnn for bulk all-to-all")
    val probes = math.min(nProbe, cells)
    // per (query, probed cell): residual LUT — lut(s)(j) = ||(q−c)_s − b_sj||²;
    // grouped by cell so the scan touches only the queries probing a row's cell
    val byCell: Map[Int, Array[(Any, Array[Array[Double]])]] = qRows.flatMap { r =>
      val q = r.getSeq[Double](1).toArray
      val cellD = coarse.take(cells).map { c =>
        var s = 0.0; var i = 0
        while (i < dims) { val d = q(i) - c(i); s += d * d; i += 1 }
        s
      }
      cellD.zipWithIndex.sortBy(_._1).take(probes).map { case (_, cell) =>
        val c = coarse(cell)
        val lut = Array.tabulate(m, kStar) { (s, j) =>
          val b = books(s)(j); var d2 = 0.0; var i = 0
          while (i < sub) { val d = (q(s * sub + i) - c(s * sub + i)) - b(i); d2 += d * d; i += 1 }
          d2
        }
        (cell, (r.get(0), lut))
      }
    }.groupBy(_._1).map { case (cell, xs) => (cell, xs.map(_._2)) }
    val vidField = coded.schema.fields(coded.schema.fieldIndex("vid"))
    val candSchema = StructType(Seq(vidField.copy(name = "qvid"),
      vidField.copy(name = "nid"), StructField("adc", DoubleType)))
    val nCandLocal = nCand
    val cands = coded.select(col("vid"), col("cell"), col("code")).mapPartitions({ it =>
      val heaps = scala.collection.mutable.HashMap.empty[Any,
        scala.collection.mutable.PriorityQueue[(Double, Any)]]
      def heap(q: Any) = heaps.getOrElseUpdate(q,
        scala.collection.mutable.PriorityQueue.empty[(Double, Any)](
          Ordering.by[(Double, Any), Double](_._1)))
      it.foreach { r =>
        val nid = r.get(0)
        byCell.get(r.getInt(1)).foreach { qs =>
          val code = r.getSeq[Int](2)
          var qi = 0
          while (qi < qs.length) {
            val (qvid, lut) = qs(qi)
            if (qvid != nid) {
              var adc = 0.0; var s = 0
              while (s < mLocal) { adc += lut(s)(code(s)); s += 1 }
              val h = heap(qvid)
              if (h.size < nCandLocal) h.enqueue((adc, nid))
              else if (adc < h.head._1) { h.dequeue(); h.enqueue((adc, nid)) }
            }
            qi += 1
          }
        }
      }
      heaps.iterator.flatMap { case (qvid, h) =>
        h.iterator.map { case (adc, nid) => Row(qvid, nid, adc) } }
    })(Encoders.row(candSchema)).toDF()
    rerankAdc(cands, coded, nCand, k)
  }

  /** Cross-corpus contamination matches: every (corpus, probe) pair with
    * cosine ≥ tau — the embedding-space twin of
    * [[graft.operators.Decontaminate]]'s n-gram gate (decontaminate a
    * training corpus against a benchmark/eval set before training).
    * Candidates come from an EQUI-join of the two sides' banded hyperplane
    * signatures on (band, band_val) — never an all-pairs join — with the
    * same recall math as [[cosineNearDupPairs]]; the exact normalized dot
    * re-checks each deduplicated candidate, so precision is exact. The
    * probe side is typically orders of magnitude smaller than the corpus,
    * so its signature and vector frames flow through the size-gated
    * broadcast planner while the corpus streams: each corpus row is
    * touched once for its signature and once per surviving candidate.
    * Returns (corpus_id, probe_id, sim). */
  /** `absolute = true` matches on |cosine| ≥ tau — one call finds both
    * strongly-aligned and strongly-opposed pairs (tier 2 joins on
    * CANONICAL band keys min(val, ~val), equal iff two signatures agree
    * on every hyperplane or on none — the negation's complement identity,
    * costing zero extra signature work; tier 1 just takes the absolute
    * value), and `sim` keeps its sign so callers can split the two. */
  def crossCosineMatches(corpus: DataFrame, probes: DataFrame,
                         idCol: String, vecCol: String, tau: Double,
                         bands: Int = 16, bitsPerBand: Int = 10,
                         absolute: Boolean = false): DataFrame = {
    // each side's vector frame materializes ONCE (eager checkpoint —
    // released by the ContextCleaner when unreferenced): the signature
    // pass, the dims probe, and the re-score all read the blocks instead
    // of re-running the upstream vectorization (for trigram vectors that
    // upstream is a ~300× explode — re-deriving it per consumer dominated
    // the first cut of this operator)
    // only the PROBE side materializes up front (it is read 2-3×: count,
    // dims, collect/signatures); the corpus is consumed exactly once in
    // tier 1, so checkpointing it there would only copy blocks
    val pp = prepared(probes, idCol, vecCol).localCheckpoint(false)
    val nProbes = pp.count()
    require(nProbes > 0, "crossCosineMatches needs a non-empty probe set")
    // MAX dims over the whole probe set, not the first row: with
    // variable-length vectors a first-row dims undercounts the broadcast
    // budget and truncates the tier-2 hyperplanes (silent recall loss)
    val dims = pp.agg(max(size(col("v")))).first().getInt(0)
    // Tier 1 — the canonical decontamination shape: a benchmark set that
    // fits the broadcast budget ships to every task ONCE and every corpus
    // vector scores against all of it during a single scan. Zero shuffles,
    // zero candidate materialization, flops-bound — and EXACTLY the
    // brute-force definition (recall 1 by construction). At 100 TB corpus ×
    // 10⁴ benchmark vectors this is a map-only pass.
    val bcastBudget = {
      val thr = pp.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      if (thr > 0) thr * 8 else 80L << 20
    }
    if (nProbes * (dims + 2) * 8L <= bcastBudget) {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
      val pc = prepared(corpus, idCol, vecCol)
      val probeArr = pp.select(col("vid"), col("v"), col("nrm")).collect()
        .map(r => (r.get(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      val bc = pc.sparkSession.sparkContext.broadcast(probeArr)
      val outSchema = StructType(Seq(
        pc.schema("vid").copy(name = "corpus_id"),
        pp.schema("vid").copy(name = "probe_id"),
        StructField("sim", DoubleType)))
      val abs = absolute
      pc.select(col("vid"), col("v"), col("nrm")).flatMap({ r =>
        val cv = r.getSeq[Double](1).toArray
        val cn = r.getDouble(2)
        val cid = r.get(0)
        bc.value.iterator.flatMap { case (pid, pv, pn) =>
          var s = 0.0
          var i = 0
          val n = math.min(cv.length, pv.length)
          while (i < n) { s += cv(i) * pv(i); i += 1 }
          val sim = s / (cn * pn)
          if ((if (abs) math.abs(sim) else sim) >= tau) Some(Row(cid, pid, sim))
          else None
        }
      })(Encoders.row(outSchema)).toDF()
    } else {
      // Tier 2 — probe set too big to ship: banded-signature equi-join
      // candidates (recall per [[cosineNearDupPairs]]'s band math), exact
      // re-check on the deduplicated pairs. Here the corpus IS read twice
      // (signatures + re-score), so it rides a checkpoint.
      val pc = prepared(corpus, idCol, vecCol).localCheckpoint(true)
      // the corpus is already checkpointed for its two reads here, so a
      // dims agg over the cached blocks is cheap — the hyperplane matrix
      // must span the LONGEST vector on either side or trailing components
      // never influence any signature (silent candidate-recall loss)
      val corpusDims = pc.agg(max(size(col("v")))).first().getInt(0)
      val sigDims = math.max(dims, corpusDims)
      val sc = signatureRows(pc, sigDims, bands, bitsPerBand)
      val sp = signatureRows(pp, sigDims, bands, bitsPerBand)
      // absolute mode: sign(c·(−v)) = −sign(c·v), so a negated vector's
      // band signature is the BITWISE COMPLEMENT of the original — EXCEPT
      // when some plane dot is exactly 0.0: the `s > 0` bit is then 0 for
      // both v and −v, canonical keys differ, and the pair is a false
      // NEGATIVE in that band (a recall loss the exact re-check CANNOT
      // absorb — it only removes false positives). With the rational
      // plane coefficients and real-valued embeddings an exact-zero dot
      // is measure-zero, and the pair is only lost if it flips the key in
      // EVERY band — so the canonical key is kept over a second full
      // signature pass on negated probes (bands·bits·dims flops per
      // vector + doubled probe rows through the shuffle). Key both sides
      // on min(val, mask^val): canonical keys are equal iff the
      // signatures agree on every plane or disagree on every plane —
      // the |cosine| candidate set up to the zero-dot caveat above
      val (scK, spK) = if (!absolute) (sc, sp) else {
        val mask = lit((1L << bitsPerBand) - 1)
        def canon(df: DataFrame) = df.withColumn("band_val",
          least(col("band_val"), mask.bitwiseXOR(col("band_val"))))
        (canon(sc), canon(sp))
      }
      val cands = scK.as("c").join(spK.as("p"), Seq("band", "band_val"))
        .select(col("c.vid").as("cid"), col("p.vid").as("pid"))
        .distinct()
      cands
        .join(pc.select(col("vid").as("cid"), col("v").as("_cv"), col("nrm").as("_cn")), Seq("cid"))
        .join(pp.select(col("vid").as("pid"), col("v").as("_pv"), col("nrm").as("_pn")), Seq("pid"))
        .select(col("cid").as("corpus_id"), col("pid").as("probe_id"),
          (dotFast(col("_cv"), col("_pv")) / (col("_cn") * col("_pn"))).as("sim"))
        .filter((if (absolute) abs(col("sim")) else col("sim")) >= tau)
    }
  }

  /** (vid, band, band_val) signature rows from an already-`prepared`
    * (vid, v, …) frame — the [[bandedSignatures]] kernel without the
    * re-preparation, for callers that hold a materialized vector frame. */
  private def signatureRows(p: DataFrame, dims: Int, bands: Int,
                            bitsPerBand: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val coefs = Array.tabulate(bands * bitsPerBand, dims)(planeCoefV)
    val outSchema = StructType(Seq(p.schema("vid").copy(name = "vid"),
      StructField("band", IntegerType), StructField("band_val", LongType)))
    p.select(col("vid"), col("v")).flatMap({ r =>
      val arr = r.getSeq[Double](1).toArray
      (0 until bands).map { b =>
        var bucket = 0L
        var bit = 0
        while (bit < bitsPerBand) {
          val c = coefs(b * bitsPerBand + bit)
          var s = 0.0
          var d = 0
          val n = math.min(arr.length, c.length)
          while (d < n) { s += arr(d) * c(d); d += 1 }
          if (s > 0) bucket |= (1L << bit)
          bit += 1
        }
        Row(r.get(0), b, bucket)
      }
    })(Encoders.row(outSchema)).toDF()
  }

  /** Embedding-cosine near-duplicate pairs: sim ≥ threshold, each pair once.
    *
    * Candidate generation is an EQUI-join on (band, band_val) over banded
    * hyperplane signatures — never an all-pairs non-equi self-join: the plan
    * is shuffle-keyed by band value and cost is O(n·bands + Σ bucket²), the
    * 100 TB shape. The signature frame is materialized ONCE (checkpoint) and
    * carries only (vid, band, band_val); vectors join back only for the
    * deduplicated candidate pairs. Exact cosine then re-checks every
    * candidate, so precision is exact; recall is governed by
    * (bands, bitsPerBand) — at near-dup thresholds (≥ ~0.9 ⇒ angle ≤ 26°) a
    * plane splits a pair with probability θ/π ≤ 0.14, so 16 bands of 8 bits
    * give a pair miss rate of (1 − (1−θ/π)^8)^16 < 1e-3; ExactPropertySpec
    * pins equality with the brute-force definition on the fixture. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, bands: Int = 16,
                         bitsPerBand: Int = 8): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    val p = prepared(df, idCol, vecCol).localCheckpoint(true)
    val dims = p.select(size(col("v"))).first().getInt(0)
    val coefs = Array.tabulate(bands * bitsPerBand, dims)(planeCoefV)
    val idType = p.schema("vid").dataType
    // one typed pass computes the FULL per-vector signature array (tight
    // primitive loop over the plan-time coefficient matrix)
    val sigSchema = StructType(Seq(StructField("vid", idType),
      StructField("sigs", ArrayType(LongType, containsNull = false))))
    val sigs = p.select(col("vid"), col("v")).map({ r =>
      val arr = r.getSeq[Double](1).toArray
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var bucket = 0L
        var bit = 0
        while (bit < bitsPerBand) {
          val c = coefs(b * bitsPerBand + bit)
          var s = 0.0
          var d = 0
          val n = math.min(arr.length, c.length)
          while (d < n) { s += arr(d) * c(d); d += 1 }
          if (s > 0) bucket |= (1L << bit)
          bit += 1
        }
        out(b) = bucket
        b += 1
      }
      Row(r.get(0), out)
    })(Encoders.row(sigSchema)).toDF()
    // Exact cosine re-check, two tiers (same cutoff philosophy as
    // [[graft.core.Joins.maybeBroadcast]]):
    //  - corpus fits the broadcast budget → ship the vectors ONCE as a
    //    broadcast map and score pairs INSIDE each band bucket, so a
    //    sub-threshold candidate dies in the task that generated it. The
    //    alternative (candidate equi-join → distinct → re-check) shuffles
    //    EVERY band match: on a dense corpus that is tens of millions of
    //    slim rows through two exchanges before the first dot product —
    //    AQE's blind spot, because the join's OUTPUT ≫ its input bytes.
    //    Here the only shuffled pairs are genuine near-dups (duplicated at
    //    most once per matching band and bit-identical across bands — same
    //    doubles, same summation order — so `distinct` collapses them).
    //  - bigger corpus → slim candidate equi-join on a pinned full-width
    //    partitioning; vectors ride back on equi-joins, the compiled dot
    //    scores each row, AQE picks strategies from runtime sizes.
    val bcastBudget = {
      val thr = p.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      if (thr > 0) thr * 8 else 80L << 20
    }
    val nRows = p.count()
    val corpusBytes = nRows * (dims + 2) * 8L
    // exchange widths from the KNOWN row count (already paid by the
    // broadcast-gate count above), not the raw session pin — the §2.9.12
    // width law as a library rule ([[graft.core.Widths]]): a big session
    // meeting these thin exchanges drives segment counts quadratic while a
    // fixture-scale run floors at the session width (plan-identical to the
    // historical ones). Expansion models, stated:
    //  - the banded-signature exchange carries n·bands slim
    //    (vid, band, band_val) rows ≈ 28 B each;
    //  - the candidate re-spread feeds the exact re-check, where each
    //    surviving pair fans into two dims-length vectors (~16·dims B per
    //    row downstream); near-dup pair volume is ~O(n) on a deduplicable
    //    corpus (each doc has O(1) near-dups), so n rows at that width.
    val bandPart = graft.core.Widths.forRows(p.sparkSession,
      nRows * bands, 28L)
    val candPart = graft.core.Widths.forRows(p.sparkSession,
      nRows, 16L * math.max(dims, 1))
    val outSchema = StructType(Seq(StructField("id_a", idType), StructField("id_b", idType),
      StructField("sim", org.apache.spark.sql.types.DoubleType)))
    if (corpusBytes <= bcastBudget) {
      import org.apache.spark.sql.types.{IntegerType, StringType}
      val vecMap = p.select(col("vid"), col("v"), col("nrm")).collect()
        .map(r => r.get(0) -> ((r.getSeq[Double](1).toArray, r.getDouble(2)))).toMap
      val bc = p.sparkSession.sparkContext.broadcast(vecMap)
      val ord: Ordering[Any] = idType match {
        case LongType    => Ordering.by(_.asInstanceOf[Long])
        case IntegerType => Ordering.by(_.asInstanceOf[Int])
        case StringType  => Ordering.by(_.asInstanceOf[String])
        case _           => Ordering.by((x: Any) => x.toString)
      }
      // one dense bucket must not serialize into one task: split its pair
      // triangle into fixed-size row ranges and spread them round-robin
      val chunk = 256
      val unitSchema = StructType(Seq(
        StructField("vids", ArrayType(idType, containsNull = false)),
        StructField("lo", IntegerType), StructField("hi", IntegerType)))
      val units = sigs
        .select(col("vid"), posexplode(col("sigs")).as(Seq("band", "band_val")))
        .groupBy("band", "band_val").agg(collect_list(col("vid")).as("vids"))
        .filter(size(col("vids")) > 1)
        .flatMap({ r =>
          val vids = r.getSeq[Any](r.fieldIndex("vids")).sorted(ord)
          (0 until vids.length by chunk).iterator
            .map(lo => Row(vids, lo, math.min(lo + chunk, vids.length)))
        })(Encoders.row(unitSchema))
      units.repartition(bandPart).flatMap({ r =>
        val vids = r.getSeq[Any](0).toArray
        val lo = r.getInt(1)
        val hi = r.getInt(2)
        val m = bc.value
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var i = lo
        while (i < hi) {
          val (va, na) = m(vids(i))
          var j = i + 1
          while (j < vids.length) {
            val (vb, nb) = m(vids(j))
            var s = 0.0
            var d = 0
            val n = math.min(va.length, vb.length)
            while (d < n) { s += va(d) * vb(d); d += 1 }
            val sim = s / (na * nb)
            if (sim >= threshold) out += Row(vids(i), vids(j), sim)
            j += 1
          }
          i += 1
        }
        out.iterator
      })(Encoders.row(outSchema)).toDF().distinct()
    } else {
      val exploded = sigs.select(col("vid"),
          posexplode(col("sigs")).as(Seq("band", "band_val")))
        .localCheckpoint(true)
        .repartition(bandPart, col("band"), col("band_val"))
      val cand = exploded.as("a").join(exploded.as("b"),
          col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val") &&
            col("a.vid") < col("b.vid"))
        .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"))
        .distinct()
        // spread the exact re-check: the distinct's output exchange is sized
        // by AQE for shuffle bytes, but each slim pair fans out into a
        // 2·dims dot product next — round-robin back to re-check width first
        .repartition(candPart)
      val va = p.select(col("vid").as("id_a"), col("v").as("_va"), col("nrm").as("_na"))
      val vb = p.select(col("vid").as("id_b"), col("v").as("_vb"), col("nrm").as("_nb"))
      cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          (dotFast(col("_va"), col("_vb")) / (col("_na") * col("_nb"))).as("sim"))
        .filter(col("sim") >= threshold)
    }
  }
}
