package graft

import graft.operators.{Conformal, Dedup, Imputer, Similarity}
import graft.functions.TextOps
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {

  test("linear interp fills [1,2,·,4] with 3.0 (util.py known answer)") {
    val df = seriesOf(Seq(Some(1.0), Some(2.0), None, Some(4.0)))
    val out = Imputer.linearInterp(df)
    assert(col1(out, "y") === Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("monthly date-spine inserts missing rows (FIXTURES §4)") {
    import spark.implicits._
    val df = Seq(
      ("s", java.sql.Date.valueOf("2020-01-01"), Some(1.0), false),
      ("s", java.sql.Date.valueOf("2020-02-01"), Some(2.0), false),
      ("s", java.sql.Date.valueOf("2020-04-01"), Some(4.0), false)
    ).toDF("series_id", "ds", "y", "is_future")
    val out = Imputer.linearInterp(Imputer.withMonthlySpine(df))
    assert(out.count() === 4)
    // inserted 2020-03-01 fills 3.0 — positional interp (FIXTURES §4)
    val v = out.filter(col("ds") === "2020-03-01").select("y").first().getDouble(0)
    assert(math.abs(v - 3.0) < 1e-9)
  }

  private def eqNaN(a: Seq[Double], b: Seq[Double]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      (x.isNaN && y.isNaN) || x == y
    }

  test("ffill / bfill / moving average") {
    val df = seriesOf(Seq(Some(1.0), None, Some(3.0), None))
    assert(eqNaN(col1(Imputer.ffill(df), "y"), Seq(1.0, 1.0, 3.0, 3.0)))
    assert(eqNaN(col1(Imputer.bfill(df), "y"), Seq(1.0, 3.0, 3.0, Double.NaN)))
    assert(eqNaN(col1(Imputer.movingAverage(df, 2), "y"), Seq(1.0, 1.0, 3.0, 3.0)))
  }

  test("conformal width is the cilevel-percentile of |test residuals|") {
    import spark.implicits._
    // residuals |y - yhat| = 1..20 → 0.95-percentile (linear interp) = 19.05
    val rows = (1 to 20).map(i =>
      ("s", java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusMonths(i)),
        i.toDouble, false, true, 0.0))
    val df = rows.toDF("series_id", "ds", "y", "is_future", "is_test", "yhat")
    val out = Conformal.withIntervals(df)
    val w = out.select("ci_width").first().getDouble(0)
    assert(math.abs(w - 19.05) < 1e-9)
    assert(Conformal.minTestLength(0.95) === 20)
  }

  test("exact dedup groups identical texts") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val g = Dedup.exactGroups(df, "doc_id", "text").collect()
    assert(g.length === 2)
    val dup = g.find(_.getAs[Long]("n_docs") == 2).get
    assert(dup.getAs[Long]("canonical_id") === 1L)
  }

  test("jaccard pairs find near-duplicates, not unrelated docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"), // shares most 3-grams with 1
      (3L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.3).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getAs[Long]("doc_a") === 1L && pairs.head.getAs[Long]("doc_b") === 2L)
  }

  test("minhash est_jaccard ≈ 1 for identical docs") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "z z2 z3 z4 z5 z6"))
      .toDF("doc_id", "text")
    val cand = Dedup.minhashCandidates(df, "doc_id", "text").collect()
    val p = cand.find(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(p.isDefined && p.get.getAs[Double]("est_jaccard") === 1.0)
  }

  test("simhash: identical docs have hamming 0") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "totally different words here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", 0).collect()
    assert(pairs.length === 1 && pairs.head.getAs[Long]("hamming") === 0L)
  }

  test("bigram perplexity matches a hand computation") {
    import spark.implicits._
    import graft.functions.TextOps
    // corpus bigrams: (a,b)x3, (b,a)x1, (a,c)x1; contexts C(a)=4, C(b)=1
    // P(b|a)=3/4, P(a|b)=1, P(c|a)=1/4
    val d = Seq((1L, "a b a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val out = TextOps.bigramPerplexity(d, "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 3 && math.abs(out(1L)._2 - math.pow(0.75, -2.0 / 3)) < 1e-9)
    assert(out(2L)._1 == 1 && math.abs(out(2L)._2 - 4.0 / 3) < 1e-9)
    assert(out(3L)._1 == 1 && math.abs(out(3L)._2 - 4.0) < 1e-9)
  }

  test("Kneser-Ney perplexity matches an independent reference and normalizes exactly") {
    import spark.implicits._
    import graft.functions.TextOps
    val D = 0.75
    // independent plain-Scala interpolated-KN reference over token lists —
    // same estimator written against maps, no DataFrames anywhere
    def knRef(train: Seq[Seq[String]], n: Int) = {
      def gramsOf(k: Int) =
        train.flatMap(t => t.sliding(k).filter(_.size == k))
      val cN = gramsOf(n).groupBy(identity).map { case (g, o) => g -> o.size }
      val cCtx = cN.groupBy(_._1.dropRight(1)).map { case (k, m) => k -> m.values.sum }
      val n1pN = cN.keySet.groupBy(_.dropRight(1)).map { case (k, g) => k -> g.map(_.last).size }
      val cont = (2 until n).map { m =>
        val tps = gramsOf(m + 1).toSet
        m -> (tps.groupBy(_.drop(1)).map { case (g, s) => g -> s.map(_.head).size },
          tps.groupBy(_.slice(1, m)).map { case (cx, s) => cx -> s.size },
          tps.groupBy(_.slice(1, m)).map { case (cx, s) => cx -> s.map(_.last).size })
      }.toMap
      val bt = gramsOf(2).toSet
      val cc1 = bt.groupBy(_.last).map { case (w, s) => w -> s.map(_.head).size }
      val nBt = math.max(bt.size, 1).toDouble
      val vCont = cc1.size.toDouble
      val v = train.flatten.toSet.size.toDouble
      (g: Seq[String]) => {
        var p = math.max(cc1.getOrElse(g.last, 0) - D, 0.0) / nBt +
          (D * vCont / nBt) * (1.0 / (v + 1.0))
        for (m <- 2 until n) {
          val gm = g.takeRight(m); val cx = gm.dropRight(1)
          val (cc, ct, n1p) = cont(m)
          val ctv = ct.getOrElse(cx, 0).toDouble
          if (ctv > 0)
            p = math.max(cc.getOrElse(gm, 0) - D, 0.0) / ctv + D * n1p(cx) / ctv * p
        }
        val cx = g.dropRight(1)
        val cctx = cCtx.getOrElse(cx, 0).toDouble
        if (cctx <= 0) p
        else math.max(cN.getOrElse(g, 0) - D, 0.0) / cctx + D * n1pN(cx) / cctx * p
      }
    }
    val trainDocs = Seq(
      1L -> "the cat sat on the mat",
      2L -> "the cat ate the fish",
      3L -> "a dog sat on a log",
      4L -> "the dog ate the bone",
      // CROSS-DOC duplicate grams ("the cat sat" repeats doc 1): type
      // tables must be corpus-level distinct, not per-doc distinct — a
      // per-doc distinct inflates every continuation normalizer (the bug
      // the first cut shipped and the sf0.01 oracle caught)
      5L -> "the cat sat by the window")
    val scoreDocs = Seq(
      10L -> "the cat sat on the mat",    // fully in-domain
      11L -> "the walrus sat on the mat", // OOV token mid-gram
      12L -> "cat fish bone dog a the")   // token salad, unseen contexts
    val toks = (s: String) => s.split(" ").toSeq
    for (n <- Seq(2, 3, 4)) {
      val prob = knRef(trainDocs.map(t => toks(t._2)), n)
      // exact normalization: for any context, Σ P(w|ctx) over the train
      // vocabulary PLUS one never-seen token is exactly 1 — the property
      // that makes exp(−avg ln P) a real perplexity, OOV included
      val vocab = trainDocs.flatMap(t => toks(t._2)).distinct
      for (ctx <- Seq(Seq.fill(n - 1)("the").take(n - 1),
                      toks("sat on the").takeRight(n - 1),
                      Seq.fill(n - 1)("walrus").take(n - 1))) {
        val total = (vocab :+ "NEVERSEEN").map(w => prob(ctx :+ w)).sum
        assert(math.abs(total - 1.0) < 1e-9, s"n=$n ctx=$ctx sums to $total")
      }
      // the DataFrame operator equals the reference on every scored doc
      val out = TextOps.knPerplexity(
          trainDocs.toDF("doc_id", "text"), scoreDocs.toDF("doc_id", "text"),
          "doc_id", n = n).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      scoreDocs.foreach { case (id, text) =>
        val gs = toks(text).sliding(n).filter(_.size == n).toSeq
        val expPpl = math.exp(-gs.map(g => math.log(prob(g))).sum / gs.size)
        assert(out(id)._1 == gs.size, s"n=$n doc=$id gram count")
        assert(math.abs(out(id)._2 / expPpl - 1.0) < 1e-9,
          s"n=$n doc=$id ppl ${out(id)._2} vs ref $expPpl")
      }
      // OOV text scores strictly worse than in-domain text, never NaN/∞
      assert(out(10L)._2 < out(11L)._2 && out(11L)._2.isFinite)
      assert(out(12L)._2 > out(10L)._2)
    }
    // DEGENERATE train corpus (no bigram types at all): every scored gram
    // lands on the guarded uniform constant — finite ppl, no ln 0
    val degenerate = TextOps.knPerplexity(
        Seq(1L -> "solo").toDF("doc_id", "text"),
        scoreDocs.toDF("doc_id", "text"), "doc_id", n = 3).collect()
    assert(degenerate.nonEmpty &&
      degenerate.forall(r => r.getDouble(2).isFinite && r.getDouble(2) > 0))
  }

  test("NB quality classifier matches an independent reference; OOV and empty-class paths finite") {
    import spark.implicits._
    import graft.operators.Quality
    val B = 1 << 20
    // independent plain-Scala multinomial NB over raw gram strings — the
    // same estimator written against maps, no DataFrames, no hashing
    // (at B = 2^20 and ~a dozen grams the md5 buckets are collision-free,
    // so raw-gram counts and hashed-bucket counts coincide)
    def nbRef(train: Seq[(String, Boolean)]): String => (Int, Double) = {
      def feats(t: String): Seq[String] = {
        val w = t.split(" ").toSeq
        w ++ w.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      }
      val cg = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      val cb = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      train.foreach { case (t, g) =>
        feats(t).foreach(f => if (g) cg(f) += 1 else cb(f) += 1) }
      val tg = cg.values.sum.toDouble
      val tb = cb.values.sum.toDouble
      val ndg = train.count(_._2).toDouble
      val ndb = train.size - ndg
      t => {
        val fs = feats(t)
        (fs.size, math.log(math.max(ndg, 1.0) / math.max(ndb, 1.0)) + fs.map(f =>
          math.log((cg(f) + 1.0) / (tg + B)) -
            math.log((cb(f) + 1.0) / (tb + B))).sum)
      }
    }
    val train = Seq(
      (1L, "cat cat likes fish", true),
      (2L, "cat sat here", true),
      (3L, "dog hates fish", false),
      (4L, "dog dug holes", false))
    val score = Seq(
      10L -> "cat likes fish",  // in-domain good
      11L -> "dog hates cat",   // mostly bad-class grams
      12L -> "bird flies")      // every feature OOV → pure smoothing default
    val ref = nbRef(train.map(t => (t._2, t._3)))
    val out = Quality.nbClassifier(
        train.toDF("doc_id", "text", "is_good"),
        score.toDF("doc_id", "text"), "doc_id", "is_good", buckets = B)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    score.foreach { case (id, text) =>
      val (nf, s) = ref(text)
      assert(out(id)._1 == nf, s"doc=$id n_feats ${out(id)._1} vs ref $nf")
      assert(math.abs(out(id)._2 - s) < 1e-9,
        s"doc=$id score ${out(id)._2} vs ref $s")
    }
    // the classifier separates the classes it was trained on
    assert(out(10L)._2 > 0 && out(11L)._2 < 0)
    // all-OOV doc: exactly n_feats copies of the unseen-bucket log-ratio
    // plus the prior — the left-join smoothing default, never −∞
    val (nfOov, sOov) = ref("bird flies")
    assert(out(12L)._1 == nfOov && math.abs(out(12L)._2 - sOov) < 1e-9)
    assert(out(12L)._2.isFinite)
    // EMPTY bad class: priors guard to greatest(·,1), counts stay finite
    val oneClass = Quality.nbClassifier(
        train.filter(_._3).toDF("doc_id", "text", "is_good"),
        score.toDF("doc_id", "text"), "doc_id", "is_good", buckets = B)
      .collect().map(r => r.getDouble(2))
    assert(oneClass.nonEmpty && oneClass.forall(_.isFinite))
  }

  test("BPE vocab training replays a hand-computed merge sequence, greedy on char runs") {
    import spark.implicits._
    import graft.operators.Bpe
    // words: aaab x2, ab x1
    // round 1: (a,a)=4 [two per aaab] beats (a,b)=3 -> aaab = [aa,a,b]
    //          (greedy: [a,a,a] merges LEFT pair only, never [aaa])
    // round 2: (a,b)=3 [2x aaab + ab] beats (aa,a)=2 -> [aa,ab], [ab]
    // round 3: (aa,ab)=2 -> [aaab]; round 4: no pairs left -> stop early
    val d = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val out = Bpe.trainVocab(d, "text", merges = 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1, "a", "a", 4L), (2, "a", "b", 3L), (3, "aa", "ab", 2L)))
    // degenerate corpora: no adjacent pairs anywhere (all 1-char words)
    // and the empty corpus both yield an empty merge table, not a crash
    assert(Bpe.trainVocab(Seq((1L, "a b c")).toDF("doc_id", "text"),
      "text", merges = 3).count() === 0)
    assert(Bpe.trainVocab(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "text", merges = 3).count() === 0)
  }

  test("winnowing fingerprints match a hand computation, rightmost on ties") {
    import spark.implicits._
    import graft.functions.TextOps
    // "abcab", k=3, w=2: SELECTION keys (base 31 mod 2^20)
    //   p1 "abc" = 97*961+98*31+99 = 96354
    //   p2 "bca" = 98*961+99*31+97 = 97344
    //   p3 "cab" = 99*961+97*31+98 = 98244
    // windows (p1,p2) -> p1, (p2,p3) -> p2; the EMITTED hash is the
    // 60-bit md5-prefix of the selected gram (fingerprint64 recipe)
    def h60(g: String): Long = BigInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
        .take(15), 16).toLong
    val d = Seq((1L, "abcab"), (2L, "aaaaa")).toDF("doc_id", "text")
    val fp = TextOps.winnowFingerprints(d, "doc_id", k = 3, w = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fp.filter(_._1 == 1L) ==
      Set((1L, 1L, h60("abc")), (1L, 2L, h60("bca"))))
    // "aaaaa": all three grams hash equal -> each window keeps the
    // RIGHTMOST position (the Schleimer tie rule): p2 and p3, same h
    val aaa = fp.filter(_._1 == 2L)
    assert(aaa.map(_._2) == Set(2L, 3L) && aaa.map(_._3).size == 1)
  }

  test("winnowing guarantee: docs sharing a long substring share a fingerprint") {
    import spark.implicits._
    import graft.functions.TextOps
    import graft.operators.Dedup
    val passage = "the quick brown fox jumps over the lazy dog near the river bank"
    val d = Seq(
      (1L, s"intro words here $passage trailing content after"),
      (2L, s"completely other opening text $passage and a different ending"),
      (3L, "nothing in common with either of those two documents at all now")
    ).toDF("doc_id", "text")
    val hs = TextOps.winnowFingerprints(d, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val byDoc = hs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "a shared substring >= k+w-1 chars must contribute a shared fingerprint")
    val pairs = Dedup.fingerprintPairs(d, "doc_id", "text", minShared = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"only the passage-sharing pair, got $pairs")
  }

  test("gopher repetition gates: spammy doc fails, normal doc passes") {
    import spark.implicits._
    val df = Seq(
      (1L, "buy now buy now buy now buy now buy now buy now"),
      // long enough that no single unique 2-gram holds >20% of the chars
      // (the Gopher thresholds target web-document lengths)
      (2L, "the quick brown fox jumps over seven lazy sleeping dogs today " +
        "while distant mountains echo with morning light and rivers carve " +
        "patient valleys through ancient stone toward a waiting sea")
    ).toDF("doc_id", "text")
    val stats = graft.operators.Quality.gopherKeep(
      graft.operators.Quality.repetitionStats(df, "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!stats(1L).getAs[Boolean]("keep"), "repeated 2-gram must fail the gate")
    assert(stats(1L).getAs[Double]("top2gram_frac") > 0.5)
    assert(stats(2L).getAs[Boolean]("keep"))
    val kept = graft.operators.Quality.gopherFilter(df, "doc_id", "text")
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("decontamination flags near-verbatim benchmark overlap and cleans it") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally unrelated text with different words entirely here")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Decontaminate
      .contaminatedPairs(train, bench, "doc_id", "text", 3, 0.5).collect()
    assert(pairs.length == 1 && pairs.head.getAs[Long]("doc") == 1L)
    assert(math.abs(pairs.head.getAs[Double]("overlap_frac") - 1.0) < 1e-12)
    val cleaned = graft.operators.Decontaminate.clean(train, bench, "doc_id", "text", 3, 0.5)
    assert(cleaned.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("bloom-prefiltered decontamination == exact path, even under FP pressure") {
    import spark.implicits._
    // 120 train docs sharing a vocab pool, 6 bench docs copied verbatim from
    // train plus one novel bench doc — overlap structure is non-trivial
    val train = (1 to 120).map { i =>
      (i.toLong, (0 until 12).map(j => s"w${(i * 7 + j * 3) % 40}").mkString(" "))
    }.toDF("doc_id", "text")
    val bench = ((1 to 6).map { i =>
      (1000L + i, (0 until 12).map(j => s"w${(i * 20 * 7 + j * 3) % 40}").mkString(" "))
    } :+ (2000L, "novel tokens nothing shares qq rr ss tt uu vv ww xx"))
      .toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc"), r.getAs[Long]("bench_id"),
        math.round(r.getAs[Double]("overlap_frac") * 1e9))
    val exact = graft.operators.Decontaminate
      .contaminatedPairs(train, bench, "doc_id", "text", 3, 0.3)
      .collect().map(key).toSet
    assert(exact.nonEmpty, "fixture must produce overlap pairs")
    val bloom = graft.operators.Decontaminate
      .contaminatedPairsBloom(train, bench, "doc_id", "text", 3, 0.3)
      .collect().map(key).toSet
    assert(bloom == exact, "bloom path must equal the exact inverted index")
    // 64-bit filter → near-certain false positives; the exact join must
    // still discard every one of them (result-invariance under FP pressure)
    val tiny = graft.operators.Decontaminate
      .contaminatedPairsBloom(train, bench, "doc_id", "text", 3, 0.3,
        expectedItems = 4L, numBits = 64L)
      .collect().map(key).toSet
    assert(tiny == exact, "false positives must die in the exact join")
    // empty bench side: no pairs, not a crash
    assert(graft.operators.Decontaminate
      .contaminatedPairsBloom(train, bench.filter(lit(false)), "doc_id", "text")
      .count() == 0L)
  }

  test("hash sampling is deterministic, partition-invariant, and quota-accurate") {
    import spark.implicits._
    val df = (1 to 4000).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "stratum")
    val s1 = graft.operators.Sampling
      .stratifiedHashSample(df, "id", "stratum", Map("a" -> 0.5, "b" -> 0.25))
      .collect().map(_.getLong(0)).toSet
    val s2 = graft.operators.Sampling
      .stratifiedHashSample(df.repartition(7), "id", "stratum", Map("a" -> 0.5, "b" -> 0.25))
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "membership must not depend on partitioning")
    val nA = s1.count(_ % 2 == 0); val nB = s1.size - nA
    assert(math.abs(nA / 2000.0 - 0.5) < 0.05, s"stratum a kept $nA of 2000")
    assert(math.abs(nB / 2000.0 - 0.25) < 0.05, s"stratum b kept $nB of 2000")
    // salt decorrelates
    val salted = graft.operators.Sampling.hashSample(df, "id", 0.5, salt = "x")
      .collect().map(_.getLong(0)).toSet
    val unsalted = graft.operators.Sampling.hashSample(df, "id", 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(salted != unsalted)
  }

  test("temperature sampling: alpha=1 is the uniform sample, alpha=0 equalizes quotas") {
    import spark.implicits._
    import graft.operators.Sampling
    // 60 'a'-stratum rows, 20 'b'-stratum rows
    val d = ((1 to 60).map(i => (i.toLong, "a")) ++ (61 to 80).map(i => (i.toLong, "b")))
      .toDF("doc_id", "stratum")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // alpha=1: frac_d = T/N for every stratum == plain hashSample(T/N)
    val t1 = ids(Sampling.temperatureSample(d, "doc_id", "stratum", 1.0, 40))
    val u = ids(Sampling.hashSample(d, "doc_id", 0.5))
    assert(t1 == u, "alpha=1 must reduce to the uniform content-hash sample")
    // alpha=0: frac_d = T/(k*n_d) == stratified quotas equalized per stratum
    val t0 = ids(Sampling.temperatureSample(d, "doc_id", "stratum", 0.0, 40))
    val q = ids(Sampling.stratifiedHashSample(d, "doc_id", "stratum",
      Map("a" -> 20.0 / 60, "b" -> 1.0)))
    assert(t0 == q, "alpha=0 must equalize per-stratum quotas")
  }

  test("token-budget sampling: budgets in tokens, capped rates, unlisted strata kept in plan") {
    import spark.implicits._
    import graft.operators.Sampling
    import org.apache.spark.sql.functions.col
    // stratum a: 100 docs x 10 tokens = 1000; b: 10 x 100 = 1000; c unlisted
    val d = ((1 to 100).map(i => (i.toLong, "a", 10L)) ++
      (101 to 110).map(i => (i.toLong, "b", 100L)) ++
      (111 to 120).map(i => (i.toLong, "c", 10L)))
      .toDF("doc_id", "stratum", "nt")
    val shares = Map("a" -> 0.3, "b" -> 0.7)
    val plan = Sampling.tokenBudgetPlan(d, "stratum", col("nt"), 1000, shares)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(plan("a") === ((1000L, 300L, 0.3)))
    assert(plan("b") === ((1000L, 700L, 0.7)))
    assert(plan("c") === ((100L, 0L, 0.0)), "unlisted stratum surfaces with budget 0")
    // oversubscribed budget caps at rate 1 (keep everything)
    val capped = Sampling.tokenBudgetPlan(d.filter(col("stratum") === "b"),
      "stratum", col("nt"), 10000, Map("b" -> 0.5))
      .collect().head
    assert(capped.getDouble(3) === 1.0, "budget > availability must cap at 1")
    // sample: partition-invariant membership, zero rows from share-0 strata,
    // realized tokens near the budget for the row-rich stratum
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "stratum", "nt").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val s1 = rows(Sampling.tokenBudgetSample(d, "doc_id", "stratum", col("nt"),
      1000, shares))
    val s2 = rows(Sampling.tokenBudgetSample(d.repartition(7), "doc_id",
      "stratum", col("nt"), 1000, shares))
    assert(s1.toSet === s2.toSet, "membership must not depend on partitioning")
    assert(!s1.exists(_._2 == "c"), "share-0 stratum contributes no rows")
    val aTokens = s1.filter(_._2 == "a").map(_._3).sum
    assert(math.abs(aTokens - 300L) <= 150L,
      s"stratum a realized $aTokens tokens against a 300-token budget")
  }

  test("concat-and-chunk packing: per-shard offsets are gapless and partition-invariant") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, 10L + i % 37)).toDF("id", "nt")
    val packed = graft.operators.Packing.concatChunks(df, "id", "nt", budget = 64, nShards = 4)
    val rows = packed.select("shard", "offset_start", "nt", "chunk_start", "chunk_end")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // within each shard the offsets tile the concatenated stream exactly
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.head._2 == 0L, "each shard starts at offset 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._2 == a._2 + a._3, s"gap between $a and $b")
        case _ => ()
      }
    }
    // chunk span covers the doc's token interval at budget 64
    rows.foreach { case (_, off, nt, cs, ce) =>
      assert(cs == off / 64 && ce == (off + nt - 1) / 64)
    }
    // layout is a pure function of content — repartitioning can't move a doc
    val again = graft.operators.Packing
      .concatChunks(df.repartition(11), "id", "nt", 64, 4)
      .select("id", "shard", "offset_start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val first = packed.select("id", "shard", "offset_start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(first == again)
  }

  test("cosine kNN ranks an identical vector first") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1.0f, 0f, 0f)), (1L, Array(1.0f, 0f, 0f)),
      (2L, Array(0f, 1.0f, 0f)), (3L, Array(0.9f, 0.1f, 0f))
    ).toDF("vec_id", "embedding")
    val knn = Similarity.cosineKnn(df, "vec_id", "embedding", 2)
    val top = knn.filter(col("query_id") === 0 && col("rank") === 1).first()
    assert(top.getAs[Long]("neighbor_id") === 1L)
    assert(math.abs(top.getAs[Double]("sim") - 1.0) < 1e-9)
  }

  test("bpeish token count matches a hand-split; frame sampling is bounded and deterministic") {
    import spark.implicits._
    import graft.functions.TextOps
    // "I'll pay $12, ok?" → [I]['ll][ pay][ $][12][,][ ok][?] = 8 pieces
    val df = Seq((1L, "I'll pay $12, ok?")).toDF("doc_id", "text")
    assert(df.select(TextOps.bpeishTokenCount(col("text"))).first().getLong(0) == 8L)

    import graft.operators.Multimodal
    val docs = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(
      Multimodal.withBinaryPayload(docs, "text"), everyK = 25).collect()
    val meta = Multimodal.extractFeatures(
      Multimodal.withBinaryPayload(docs, "text")).collect().map(m => m.doc_id -> m).toMap
    frames.groupBy(_.doc_id).foreach { case (id, fs) =>
      val expect = math.max(1L, (meta(id).duration_ms * 25.0 / 1000.0).toLong + 24) / 25
      assert(fs.length.toLong == expect, s"doc $id frames ${fs.length} vs $expect")
      assert(fs.map(_.frame_checksum).distinct.length == fs.length, "frames distinct")
    }
    val resized = Multimodal.withResizeTargets(
      Multimodal.extractFeatures(Multimodal.withBinaryPayload(docs, "text")).toDF(), 256)
    assert(resized.filter(col("target_width") > 256 || col("target_height") > 256).count() == 0)
  }

  test("HeaderDecoder parses hand-written PNG/JPEG/GIF byte layouts and rejects garbage") {
    import graft.operators.Multimodal.HeaderDecoder
    // PNG, 3×2: literal bytes straight from the spec (sig + IHDR), written
    // by hand so a mirrored builder/parser bug cannot hide
    val png = Array(
      0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0x00, 0x00, 0x00, 0x0d, 'I', 'H', 'D', 'R',      // len 13 + "IHDR"
      0x00, 0x00, 0x00, 0x03,                          // width 3 (BE)
      0x00, 0x00, 0x00, 0x02,                          // height 2 (BE)
      0x08, 0x02, 0x00, 0x00, 0x00).map(_.toByte)
    assert(HeaderDecoder.decode(png).contains(("png", 3L, 2L)))
    // JPEG: SOI, APP0 (skipped by length), SOF0 with height 5 width 7
    val jpg = Array(
      0xff, 0xd8,                                      // SOI
      0xff, 0xe0, 0x00, 0x04, 0x00, 0x00,              // APP0, len 4
      0xff, 0xc0, 0x00, 0x0b, 0x08,                    // SOF0, len 11, prec 8
      0x00, 0x05,                                      // height 5 (BE)
      0x00, 0x07,                                      // width 7 (BE)
      0x01, 0x01, 0x11, 0x00).map(_.toByte)
    assert(HeaderDecoder.decode(jpg).contains(("jpeg", 7L, 5L)))
    // GIF89a: logical screen 4×9, LITTLE-endian u16s
    val gif = Array[Byte]('G', 'I', 'F', '8', '9', 'a',
      0x04, 0x00, 0x09, 0x00, 0x00, 0x00, 0x00)
    assert(HeaderDecoder.decode(gif).contains(("gif", 4L, 9L)))
    // big dimensions exercise unsigned width bytes (PNG 2033×70000)
    assert(HeaderDecoder.decode(HeaderDecoder.pngPayload(2033L, 70000L))
      .contains(("png", 2033L, 70000L)))
    // garbage and truncated payloads fall through to the stub tier
    assert(HeaderDecoder.decode("not an image".getBytes("UTF-8")).isEmpty)
    assert(HeaderDecoder.decode(png.take(12)).isEmpty)
    assert(HeaderDecoder.decode(Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)).isEmpty)
  }

  test("decodeWav parses a hand-written RIFF chunk walk and rejects non-WAV") {
    import graft.operators.Multimodal.HeaderDecoder
    // 1-channel 8000 Hz 16-bit PCM, 4000 samples → 500 ms; bytes by hand
    // (LITTLE-endian u16/u32 fields) so a mirrored builder/parser bug
    // cannot hide. data size 8000 = 4000 samples × blockAlign 2.
    val wav = Array('R', 'I', 'F', 'F',
      0x44, 0x1f, 0x00, 0x00,                          // riff size 8004 (LE)
      'W', 'A', 'V', 'E',
      'f', 'm', 't', ' ', 0x10, 0x00, 0x00, 0x00,      // fmt, len 16
      0x01, 0x00, 0x01, 0x00,                          // PCM, 1 channel
      0x40, 0x1f, 0x00, 0x00,                          // rate 8000 (LE u32)
      0x80, 0x3e, 0x00, 0x00,                          // byteRate 16000
      0x02, 0x00, 0x10, 0x00,                          // blockAlign 2, bits 16
      'd', 'a', 't', 'a', 0x40, 0x1f, 0x00, 0x00)      // data size 8000
      .map(_.toByte)
    assert(HeaderDecoder.decodeWav(wav).contains((1L, 8000L, 500L)))
    // an extra chunk before fmt/data is walked over by its size field
    val withList = wav.take(12) ++
      Array[Byte]('L', 'I', 'S', 'T', 0x04, 0x00, 0x00, 0x00, 1, 2, 3, 4) ++
      wav.drop(12)
    assert(HeaderDecoder.decodeWav(withList).contains((1L, 8000L, 500L)))
    // builder round-trip: duration = nSamples*1000/rate regardless of channels
    assert(HeaderDecoder.decodeWav(HeaderDecoder.wavPayload(2L, 44100L, 44100L))
      .contains((2L, 44100L, 1000L)))
    assert(HeaderDecoder.decodeWav(HeaderDecoder.wavPayload(1L, 16000L, 24000L))
      .contains((1L, 16000L, 1500L)))
    // image payloads, garbage, truncation, and RIFF-but-not-WAVE all miss
    assert(HeaderDecoder.decodeWav("RIFFxxxxAVI LIST".getBytes("US-ASCII")).isEmpty)
    assert(HeaderDecoder.decodeWav(wav.take(20)).isEmpty)
    assert(HeaderDecoder.decodeWav(HeaderDecoder.pngPayload(3, 2)).isEmpty)
    assert(HeaderDecoder.decode(wav).isEmpty) // and WAV isn't an image
  }

  test("decodeMp4 walks ftyp/moov boxes for mvhd duration and tkhd dims") {
    import graft.operators.Multimodal.HeaderDecoder
    // builder round-trip: 640×360, timescale 1000, 2500 units → 2500 ms
    assert(HeaderDecoder.decodeMp4(HeaderDecoder.mp4Payload(640L, 360L, 1000L, 2500L))
      .contains((640L, 360L, 2500L)))
    // duration floors like the decoder's integer division (90000 ts)
    assert(HeaderDecoder.decodeMp4(HeaderDecoder.mp4Payload(1920L, 1080L, 90000L, 135001L))
      .contains((1920L, 1080L, 1500L)))
    // an unknown box between ftyp and moov is stepped over by its size
    val base = HeaderDecoder.mp4Payload(320L, 240L, 600L, 600L)
    val free = java.nio.ByteBuffer.allocate(12)
      .putInt(12).put("free".getBytes("US-ASCII")).putInt(0).array()
    val withFree = base.take(20) ++ free ++ base.drop(20)
    assert(HeaderDecoder.decodeMp4(withFree).contains((320L, 240L, 1000L)))
    // trailing-moov (moov past the sniffed prefix) falls back, as does junk
    assert(HeaderDecoder.decodeMp4(base.take(20)).isEmpty)
    assert(HeaderDecoder.decodeMp4("not a container".getBytes("UTF-8")).isEmpty)
    assert(HeaderDecoder.decodeMp4(HeaderDecoder.wavPayload(1, 8000, 8000)).isEmpty)
    // sampleFrames uses the REAL movie duration for a recognized MP4:
    // 2500 ms at 25 fps = 62 frames, every 25th → 3 sampled
    import spark.implicits._
    val payloads = Seq((9L, HeaderDecoder.mp4Payload(640L, 360L, 1000L, 2500L)))
      .toDF("doc_id", "payload")
    val frames = graft.operators.Multimodal.sampleFrames(payloads, everyK = 25)
      .collect()
    assert(frames.length == 3 && frames.map(_.frame_idx).sorted.toSeq == Seq(0L, 25L, 50L))
  }

  test("video keyframes: sample tables parse; first-kf dHash matches planted pixels") {
    import graft.operators.Multimodal
    val b = Multimodal.PlantedVideo.mp4Bytes(7L, 5, 18, 16)
    val (w, h, durMs, nf, nkf, words) = Multimodal.parseKeyframes(b).get
    assert(w == 18 && h == 16 && durMs == 200) // 5 frames at 25 fps
    assert(nf == 5 && nkf == 3)                // stss = samples 1, 3, 5
    val (hi, lo) = words.get
    // independent replay: dHash of the frame-0 planted recipe
    val (ehi, elo) = Multimodal.dhash64(
      (x, y) => Multimodal.PlantedVideo.gray(7L, 0, x, y).toLong, 18, 16)
    assert(hi == ehi && lo == elo)
    // exact re-encode → identical hash; brightened frame 0 → ≤ 1 bit away
    val (bhi, blo) = Multimodal.parseKeyframes(
      Multimodal.PlantedVideo.mp4Bytes(7L, 5, 18, 16, brighten = true))
      .get._6.get
    assert(java.lang.Long.bitCount(bhi ^ hi) +
      java.lang.Long.bitCount(blo ^ lo) <= 1)
    // the header tier still reads the same container (mvhd/tkhd)
    assert(Multimodal.HeaderDecoder.decodeMp4(b).contains((18L, 16L, 200L)))
    // header-only MP4 (no sample tables) and non-video bytes → None
    assert(Multimodal.parseKeyframes(
      Multimodal.HeaderDecoder.mp4Payload(640L, 360L, 1000L, 2500L)).isEmpty)
    assert(Multimodal.parseKeyframes("not a container".getBytes("UTF-8")).isEmpty)
  }

  test("video keyframes: stsc multi-sample chunks resolve byte extents") {
    import graft.operators.Multimodal
    // layout-invariance: 1/2/3 samples per chunk carry the SAME planted
    // pixels, so every parsed column — including the frame-0 dHash — must
    // match the historical one-chunk-per-sample bytes exactly
    val base = Multimodal.parseKeyframes(
      Multimodal.PlantedVideo.mp4Bytes(7L, 5, 18, 16)).get
    for (spc <- 2 to 4) { // 4 > nKf exercises the single-run stsc too
      val packed = Multimodal.parseKeyframes(
        Multimodal.PlantedVideo.mp4Bytes(7L, 5, 18, 16, samplesPerChunk = spc)).get
      assert(packed == base, s"samplesPerChunk=$spc")
    }
    // NON-ZERO in-chunk offset: patch stss so the first keyframe is sample
    // 2 — with 3 samples per chunk that is chunk 1 at offset 1·frameBytes,
    // a slice the one-sample-per-chunk fallback could never express. The
    // expected hash is frame INDEX 1's planted pixels, recomputed
    // independently through the shared integer kernel.
    val b3 = Multimodal.PlantedVideo.mp4Bytes(7L, 5, 18, 16, samplesPerChunk = 3)
    val stss = (0 until b3.length - 4).find(i =>
      b3(i) == 's' && b3(i + 1) == 't' && b3(i + 2) == 's' && b3(i + 3) == 's').get
    // type(4) + verflags(4) + count(4) → entry 0 sits at stss+12
    b3(stss + 12) = 0; b3(stss + 13) = 0; b3(stss + 14) = 0; b3(stss + 15) = 2
    val patched = Multimodal.parseKeyframes(b3).get
    val (ehi, elo) = Multimodal.dhash64(
      (x, y) => Multimodal.PlantedVideo.gray(7L, 1, x, y).toLong, 18, 16)
    assert(patched._6.contains((ehi, elo)))
    // and it differs from frame 0's hash (the planted frames are distinct)
    assert(patched._6 != base._6)
    // SPEC-VIOLATING stsc: a first entry whose first_chunk != 1 leaves
    // chunks 1..fc−1 unmapped — resolving from sample 1 anyway would slice
    // a SHIFTED byte extent that can pass the bounds guards. Policy: null
    // hash words, never a wrong slice; metadata columns stay valid.
    val bBad = Multimodal.PlantedVideo.mp4Bytes(7L, 5, 18, 16, samplesPerChunk = 3)
    val stsc = (0 until bBad.length - 4).find(i =>
      bBad(i) == 's' && bBad(i + 1) == 't' && bBad(i + 2) == 's' && bBad(i + 3) == 'c').get
    // type(4) + verflags(4) + count(4) → entry 0's first_chunk at stsc+12
    bBad(stsc + 15) = 2
    val bad = Multimodal.parseKeyframes(bBad).get
    assert(bad._6.isEmpty, "first_chunk != 1 must null the hash words")
    assert((bad._1, bad._2, bad._4) == (base._1, base._2, base._4))
  }

  test("extractFeatures uses real header dims when present, stub otherwise") {
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.HeaderDecoder
    val payloads = Seq(
      (1L, HeaderDecoder.jpegPayload(640L, 480L)),
      (2L, "plain text payload".getBytes("UTF-8")),
      (3L, HeaderDecoder.wavPayload(2L, 16000L, 8000L)),
      (4L, HeaderDecoder.mp4Payload(854L, 480L, 1000L, 12345L))).toDF("doc_id", "payload")
    val m = Multimodal.extractFeatures(payloads).collect().map(f => f.doc_id -> f).toMap
    assert(m(1L).width == 640L && m(1L).height == 480L && m(1L).duration_ms == 0L)
    val (n, hex, w, h, d) = Multimodal.FakeDecoder.decode("plain text payload".getBytes("UTF-8"))
    assert(m(2L).width == w && m(2L).height == h && m(2L).duration_ms == d
      && m(2L).checksum == hex && m(2L).n_bytes == n)
    assert(m(3L).width == 0L && m(3L).height == 0L && m(3L).duration_ms == 500L)
    assert(m(4L).width == 854L && m(4L).height == 480L && m(4L).duration_ms == 12345L)
  }

  test("text stats: tokens, distinct ratio, stopwords") {
    import spark.implicits._
    val df = Seq((1L, "the cat and the hat")).toDF("doc_id", "text")
    val r = TextOps.withTextStats(df).first()
    assert(r.getAs[Long]("n_tokens") === 5L)
    assert(r.getAs[Long]("n_distinct_tokens") === 4L)
    assert(r.getAs[Long]("n_stopwords") === 2L) // 'the' twice
  }

  test("hierarchical reconciliation: snaive base, coherent bottom-up, proportional top-down") {
    import graft.operators.Hierarchy
    import spark.implicits._
    def d(m: Int) = java.sql.Date.valueOf(f"2020-$m%02d-01")
    // parents A={a1,a2}, B={b1}; 6 months history, period 3, horizon 2
    val hist = for {
      (sid, base) <- Seq(("a1", 100.0), ("a2", 50.0), ("b1", 10.0))
      m <- 1 to 6
    } yield (sid, d(m), base + m)
    val mapping = Seq(("a1", "A"), ("a2", "A"), ("b1", "B")).toDF("series_id", "parent")
    val out = Hierarchy.reconcileSnaive(hist.toDF("series_id", "ds", "y"),
        mapping, period = 3, h = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDate(2).toString) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    // snaive: July forecast replays April (m=4)
    assert(out(("nation", "a1", "2020-07-01"))._1 === 104.0)
    assert(out(("nation", "b1", "2020-08-01"))._1 === 15.0) // May
    // bottom-up region = sum of child bases; total coherent
    assert(out(("region", "A", "2020-07-01"))._2 === 104.0 + 54.0)
    assert(out(("total", "TOTAL", "2020-07-01"))._2 === 104.0 + 54.0 + 14.0)
    // top-down: total base disaggregated by train share, preserved in sum
    val tdSum = Seq("a1", "a2", "b1")
      .map(sid => out(("nation", sid, "2020-07-01"))._3).sum
    val totalBase = out(("total", "TOTAL", "2020-07-01"))._1
    assert(math.abs(tdSum - totalBase) < 0.03, s"td sum $tdSum vs $totalBase")
    assert(out(("total", "TOTAL", "2020-08-01"))._3 === out(("total", "TOTAL", "2020-08-01"))._1)
    // a1's td share exceeds b1's by roughly their volume ratio
    assert(out(("nation", "a1", "2020-07-01"))._3 >
      5 * out(("nation", "b1", "2020-07-01"))._3)
  }

  test("generic reconcile accepts model-based base forecasts (frame swap)") {
    import graft.operators.Hierarchy
    import spark.implicits._
    def d(m: Int) = java.sql.Date.valueOf(f"2020-$m%02d-01")
    val hist = for {
      (sid, base) <- Seq(("a1", 100.0), ("a2", 50.0), ("b1", 10.0))
      m <- 1 to 6
    } yield (sid, d(m), base + m)
    val mapping = Seq(("a1", "A"), ("a2", "A"), ("b1", "B")).toDF("series_id", "parent")
    // "model" base forecasts: per-series history mean (a mean model) at July
    val fb = Seq(("a1", d(7), 103.5), ("a2", d(7), 53.5), ("b1", d(7), 13.5))
      .toDF("series_id", "ds", "fcst")
    val fp = Seq(("A", d(7), 160.0), ("B", d(7), 14.0)).toDF("series_id", "ds", "fcst")
    val ftot = Seq((d(7), 171.0)).toDF("ds", "fcst")
    val out = Hierarchy.reconcile(hist.toDF("series_id", "ds", "y"),
        mapping, fb, fp, ftot)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(out(("nation", "a1"))._1 === 103.5)
    assert(out(("region", "A"))._2 === 103.5 + 53.5)   // bu = sum of child bases
    assert(out(("region", "A"))._1 === 160.0)           // base passes through
    assert(out(("total", "TOTAL"))._2 === 103.5 + 53.5 + 13.5)
    // td disaggregates the TOTAL base by train share, preserved in sum
    val tdSum = Seq("a1", "a2", "b1").map(s => out(("nation", s))._3).sum
    assert(math.abs(tdSum - 171.0) < 0.03, s"td sum $tdSum")
  }

  test("dupSpans merges overlapping duplicated windows into maximal spans") {
    import spark.implicits._
    // docs 1 and 2 share the 10-token run a..j (three overlapping 8-windows
    // each → one maximal span per doc); doc 3 shares nothing
    val df = Seq(
      (1L, "a b c d e f g h i j u1 u2"),
      (2L, "x y a b c d e f g h i j"),
      (3L, "p q r s t u v w z1 z2 z3 z4")).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(df, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(spans === Set((1L, 1, 10L), (2L, 3, 10L)))
  }

  test("dupSpans counts a within-doc repeat (periodic text, two spans)") {
    import spark.implicits._
    val df = Seq(
      (1L, "p q r s t u v w p q r s t u v w")).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(df, "doc_id", "text", 8)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSet
    // only the period-aligned window repeats → two disjoint 8-token spans
    assert(spans === Set((1, 8L), (9, 8L)))
  }

  test("dupSpans merges non-consecutive overlapping starts (no double-counted coverage)") {
    import spark.implicits._
    // doc 1's windows at starts 1 (a..h) and 3 (c..j) are duplicated in
    // doc 2, but start 2 (b..i) is NOT — gapped duplicated starts whose
    // coverage overlaps by 6 tokens. One merged span of exactly the 10
    // covered tokens, not two 8-token spans summing to 16.
    val df = Seq(
      (1L, "a b c d e f g h i j", "A"),
      (2L, "a b c d e f g h Z c d e f g h i j", "B"))
      .toDF("doc_id", "text", "source")
    val spans = Dedup.dupSpans(df, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // doc 2's two duplicated starts (1 and 10) are 9 apart — disjoint spans
    assert(spans === Set((1L, 1, 10L), (2L, 1, 8L), (2L, 10, 8L)))
    // coverage sums can therefore never exceed the stratum's token count:
    // doc 1 is FULLY covered (ratio exactly 1.0; the old consecutive-starts
    // islands double-counted it to 1.6)
    val prof = Corpus(df).spanDupProfile("source", 8)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(prof("A") === 1.0)
    assert(prof("B") === math.rint(16.0 / 17 * 1e6) / 1e6)
  }

  test("stripDupSpans keeps the first corpus occurrence, cuts the rest") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h i j u1 u2"),
      (2L, "x y a b c d e f g h i j"),
      (3L, "short doc")).toDF("doc_id", "text")
    val out = Dedup.stripDupSpans(df, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "a b c d e f g h i j u1 u2") // canonical survives whole
    assert(out(2L) === "x y")                       // span cut, unique prefix kept
    assert(out(3L) === "short doc")                 // below minTokens: untouched
  }

  test("stripDupSpans empties a fully-duplicated doc and is Corpus-chainable") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h")).toDF("doc_id", "text")
    val out = Corpus(df).stripDupSpans(8).docs
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "a b c d e f g h")
    assert(out(2L) === "")
  }
}
