package graft

import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // exact dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near dup of 1
      (4L, "completely different words about other topics entirely here now"),
      (5L, "mail me at someone@example.org for details about the data"),
      (6L, "the the the the the the the the the the") // degenerate repetition
    ).toDF("doc_id", "text")
  }

  test("the full curation chain composes and each stage drops what it should") {
    val afterExact = Corpus(docs).dedupExact()
    assert(afterExact.count() == 5, "one of the two exact dups drops")
    assert(afterExact.docs.filter(col("doc_id") === 1).count() == 1,
      "the canonical (min-id) row survives")

    val afterNear = afterExact.dedupNear(0.7)
    assert(afterNear.docs.filter(col("doc_id") === 3).count() == 0,
      "the near-dup (higher id of the pair) drops")

    val afterPii = afterNear.piiClean()
    assert(afterPii.docs.filter(col("doc_id") === 5).count() == 0,
      "the email-bearing doc drops under piiClean")

    // redaction keeps the doc but scrubs the address
    val redacted = afterNear.piiRedact().docs
      .filter(col("doc_id") === 5).select("text").first().getString(0)
    assert(redacted.contains("<EMAIL>") && !redacted.contains("@"))
  }

  test("audit labels every doc with the FIRST dropping stage; kept set == chained survivors") {
    import spark.implicits._
    val stages = Seq[(String, Corpus => Corpus)](
      "exact" -> (_.dedupExact()),
      "near" -> (_.dedupNear(0.7)),
      "pii" -> (_.piiClean()))
    val audit = Corpus(docs).audit(stages)
    val byId = audit.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("keep"), r.getAs[String]("dropped_by"))).toMap
    assert(byId.size == 6, "one audit row per INPUT doc, dropped or not")
    assert(byId(2L) == (false, "exact"), "exact dup drops at stage 1")
    assert(byId(3L) == (false, "near"), "near dup drops at stage 2")
    assert(byId(5L) == (false, "pii"), "PII doc survives dedup, drops at stage 3")
    assert(byId(1L) == (true, "kept") && byId(4L) == (true, "kept"))
    // first-drop-wins: doc 6 would ALSO fail pii? no — it reaches the end
    assert(byId(6L) == (true, "kept"))
    // audit's kept set must equal the same chain run without the audit
    val chained = stages.foldLeft(Corpus(docs)) { case (c, (_, f)) => f(c) }
      .docs.select("doc_id").as[Long].collect().toSet
    assert(byId.filter(_._2._1).keySet == chained,
      "audit keep flags must replay the chain exactly")
    // duplicate stage names would make dropped_by ambiguous
    intercept[IllegalArgumentException] {
      Corpus(docs).audit(Seq("s" -> identity[Corpus] _, "s" -> identity[Corpus] _))
    }
  }

  test("cluster dedup keeps one doc per component where the pair policy keeps hub spokes") {
    import spark.implicits._
    // star: 1–3 and 2–3 are near-dups (hub 3 contains both), 1 vs 2 share
    // nothing — the shape where pairwise higher-id-drops and
    // keep-one-per-cluster genuinely differ
    val d = Seq(
      (1L, "a b c d e f g h"),
      (2L, "p q r s t u v w"),
      (3L, "a b c d e f g h p q r s t u v w")
    ).toDF("doc_id", "text")
    val pair = Corpus(d).dedupNear(0.4)
    assert(pair.docs.select("doc_id").as[Long].collect().toSet == Set(1L, 2L),
      "pairwise policy drops only the hub (each pair's higher id)")
    val clus = Corpus(d).dedupNearClusters(0.4)
    assert(clus.docs.select("doc_id").as[Long].collect().toSet == Set(1L),
      "cluster policy keeps exactly the component's least id")
  }

  test("decontaminate drops overlap with a benchmark slice; pack lays out survivors") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val cleaned = Corpus(docs).dedupExact().decontaminate(bench, 3, 0.5)
    assert(cleaned.docs.filter(col("doc_id") === 1).count() == 0,
      "benchmark-overlapping doc drops")
    val layout = cleaned.pack(8, shards = 2)
    assert(layout.count() == cleaned.count(),
      "every surviving doc gets a packing row")
    assert(layout.select("shard").distinct().count() <= 2)
    // the bloom-routed facade must keep exactly the same docs
    val viaBloom = Corpus(docs).dedupExact()
      .decontaminate(bench, 3, 0.5, bloom = true)
      .docs.select("doc_id").as[Long].collect().toSet
    assert(viaBloom == cleaned.docs.select("doc_id").as[Long].collect().toSet)
  }

  test("window dedupExact keeps exactly the rows the exactGroups semi-join kept") {
    import spark.implicits._
    // repeated texts out of id order, one null text, one empty text
    val d = Seq[(Long, String)]((5L, "a b c"), (2L, "a b c"), (9L, "a b c"),
      (3L, null), (7L, ""), (1L, "x y"), (8L, "x y"), (6L, "z"))
      .toDF("doc_id", "text")
    val semi = d.join(graft.operators.Dedup.exactGroups(d, "doc_id", "text")
        .select(col("canonical_id").as("doc_id")), Seq("doc_id"), "left_semi")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    val got = Corpus(d).dedupExact().docs
    assert(got.columns.toSeq == d.columns.toSeq, "schema preserved")
    assert(rows(got) == rows(semi))
    assert(rows(got).map(_._1) == Set(2L, 3L, 7L, 1L, 6L))
  }

  test("the benchmark-shaped chain runs a pinned number of jobs and shuffle stages") {
    // qualityFilter → dedupExact → dedupNearClusters → stripDupSpans →
    // decontaminate → pack, built and written once: each step reads its
    // input once (or its per-doc decision frame once), so a step that
    // starts reading a frame twice in the final write shows up here as
    // extra jobs and shuffle stages. Pins are the measured counts (31 jobs
    // and 13 shuffle stages while the final write recomputed the spans and
    // read the decontamination input three times).
    val (jobPin, stagePin) = (19, 10)
    val bench = docs.filter(col("doc_id") === 4L)
      .select((col("doc_id") + 100L).as("doc_id"), col("text"))
    val rec = graft.obs.RunRecorder.install(spark)
    val (packed, d) = try rec.measure {
      val p = Corpus(docs).qualityFilter(0.5).dedupExact().dedupNearClusters(0.8)
        .stripDupSpans(8).decontaminate(bench).pack(2048)
      p.write.mode("overwrite").format("noop").save()
      p
    } finally rec.close()
    info(s"chain: ${d.jobs} jobs, ${d.shuffleStages} shuffle stages")
    assert(d.jobs <= jobPin, s"chain ran ${d.jobs} jobs > pinned $jobPin")
    assert(d.shuffleStages <= stagePin,
      s"chain materialized ${d.shuffleStages} shuffle stages > pinned $stagePin")
    // 2 is 1's exact copy, 6 fails the quality gate, 4 is the benchmark
    assert(packed.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
  }

  test("topTerms ranks distinctive terms above ubiquitous ones") {
    val top = Corpus(docs).topTerms(2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // 'the' appears in docs 5 and 6 but is doc 6's ENTIRE text: its tf=10
    // beats any idf discount, while doc 5's rank-1 term must be a
    // distinctive word, not 'the'
    assert(top.contains((6L, 1, "the")))
    val doc5rank1 = top.find(t => t._1 == 5L && t._2 == 1).get._3
    assert(doc5rank1 != "the", s"doc 5's top term should be distinctive, got $doc5rank1")
  }

  test("bm25 matches a hand-computed score and zeroes lexicon-free docs") {
    import spark.implicits._
    import graft.functions.TextOps
    val d = Seq((1L, "spark spark beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val out = TextOps.bm25(d, "doc_id", Seq("spark")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=2, avgdl=2.5, df=1, tf=2, dl=3:
    //   idf = ln(1 + (2-1+0.5)/(1+0.5)) = ln 2
    //   s = ln2 * (2*2.2) / (2 + 1.2*(0.25 + 0.75*3/2.5))
    val expected = math.log(2.0) * 4.4 / 3.38
    assert(math.abs(out(1L) - expected) < 1e-12, s"got ${out(1L)}, want $expected")
    assert(out(2L) == 0.0, "no query term -> exactly zero via the left join")
  }

  test("profileFilter keeps only docs whose argmax profile matches, schema intact") {
    val profiles = Map(
      "greek"   -> Seq("alpha", "beta", "gamma", "delta"),
      "english" -> Seq("the", "about", "other", "for"))
    val kept = Corpus(docs).profileFilter("greek", profiles)
    assert(kept.docs.columns.toSeq == docs.columns.toSeq,
      "score columns must not leak into the corpus schema")
    val ids = kept.docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L), s"greek-profile docs only, got $ids")
  }

  test("summary reports size, dup rate, and token volume in one row") {
    val r = Corpus(docs).summary.collect()(0)
    assert(r.getLong(0) == 6, "n_docs")
    assert(r.getLong(1) == 5, "docs 1 and 2 are identical texts -> 5 distinct")
    assert(r.getLong(2) == 58, "4x10 + 2x9 whitespace tokens")
    assert(math.abs(r.getDouble(3) - 58.0 / 6) < 1e-6, "avg_tokens")
    assert(r.getDouble(5) == 0.0, "no doc reaches 60 tokens")
  }

  test("rollup subtotals and the KMV distinct estimate agree with exact counts") {
    val withDims = docs.withColumn("src",
      when(col("doc_id") <= 3, "a").otherwise("b"))
    val rows = Corpus(withDims).rollup("src").collect()
      .map(r => Option(r.getString(0)).getOrElse("ALL") -> r.getLong(1)).toMap
    assert(rows == Map("a" -> 3L, "b" -> 3L, "ALL" -> 6L),
      s"per-src counts + grand total in one pass, got $rows")
    // 5 distinct texts, k=1024 ≫ 5 → the KMV estimate is EXACT
    val est = Corpus(docs).distinctTextEstimate().collect()(0).getDouble(0)
    assert(est == 5.0, s"below-k KMV is exact, got $est")
  }

  test("dedupFingerprint drops the passage-copying doc, keeps unrelated ones") {
    import spark.implicits._
    val passage = "the quick brown fox jumps over the lazy dog near the river bank"
    val d = Seq(
      (1L, s"intro words here $passage trailing content after"),
      (2L, s"completely other opening text $passage and a different ending"),
      (3L, "nothing in common with either of those two documents at all now")
    ).toDF("doc_id", "text")
    val kept = Corpus(d).dedupFingerprint(minShared = 5)
      .docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"doc 2 (higher id of the copy pair) drops, got $kept")
  }

  test("perplexityFilter band-passes on the corpus-trained bigram LM") {
    import spark.implicits._
    // doc 1: context s splits 50/50 between a and b -> ppl = 2^(4/7) ~ 1.486
    // doc 2: pure repetition, every bigram P=1 -> ppl exactly 1
    val d = Seq((1L, "s a s b s a s b"), (2L, "t t t t t t")).toDF("doc_id", "text")
    val kept = Corpus(d).perplexityFilter(1.2, 10.0)
      .docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"band [1.2,10] keeps only the ambiguous-context doc, got $kept")
  }

  test("spanDupProfile attributes duplicated-run coverage per stratum") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e f g h i j u1 u2", "A"),   // 12 tokens, 10 in the dup run
      (2L, "x y a b c d e f g h i j", "B"),     // 12 tokens, 10 in the dup run
      (3L, "short doc", "B")                    // below minTokens, no spans
    ).toDF("doc_id", "text", "source")
    val p = Corpus(d).spanDupProfile("source", 8)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(p("A") === ((1L, 12L, 10L, math.rint(10.0 / 12 * 1e6) / 1e6)))
    assert(p("B") === ((2L, 14L, 10L, math.rint(10.0 / 14 * 1e6) / 1e6)))
  }

  test("dedupAgainst drops exact and near reference duplicates, keeps fresh docs") {
    import spark.implicits._
    val ref = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "one two three four five six")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),       // exact copy of 100
      (2L, "one two three four five seven"),             // near copy of 101
      (3L, "wholly new content nothing shared here")     // fresh
    ).toDF("doc_id", "text")
    val kept = Corpus(batch).dedupAgainst(ref, minJ = 0.3)
      .docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L))
    // raising the near bar keeps the near-copy, exact still drops
    val keptStrict = Corpus(batch).dedupAgainst(ref, minJ = 0.99)
      .docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptStrict === Set(2L, 3L))
  }

  test("spanLeakageMatrix pairs only strata that share a duplicated window") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e f g h tail1", "X"),  // run a..h shared with Y's doc 2
      (2L, "a b c d e f g h tail2", "Y"),
      (3L, "p q r s t u v w tail3", "Z")   // Z shares nothing
    ).toDF("doc_id", "text", "source")
    val m = Corpus(d).spanLeakageMatrix("source", 8)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m === Map(("X", "Y") -> 1L))
  }

  test("constructor validates id/text columns loudly") {
    import spark.implicits._
    val bad = Seq((1L, 2.0)).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException](Corpus(Seq((1L, "x")).toDF("id", "text")))
    assert(e1.getMessage.contains("doc_id"))
    val e2 = intercept[IllegalArgumentException](Corpus(bad))
    assert(e2.getMessage.contains("STRING"))
    // custom column names pass
    Corpus(Seq((1L, "x")).toDF("k", "body"), idCol = "k", textCol = "body")
  }

  test("deterministic sampling is a pure membership predicate") {
    val s1 = Corpus(docs).sample(0.5).docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Corpus(docs).sample(0.5).docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "same salt, same membership")
  }
}
