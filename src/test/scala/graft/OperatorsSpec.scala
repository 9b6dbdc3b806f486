package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Specs for the text/dedup/similarity operator library. */
class OperatorsSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (0L, "the cat sat on the mat", "a"),
      (1L, "the cat sat on the mat", "a"), // exact dup of 0
      (2L, "the cat sat on the red mat", "a"), // near dup of 0
      (3L, "completely different words here entirely", "b"),
      (4L, "short text", "b")
    ).toDF("doc_id", "text", "src")
  }

  test("rolling-hash fingerprint matches the definition") {
    val fp = TextOps.withFingerprint(docs, "text")
      .where(col("doc_id") === 0).select("fingerprint").head.getLong(0)
    val expected = "the cat sat on the mat".foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)
    assert(fp == expected)
    // identical text → identical fingerprint
    val fps = TextOps.withFingerprint(docs, "text")
      .where(col("doc_id") <= 1).select("fingerprint").collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
  }

  test("exact dedup counts duplicates per group") {
    val stats = DedupOps.exactDupStats(docs, "text", "src").collect()
    val bySrc = stats.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bySrc("a") == ((3L, 2L))) // 3 docs, 2 unique
    assert(bySrc("b") == ((2L, 2L)))
  }

  test("minhash: identical docs share the full signature; near-dups collide on LSH") {
    val sig = TextOps.withMinhashSignature(docs, "text", 8)
      .select("doc_id", "m0", "m1", "m2", "m3", "m4", "m5", "m6", "m7")
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    assert(sig(0L) == sig(1L), "exact duplicates must have identical signatures")
    assert(sig(0L) != sig(3L), "unrelated docs should differ")

    val pairs = DedupOps.lshNearDupPairs(docs, "doc_id", "text", minJaccard = 0.1)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair must surface")
  }

  test("simhash: near-dups are close in Hamming distance, unrelated docs are not") {
    val sh = TextOps.withSimhash16(docs, "text")
      .select("doc_id", "simhash16").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue()).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(0L), sh(1L)) == 0)
    assert(hamming(sh(0L), sh(2L)) < hamming(sh(0L), sh(3L)))
  }

  test("blocked jaccard finds the near-dup pair") {
    val pairs = DedupOps.blockedJaccardPairs(docs, "doc_id", "text",
      prefixLen = 10, minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 0L && b == 1L && j == 1.0 })
    assert(pairs.exists { case (a, b, _) => a == 0L && b == 2L })
  }

  private def vecs = {
    import spark.implicits._
    Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(0.9f, 0.1f, 0f), 0),
      (2L, Array(0f, 1f, 0f), 1),
      (3L, Array(0f, 0.9f, 0.1f), 1),
      (4L, Array(-1f, 0f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
  }

  test("cosine top-k returns nearest first with deterministic ties") {
    val q = vecs.where(col("vec_id") === 0).select(col("embedding").as("q"))
    val top = SimilarityOps.topK(vecs, "vec_id", "embedding", q, 3, excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSeq
    assert(top.head == 1L, s"nearest should be vec 1, got $top")
    // vecs 2 and 3 tie at cosine 0 (> vec 4's -1); tie broken by id.
    assert(top == Seq(1L, 2L, 3L), s"expected deterministic order, got $top")
  }

  test("IVF search agrees with brute force when the probe cluster holds the answer") {
    val cents = vecs.where(col("vec_id").isin(0L, 2L))
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val q = vecs.where(col("vec_id") === 1).select(col("embedding").as("q"))
    val ivf = SimilarityOps.ivfSearch(vecs, "vec_id", "embedding", cents, q, 2,
      excludeId = Some(1L)).collect().map(_.getLong(0)).toSeq
    // query ~ (0.9,0.1,0): probed cluster is centroid 0's; brute-force
    // nearest neighbor 0 lives there.
    assert(ivf.head == 0L)
  }

  test("incremental dedup flags batch dups, corpus dups, and accepts the rest") {
    import spark.implicits._
    val existing = Seq((0L, "seen before")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "brand new"),
      (11L, "seen before"),   // corpus dup
      (12L, "repeat me"),
      (13L, "repeat me")      // batch dup of 12
    ).toDF("doc_id", "text")
    val out = operators.DedupOps.incrementalDedup(incoming, existing, "doc_id", "text")
      .select("doc_id", "is_dup_in_batch", "is_dup_in_corpus", "accepted")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(out(10L) == ((false, false, true)))
    assert(out(11L) == ((false, true, false)))
    assert(out(12L) == ((false, false, true)), "first of the batch-dup pair is accepted")
    assert(out(13L) == ((true, false, false)))
  }

  test("curation pipeline: keep-first dedup, token gate, annotations") {
    val out = operators.CurationPipeline.curate(docs, "doc_id", "text",
      minTokens = 3, maxTokens = 100)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(1L), "exact duplicate must be dropped (keep lowest id)")
    assert(ids.contains(0L), "survivor of the dup group is the lowest id")
    assert(!ids.contains(4L), "2-token doc fails the minTokens=3 gate")
    val r = out.where(col("doc_id") === 0).head
    assert(r.getAs[Int]("n_tokens") == 6 && r.getAs[Int]("n_stop") == 2)
  }

  test("asof join: latest prior-or-equal right row per key; nulls when none") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L))
      .toDF("k", "t", "lid")
    val right = Seq((1L, 10L, 7L, 1.0), (1L, 15L, 8L, 2.0), (1L, 15L, 9L, 3.0))
      .toDF("k", "t", "rid", "v")
    val out = operators.AsofJoin.asofJoin(left, right, Seq("k"), "t", "t",
      Seq("rid", "v"), "rid")
      .select("lid", "r_rid", "r_v").orderBy("lid").collect()
    // lid 100 at t=10: right row at t=10 is inclusive -> rid 7
    assert(out(0).getLong(1) == 7L && out(0).getDouble(2) == 1.0)
    // lid 101 at t=20: two right rows tie at t=15 -> highest rid wins (9)
    assert(out(1).getLong(1) == 9L && out(1).getDouble(2) == 3.0)
    // lid 102, key 2: no right rows -> nulls
    assert(out(2).isNullAt(1) && out(2).isNullAt(2))
  }

  test("salted join equals the plain join") {
    import spark.implicits._
    val big = (1 to 100).map(i => (i % 3, i.toLong)).toDF("k", "v")
    val small = Seq((0, "a"), (1, "b"), (2, "c")).toDF("k", "name")
    val salted = operators.Skew.saltedJoin(big, small, "k", salts = 4, saltFrom = "v")
    assertSameData(salted, big.join(small, "k"))
  }

  test("range join: inclusive window bounds, bucket boundaries exact") {
    import spark.implicits._
    val left = Seq((1L, 1000L, 100L)).toDF("k", "lt", "lid")
    val right = Seq(
      (1L, 400L, 1.0),  // == lt - before, inclusive
      (1L, 1000L, 2.0), // == lt, inclusive
      (1L, 399L, 4.0),  // just outside
      (1L, 1001L, 8.0), // just outside
      (2L, 1000L, 16.0) // wrong key
    ).toDF("k", "rt", "v")
    val out = operators.RangeJoin.priorWindowJoin(left, right, Seq("k"), "lt", "rt", 600L)
      .agg(sum(col("v"))).head.getDouble(0)
    assert(out == 3.0, "exactly the two boundary-inclusive rows must match")
  }

  test("IVF probing all clusters degenerates to exact brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = emb.where(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val q = emb.where(col("vec_id") === 100).select(col("embedding").as("q"))
    val corpus = emb.where(col("vec_id") >= 16)
    val brute = SimilarityOps.topK(corpus, "vec_id", "embedding", q, 10, Some(100L))
      .select("vec_id", "sim")
    val ivfAll = SimilarityOps.ivfSearch(corpus, "vec_id", "embedding", cents, q,
      k = 10, excludeId = Some(100L), nProbe = 16)
      .select("vec_id", "sim")
    assertSameData(ivfAll, brute)
    // fewer probes return a subset of the brute-force candidates
    val ivf4 = SimilarityOps.ivfSearch(corpus, "vec_id", "embedding", cents, q,
      k = 10, excludeId = Some(100L), nProbe = 4).collect()
    assert(ivf4.length == 10)
  }

  test("hot-block cap bounds embedding near-dup pair work under a dominant block") {
    import spark.implicits._
    // One dominant label holding all 60 vectors: uncapped pair space
    // is C(60,2) = 1770. With maxBlockSize=10 the block splits into 6
    // hash sub-blocks, so pair work is bounded by sum C(size_i, 2)
    // over ~10-element sub-blocks (~270 expected).
    val many = (0 until 60).map(i => (i.toLong, Array(1f, 0f, 0f), "hot"))
      .toDF("vec_id", "embedding", "label")
    val uncapped = SimilarityOps.nearDupPairStats(many, "vec_id", "embedding", "label", -1.0)
      .head.getAs[Long]("n_pairs")
    assert(uncapped == 1770L)
    val capped = SimilarityOps.nearDupPairStats(many, "vec_id", "embedding", "label", -1.0,
      maxBlockSize = 10)
      .head.getAs[Long]("n_pairs")
    assert(capped > 0 && capped < 600,
      s"capped pair count $capped should be bounded well under the uncapped 1770")
    // Blocks at or under the cap are exhaustive: results identical.
    val small = vecs
    assertSameData(
      SimilarityOps.nearDupPairStats(small, "vec_id", "embedding", "label", -1.0, maxBlockSize = 10),
      SimilarityOps.nearDupPairStats(small, "vec_id", "embedding", "label", -1.0))
  }

  test("hot-block cap bounds blocked-jaccard candidates under a shared prefix") {
    import spark.implicits._
    // 30 identical docs (shared 40-char prefix AND jaccard 1.0): every
    // candidate pair verifies, so the output size reads off the
    // candidate space directly. Uncapped: C(30,2) = 435.
    val boiler = (0 until 30).map(i => (i.toLong, "the same boilerplate header text repeated in every document"))
      .toDF("doc_id", "text")
    val uncapped = DedupOps.blockedJaccardPairs(boiler, "doc_id", "text",
      prefixLen = 40, minJaccard = 0.9).count()
    assert(uncapped == 435L)
    val capped = DedupOps.blockedJaccardPairs(boiler, "doc_id", "text",
      prefixLen = 40, minJaccard = 0.9, maxBlockSize = 5).count()
    assert(capped > 0 && capped < 150,
      s"capped candidate count $capped should be bounded well under the uncapped 435")
  }

  test("hyperplane LSH: identical vectors always pair; candidates are verified by exact cosine") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array.fill(8)(1f)),
      (1L, Array.fill(8)(1f)),              // identical to 0: all sign bits equal
      (2L, Array.fill(8)(-1f)),             // antipodal: no band collision with 0
      (3L, Array(1f, 1f, 1f, 1f, 1f, 1f, 1f, 0.9f)) // near 0
    ).toDF("vec_id", "embedding")
    val pairs = SimilarityOps.hyperplaneLshPairs(emb, "vec_id", "embedding",
      dim = 8, minSim = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // sim is dot/(na*nb): ~1.0 up to IEEE rounding for identical vectors
    assert(pairs.exists { case (a, b, s) => a == 0L && b == 1L && s >= 0.999 },
      s"identical vectors must collide in every band and verify at ~1.0: ${pairs.toSeq}")
    assert(!pairs.exists { case (a, b, _) => a == 0L && b == 2L },
      "antipodal vector flips every sign bit — must not pair")
    // near-duplicate of 0 shares all sign bits (all projections keep
    // sign: components differ only in one coordinate scaled by 0.9)
    assert(pairs.exists { case (a, b, s) => a == 0L && b == 3L && s >= 0.99 },
      s"near-identical vector should collide and verify: ${pairs.toSeq}")
  }

  test("decontamination flags exactly the docs sharing a shingle with the benchmark") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "alpha beta gamma delta"),          // contains "alpha beta gamma"
      (11L, "unrelated words only here"),
      (12L, "x y alpha beta gamma"),            // shingle appears mid-doc
      (13L, "alpha beta")                       // short: whole-text fallback, no match
    ).toDF("doc_id", "text")
    val bench = Seq((0L, "alpha beta gamma")).toDF("doc_id", "text")
    val flagged = operators.Decontaminate.flagContaminated(corpus, bench, "doc_id", "text")
      .select("doc_id", "contaminated")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flagged == Map(10L -> true, 11L -> false, 12L -> true, 13L -> false))
    val clean = operators.Decontaminate.decontaminate(corpus, bench, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(11L, 13L))
    assert(!operators.Decontaminate.decontaminate(corpus, bench, "doc_id", "text")
      .columns.contains("contaminated"))
  }

  test("winnowed fingerprints match the definition; coverage guarantee; short-text fallback") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (0L, base),
      (1L, base),                         // identical -> identical fps
      (2L, "PREFIX " + base + " SUFFIX"), // long shared substring -> shared fp
      (3L, "zz")                          // shorter than k+w-1 -> fallback
    ).toDF("doc_id", "text")
    val fps = TextOps.withWinnowedFingerprints(docs, "text", k = 5, w = 4)
      .select("doc_id", "fps").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // independent re-implementation of the scheme
    def rh(s: String): Long = s.foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)
    val grams = base.sliding(5).map(rh).toVector
    val expected = grams.sliding(4).map(_.min).toVector.distinct.sorted
    assert(fps(0L) == expected)
    assert(fps(0L) == fps(1L))
    assert(fps(0L).intersect(fps(2L)).nonEmpty,
      "winnowing coverage: a shared >= k+w-1 substring must share a fingerprint")
    assert(fps(3L) == Seq(rh("zz")))
  }

  test("winnowing coverage property: any shared >= k+w-1 substring shares a fingerprint") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // generated pairs of random texts with a common >= 8-char infix
    val gen = for {
      common <- Gen.listOfN(10, Gen.alphaLowerChar).map(_.mkString)
      pre1 <- Gen.listOfN(6, Gen.alphaLowerChar).map(_.mkString)
      suf1 <- Gen.listOfN(6, Gen.alphaLowerChar).map(_.mkString)
      pre2 <- Gen.listOfN(9, Gen.alphaLowerChar).map(_.mkString)
      suf2 <- Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString)
    } yield (pre1 + common + suf1, pre2 + common + suf2)
    val pairs = (1 to 8).map(i =>
      gen.apply(Gen.Parameters.default, Seed(7L + i)).getOrElse(fail(s"no sample $i")))
    val df = pairs.zipWithIndex.flatMap { case ((t1, t2), i) =>
      Seq((2L * i, t1), (2L * i + 1, t2))
    }.toDF("doc_id", "text")
    val fps = TextOps.withWinnowedFingerprints(df, "text", k = 5, w = 4)
      .select("doc_id", "fps").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    pairs.indices.foreach { i =>
      assert(fps(2L * i).intersect(fps(2L * i + 1)).nonEmpty,
        s"pair $i shares a 10-char substring but no fingerprint: ${pairs(i)}")
    }
  }

  test("greedy packing: boundaries at the budget, shards independent, deterministic") {
    import spark.implicits._
    // shard a: token counts 300, 300, 300 -> cum 300/600/900,
    //   pack = (cum - n) div 512 -> 0, 0, 1
    // shard b: 600, 10 -> packs 0, 1
    val docs = Seq(
      (1L, 300L, "a"), (2L, 300L, "a"), (3L, 300L, "a"),
      (4L, 600L, "b"), (5L, 10L, "b")
    ).toDF("doc_id", "n_toks", "shard")
    val packed = Sequencing.packGreedy(docs, "doc_id", "n_toks", "shard", budget = 512L)
      .select("doc_id", "pack_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(packed == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L, 5L -> 1L))
  }

  test("token chunking: overlap, tail shortening, exact chunk text") {
    import spark.implicits._
    // 25 tokens, chunkSize 10, overlap 3 -> stride 7, starts 1/8/15/22
    val toks = (1 to 25).map(i => s"t$i")
    val docs = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val chunks = Sequencing.chunkTokens(docs, "doc_id", "text", chunkSize = 10, overlap = 3)
      .orderBy("chunk_idx").collect()
    assert(chunks.length == 4)
    assert(chunks.map(_.getAs[Int]("chunk_len")).toSeq == Seq(10, 10, 10, 4))
    assert(chunks(0).getAs[String]("chunk_text") == toks.take(10).mkString(" "))
    // overlap: chunk 1 starts at token 8 (3-token overlap with chunk 0)
    assert(chunks(1).getAs[String]("chunk_text") == toks.slice(7, 17).mkString(" "))
    assert(chunks(3).getAs[String]("chunk_text") == toks.slice(21, 25).mkString(" "))
  }

  test("token chunking skips tail windows fully contained in the previous chunk") {
    import spark.implicits._
    // 16 tokens, chunkSize 10, overlap 3 -> raw starts 1/8/15; the
    // window at 15 (> 16 - 3) lies inside chunk@8's coverage [8,16]
    // and would double-count its tokens — it must be skipped.
    val toks = (1 to 16).map(i => s"t$i")
    val docs = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val chunks = Sequencing.chunkTokens(docs, "doc_id", "text", chunkSize = 10, overlap = 3)
      .orderBy("chunk_idx").collect()
    assert(chunks.length == 2)
    assert(chunks.map(_.getAs[Int]("chunk_len")).toSeq == Seq(10, 9))
    assert(chunks(1).getAs[String]("chunk_text") == toks.slice(7, 16).mkString(" "))
    // a doc shorter than one chunk still yields its single chunk
    val short = Seq((2L, (1 to 5).map(i => s"s$i").mkString(" "))).toDF("doc_id", "text")
    assert(Sequencing.chunkTokens(short, "doc_id", "text", chunkSize = 10, overlap = 3).count() == 1)
  }

  test("blocked operators reject reserved column names on the input frame") {
    import spark.implicits._
    val emb = Seq((1L, Array(1f, 0f), "x", 0L)).toDF("vec_id", "embedding", "label", "__bn")
    val ex = intercept[IllegalArgumentException](
      SimilarityOps.nearDupPairStats(emb, "vec_id", "embedding", "label", minSim = 0.9))
    assert(ex.getMessage.contains("__bn"))
  }

  test("hyperplane LSH rejects plane counts past the int64-exact envelope") {
    import spark.implicits._
    val emb = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException](
      SimilarityOps.hyperplaneLshPairs(emb, "vec_id", "embedding", dim = 2,
        minSim = 0.9, bands = 60, planesPerBand = 60))
    assert(ex.getMessage.contains("3000"))
  }

  test("weighted mixing: exact per-source rates, loud on unknown source") {
    import spark.implicits._
    val docs = (0 until 100).map(i => (i.toLong, s"doc body number $i", if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "text", "source")
    val w = Seq(("a", 1000), ("b", 0)).toDF("source", "permille")
    val kept = Mixing.weightedSample(docs, "text", "source", w)
      .select("source").collect().map(_.getString(0))
    assert(kept.nonEmpty && kept.forall(_ == "a") && kept.length == 50) // all of a, none of b
    // deterministic: identical re-run
    val again = Mixing.weightedSample(docs, "text", "source", w).count()
    assert(again == 50)
    // unknown source fails the job, not silently drops
    val wMissing = Seq(("a", 500)).toDF("source", "permille")
    val ex = intercept[Exception](
      Mixing.weightedSample(docs, "text", "source", wMissing).count())
    assert(ex.getMessage.contains("no mixture rate") ||
      Option(ex.getCause).exists(_.getMessage.contains("no mixture rate")))
    // malformed rates rejected at build time
    intercept[IllegalArgumentException](
      Mixing.weightedSample(docs, "text", "source", Seq(("a", 1500), ("b", 0)).toDF("source", "permille")))
  }

  test("winsorize clips into the per-group quantile envelope via broadcast") {
    import spark.implicits._
    val df = (Seq.tabulate(99)(i => ("g", (i + 1).toDouble)) :+ (("g", 1000000.0)))
      .toDF("grp", "v")
    val w = RobustStats.winsorize(df, "v", "grp", 0.01, 0.99, "clipped")
    val agg = w.agg(max(col("clipped")), min(col("clipped")), count(lit(1))).head
    assert(agg.getDouble(0) < 1000000.0) // outlier pulled down to p99
    assert(agg.getDouble(1) >= 1.0)
    assert(agg.getLong(2) == 100)
    assert(w.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    intercept[IllegalArgumentException](
      RobustStats.winsorize(df, "v", "grp", 0.9, 0.1, "c"))
  }

  test("expectations: violation counts, null counts as violation, unique names enforced") {
    import spark.implicits._
    val df = Seq((Some(1L), "x"), (None, "y"), (Some(-2L), "z")).toDF("v", "s")
    val r = Validate.expect(df, Seq(
      "v_positive" -> "v > 0", // null row + negative row violate
      "s_nonempty" -> "length(s) > 0"))
      .orderBy("rule").collect()
    assert(r(0).toSeq == Seq("s_nonempty", 3L, 0L, true))
    assert(r(1).toSeq == Seq("v_positive", 3L, 2L, false))
    intercept[IllegalArgumentException](
      Validate.expect(df, Seq("a" -> "v > 0", "a" -> "v < 0")))
  }

  test("profile: single-pass column stats with nulls and string min/max") {
    import spark.implicits._
    val df = Seq((Some(1L), "b"), (None, "a"), (Some(3L), "a")).toDF("k", "s")
    val p = Profile.profile(df, Seq("k", "s")).orderBy("column_name").collect()
    assert(p(0).toSeq == Seq("k", 3L, 1L, 2L, "1", "3"))
    assert(p(1).toSeq == Seq("s", 3L, 0L, 2L, "a", "b"))
    // approx mode (the 100 TB path) still lands on tiny exact inputs
    val ap = Profile.profile(df, Seq("k"), exactDistinct = false).collect()(0)
    assert(ap.getAs[Long]("n_distinct") == 2L)
    intercept[IllegalArgumentException](Profile.profile(df, Seq("nope")))
    // checked mode: exact + HLL++ in ONE pass, bounds boolean emitted
    val pc = Profile.profileChecked(df, Seq("k", "s")).orderBy("column_name").collect()
    assert(pc.map(_.toSeq.take(6)).toSeq == p.map(_.toSeq).toSeq)
    assert(pc.forall(_.getAs[Boolean]("distinct_in_bounds")))
  }

  test("span dedup: keep-first across corpus, cleaned text rebuilt in order") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"), // spans: "a b", "c d"
      (2L, "a b c d"), // exact dup -> fully removed
      (3L, "x y a b"), // "x y" kept, "a b" already seen in doc 1
      (4L, "p q r") // odd tail: spans "p q", "r"
    ).toDF("doc_id", "text")
    val r = DedupOps.dedupSpans(df, "doc_id", "text", spanTokens = 2)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
    assert(r.toSeq == Seq(
      (1L, 2L, 2L, "a b c d"),
      (2L, 2L, 0L, ""),
      (3L, 2L, 1L, "x y"),
      (4L, 2L, 2L, "p q r")))
  }

  test("containment pairs: quote-inside-long-doc scores high containment, low jaccard") {
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, quote), // 4 distinct 3-shingles
      (2L, quote + " coda"), // superset: 5 shingles, all of doc 1's
      (3L, "completely different content here with nothing shared at all")
    ).toDF("doc_id", "text")
    val r = DedupOps.containmentPairs(df, "doc_id", "text",
      bands = 2, rowsPerBand = 2, minContainment = 0.9)
      .collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getLong(0) == 1L && row.getLong(1) == 2L)
    // every shingle of doc 1 appears in doc 2 -> containment_a = 1.0
    assert(row.getDouble(2) == 1.0)
    assert(row.getDouble(3) == 0.8) // 4 of doc 2's 5 shingles
    // symmetric jaccard at the same bar misses this pair entirely
    assert(DedupOps.lshNearDupPairs(df, "doc_id", "text", 2, 2, minJaccard = 0.9).count() == 0)
  }

  test("winnow shared pairs: copied passage detected, boilerplate fingerprints excluded") {
    import spark.implicits._
    val passage = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (1L, s"unique opening text here $passage unique closing text here"),
      (2L, s"totally different frame around $passage with other words"),
      (3L, "zzqqz vvkkv mmxmm wwyww ppfpp ggjgg bbnbb ddhdd") // disjoint 5-grams
    ).toDF("doc_id", "text")
    val r = DedupOps.winnowSharedPairs(df, "doc_id", "text",
      k = 5, w = 4, minShared = 3, maxDf = 50)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.length == 1 && r(0)._1 == 1L && r(0)._2 == 2L && r(0)._3 >= 3L)
    // a fingerprint present in EVERY doc is boilerplate: maxDf = 2
    // excludes fingerprints shared by all 3 docs
    val all3 = Seq((1L, passage), (2L, passage), (3L, passage)).toDF("doc_id", "text")
    assert(DedupOps.winnowSharedPairs(all3, "doc_id", "text", 5, 4,
      minShared = 1, maxDf = 2).count() == 0)
  }

  test("vocab coverage: OOV occurrences counted, empty docs keep a row") {
    import spark.implicits._
    val df = Seq(
      (1L, "common common rare"),
      (2L, "common other"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    // vocabSize 1 -> vocab = {common} (count 3, highest)
    val r = Relevance.vocabCoverage(df, "doc_id", "text", vocabSize = 1)
      .orderBy("doc_id").collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r(0) == ((1L, 3L, 1L))) // "rare" is OOV
    assert(r(1) == ((2L, 2L, 1L))) // "other" is OOV
    assert(r(2) == ((3L, 0L, 0L))) // null text -> zero-token row, not dropped
  }

  test("int8 quantization: codes bounded, roundtrip cosine ~1, zero vector safe") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = SimilarityOps.withQuantizedInt8(df, "embedding").orderBy("vec_id").collect()
    val c1 = q(0).getSeq[Int](q(0).fieldIndex("q8")).toSeq
    assert(q(0).getAs[Double]("q8_scale") == 1.0)
    assert(c1 == Seq(127, -63, 32, 0)) // e.g. floor(-0.5*127 + 0.5) = -63
    val c2 = q(1).getSeq[Int](q(1).fieldIndex("q8")).toSeq
    assert(q(1).getAs[Double]("q8_scale") == 0.0 && c2.forall(_ == 0))
  }

  test("label centroid outliers: own-cluster vectors score near 1, planted outlier flagged") {
    import spark.implicits._
    val a = (0 until 5).map(i => (i.toLong, Array(1f, 0.01f * i, 0f), "a"))
    val b = (5 until 10).map(i => (i.toLong, Array(0f, 1f, 0.01f * i), "b"))
    val outlier = Seq((10L, Array(0f, 0f, 1f), "a")) // points away from label-a centroid
    val df = (a ++ b ++ outlier).toDF("vec_id", "embedding", "label")
    val r = SimilarityOps.labelCentroidOutliers(df, "vec_id", "embedding", "label")
      .select("vec_id", "centroid_cos").collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    (0L until 5L).foreach(i => assert(r(i) > 0.9, s"vec $i: ${r(i)}"))
    (5L until 10L).foreach(i => assert(r(i) > 0.9, s"vec $i: ${r(i)}"))
    assert(r(10L) < 0.5, s"outlier not flagged: ${r(10L)}")
  }

  test("semanticDedup keeps one representative per semantic group, exact under the cluster cap") {
    import spark.implicits._
    // cluster A around x-axis: 0,1,2 mutually similar; cluster B
    // around y-axis: 3,4 similar; 5 near z in cluster B's region but
    // dissimilar to everything
    val vecs = Seq(
      (0L, Array(1f, 0f, 0.0f)), (1L, Array(1f, 0.05f, 0f)), (2L, Array(1f, 0f, 0.05f)),
      (3L, Array(0f, 1f, 0f)), (4L, Array(0.05f, 1f, 0f)), (5L, Array(0f, 0.3f, 1f))
    ).toDF("vec_id", "embedding")
    val cents = Seq((0, Array(1f, 0f, 0f)), (1, Array(0f, 1f, 0f)))
      .toDF("cid", "cvec")
    val kept = SimilarityOps.semanticDedup(vecs, "vec_id", "embedding", cents, minSim = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 3L, 5L)) // min-id reps 0 and 3 survive; 5 isolated
  }

  test("semanticDedup fails loudly on dim mismatch instead of silently keeping everything") {
    import spark.implicits._
    val vecs = Seq((0L, Array(1f, 0f)), (1L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val cents = Seq((0, Array(1f, 0f, 0f))).toDF("cid", "cvec")
    val e = intercept[Exception] {
      SimilarityOps.semanticDedup(vecs, "vec_id", "embedding", cents, minSim = 0.9).collect()
    }
    assert(e.getMessage.contains("null-free array<float> of length 3"))
  }

  test("edit-distance pairs: near-identical texts pair up, distance filter bites") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog"
    val df = Seq(
      (1L, base),
      (2L, base + "s"), // distance 1
      (3L, base.replace("quick", "rapid")), // same prefix? 'the quick...' vs 'the rapid...' differ at char 5
      (4L, "the quick brown cat naps under the busy log entirely different tail")
    ).toDF("doc_id", "text")
    val r = DedupOps.editDistancePairs(df, "doc_id", "text",
      prefixLen = 10, maxDistance = 5, maxLen = 1000)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2)))
    // doc 3's prefix differs -> different block; doc 4 shares the
    // prefix but distance >> 5
    assert(r.toSeq == Seq((1L, 2L, 1)))
  }

  test("dedupSpans: hash-key and raw-key modes agree; null-text docs keep a zero-span row") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b c d"),
      (3L, "x y a b"),
      (4L, null.asInstanceOf[String]), // must NOT vanish from the output
      (5L, "p q r")
    ).toDF("doc_id", "text")
    // budget 0: the two modes are two distributed plans; the driver
    // tier has no key mode and must equal both
    val raw = DedupOps.dedupSpansImpl(df, "doc_id", "text", 2, hashKeys = false, 0L)
    val hashed = DedupOps.dedupSpansImpl(df, "doc_id", "text", 2, hashKeys = true, 0L)
    assert(raw.queryExecution.executedPlan.toString.contains("Exchange"))
    assertSameData(raw, hashed)
    assertSameData(DedupOps.dedupSpans(df, "doc_id", "text", spanTokens = 2), raw)
    val r4 = raw.where(col("doc_id") === 4).collect()
    assert(r4.length == 1)
    assert(r4(0).getLong(1) == 0L && r4(0).getLong(2) == 0L && r4(0).getString(3) == "")
  }

  test("expectations: empty input yields zero violations and a definite pass") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    val r = Validate.expect(empty, Seq("v_nonneg" -> "v >= 0")).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_rows") == 0L)
    assert(r(0).getAs[Long]("n_violations") == 0L)
    assert(r(0).getAs[Boolean]("pass"))
    // unsafe rule names are rejected before reaching the melt SQL
    intercept[IllegalArgumentException] {
      Validate.expect(empty, Seq("bad'name" -> "v >= 0"))
    }
  }

  test("tfidf top keywords: rarity-weighted, deterministic tie-break") {
    import spark.implicits._
    val df = Seq(
      (1L, "common rare1"), // rare1: 1*3/1=3 beats common: 1*3/3=1
      (2L, "common zonly zonly"), // zonly: 2*3/1=6
      (3L, "common") // only token
    ).toDF("doc_id", "text")
    val top = Relevance.tfidfTopKeywords(df, "doc_id", "text", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(top == Map(1L -> "rare1", 2L -> "zonly", 3L -> "common"))
  }

  test("spherical k-means: objective non-increasing, recovers separated clusters, feeds IVF") {
    import spark.implicits._
    // 60 vectors in 3 near-orthogonal directions with small jitter
    val base = Seq(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val vecs = (0 until 60).map { i =>
      val b = base(i % 3).clone(); b(3) = (i / 3).toFloat / 100f
      (i.toLong, b)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val (cents, obj) = SimilarityOps.trainKmeans(df, "vec_id", "embedding", dim = 4, k = 3, iters = 4)
    assert(obj.size == 4)
    obj.sliding(2).foreach { case Seq(a, b) => assert(b <= a + 1e-9, s"objective rose: $obj"); case _ => }
    // converged objective ~0: each direction's cluster is tight
    assert(obj.last < 0.1, s"objective did not converge: $obj")
    assert(cents.count() == 3)
    // composition: trained centroids drive ivfSearch; probing all
    // clusters must equal brute force (the IVF exactness invariant)
    val q = df.where($"vec_id" === 0).select($"embedding".as("q"))
    val ivf = SimilarityOps.ivfSearch(df, "vec_id", "embedding", cents, q,
      k = 5, excludeId = Some(0L), nProbe = 3)
    val brute = SimilarityOps.topK(df, "vec_id", "embedding", q, 5, excludeId = Some(0L))
    assert(ivf.select("vec_id").collect().map(_.getLong(0)).toSeq ==
      brute.select("vec_id").collect().map(_.getLong(0)).toSeq)
  }

  test("k-means|| seeding: O(log k) Spark jobs, not O(k) sequential scans") {
    import spark.implicits._
    // 128 vectors spread over 32 distinct directions (pairs of axes).
    val dim = 16
    val vecs = (0 until 128).map { i =>
      val v = Array.fill(dim)(0f)
      v(i % dim) = 1f; v((i / 2) % dim) += 0.5f
      (i.toLong, v)
    }
    val df = vecs.toDF("vec_id", "embedding").localCheckpoint()

    def seedingJobs(k: Int): (Int, Int) = {
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          counter.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val seeds = SimilarityOps.kmeansParallelSeeds(df, "vec_id", "embedding", k)
        // listener events post asynchronously — wait until quiescent
        var last = -1
        var spins = 0
        while (counter.get() != last && spins < 50) {
          last = counter.get(); Thread.sleep(100); spins += 1
        }
        (counter.get(), seeds.size)
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    val (jobs8, n8) = seedingJobs(8)
    val (jobs32, n32) = seedingJobs(32)
    // Action count is 3 fixed passes + 2 per round (rounds =
    // ceil(log2 k)) + ≤1 fill; AQE splits each action into a handful
    // of jobs (one per exchange stage), a constant multiplier. The old
    // farthest-first shape was k−1 corpus-scan ACTIONS minimum — ~31
    // actions (90+ AQE jobs) at k=32.
    def actions(k: Int) = 4 + 2 * math.max(2, (math.log(k.toDouble) / math.log(2.0)).ceil.toInt)
    assert(n8 == 8 && n32 == 32)
    assert(jobs8 <= 4 * actions(8), s"k=8 seeding ran $jobs8 jobs (${actions(8)} actions expected)")
    assert(jobs32 <= 4 * actions(32), s"k=32 seeding ran $jobs32 jobs (${actions(32)} actions expected)")
    // growth is logarithmic: quadrupling k adds ~2 rounds (4 actions),
    // nowhere near the +24 actions the sequential shape would add
    assert(jobs32 - jobs8 <= 4 * 6, s"seeding job growth looks linear: $jobs8 -> $jobs32")
  }

  test("trainKmeans: wrong dim or null component fails loudly") {
    import spark.implicits._
    val df = Seq((0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      SimilarityOps.trainKmeans(df, "vec_id", "embedding", dim = 4, k = 2, iters = 1)
        ._1.collect()
    }
    assert(e.getMessage.contains("null-free array<float> of length 4"))
  }

  test("IVF index: non-probed cluster partitions are pruned, never scanned") {
    import spark.implicits._
    val base = Seq(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(0f, 0f, 1f))
    val vecs = (0 until 30).map { i =>
      val b = base(i % 3).clone(); b((i % 3 + 1) % 3) = (i / 3).toFloat / 100f
      (i.toLong, b)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cents = base.zipWithIndex.map { case (v, i) => (i, v) }.toDF("cid", "cvec")
      .withColumn("cvec", col("cvec").cast("array<float>"))
    withTempDir { dir =>
      val path = s"$dir/ivf"
      SimilarityOps.writeIvfIndex(df, "vec_id", "embedding", cents, path)
      val q = df.where($"vec_id" === 0).select($"embedding".as("q"))

      // plan shape: the scan carries a partition filter on cluster
      val res = SimilarityOps.ivfSearchIndexed(spark, path, "vec_id", "embedding",
        cents, q, k = 5, excludeId = Some(0L), nProbe = 1)
      val scan = res.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters") && scan.contains("cluster"),
        s"expected a cluster partition filter in the scan:\n${scan.take(2000)}")
      val pruned = res.collect().map(_.getLong(0))
      assert(pruned.nonEmpty)

      // behavioral proof: corrupt a NON-probed cluster's data file;
      // the probed search still runs (never reads it) while a full
      // unpruned scan of the index fails on the corrupt file.
      // (query = vec 0 -> probes cluster 0; corrupt cluster=2.)
      val c2 = new java.io.File(s"$path/cluster=2")
      val dataFiles = c2.listFiles.filter(_.getName.endsWith(".parquet"))
      assert(dataFiles.nonEmpty)
      dataFiles.foreach { f =>
        val out = new java.io.FileOutputStream(f)
        out.write("not a parquet file".getBytes); out.close()
      }
      val prunedAfter = SimilarityOps.ivfSearchIndexed(spark, path, "vec_id", "embedding",
        cents, q, k = 5, excludeId = Some(0L), nProbe = 1).collect().map(_.getLong(0))
      assert(prunedAfter.toSeq == pruned.toSeq)
      intercept[Exception] {
        spark.read.schema("vec_id LONG, embedding ARRAY<FLOAT>, nrm DOUBLE, cluster INT")
          .parquet(path).where(col("cluster") === 2).count()
      }

      // semantics: indexed probe-1 == in-memory ivfSearch probe-1
      val mem = SimilarityOps.ivfSearch(df, "vec_id", "embedding", cents, q,
        k = 5, excludeId = Some(0L), nProbe = 1).collect().map(_.getLong(0))
      assert(pruned.toSeq == mem.toSeq)
    }
  }

  test("new-operator plans: broadcast dims, equi-joins, no cartesian products, no shuffle for per-row ops") {
    import spark.implicits._
    val docs = (0L until 300L)
      .map(i => (i, s"tok${i % 17} tok${(i * 3) % 17} common words here"))
      .toDF("doc_id", "text")
    // vocabCoverage: the vocab side must broadcast — corpus never shuffles for the join
    val p1 = Relevance.vocabCoverage(docs, "doc_id", "text", vocabSize = 5)
      .queryExecution.executedPlan.toString
    assert(p1.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n${p1.take(1500)}")
    assert(!p1.contains("CartesianProduct"))
    // editDistancePairs: blocked self-join is an equi-join on (blk, sub), never cartesian
    val p2 = DedupOps.editDistancePairs(docs, "doc_id", "text", prefixLen = 8, maxDistance = 50)
      .queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"),
      s"edit-distance self-join must be an equi-join:\n${p2.take(1500)}")
    // withQuantizedInt8: per-row expressions only — zero exchanges
    val vecs = (0L until 100L).map(i => (i, Array(i.toFloat, 1f))).toDF("vec_id", "embedding")
    val p3 = SimilarityOps.withQuantizedInt8(vecs, "embedding")
      .queryExecution.executedPlan.toString
    assert(!p3.contains("Exchange"), s"quantization must not shuffle:\n${p3.take(1500)}")
    // labelCentroidOutliers: centroid dim table broadcasts back
    val lab = (0L until 100L).map(i => (i, Array(i.toFloat, 1f), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val p4 = SimilarityOps.labelCentroidOutliers(lab, "vec_id", "embedding", "label")
      .queryExecution.executedPlan.toString
    assert(p4.contains("BroadcastHashJoin"), s"centroid join not broadcast:\n${p4.take(1500)}")
    assert(!p4.contains("CartesianProduct"))
  }

  test("relevance plans: broadcast dimension sides, no cartesian products") {
    import spark.implicits._
    val corpus = (0L until 200L)
      .map(i => (i, s"tok${i % 17} tok${(i * 3) % 17} common"))
      .toDF("doc_id", "text")
    val plan1 = Relevance.tfidfTopKeywords(corpus, "doc_id", "text", k = 2)
      .queryExecution.executedPlan.toString
    assert(plan1.contains("BroadcastHashJoin"), s"df-side join not broadcast:\n${plan1.take(1500)}")
    assert(!plan1.contains("CartesianProduct"))
    val plan2 = Relevance.bm25(corpus, "doc_id", "text", Seq("common"), logIdf = false)
      .queryExecution.executedPlan.toString
    // scalar frames ride 1-row broadcasts, never a cartesian product
    assert(!plan2.contains("CartesianProduct"))
    assert(plan2.contains("BroadcastHashJoin") || plan2.contains("BroadcastNestedLoopJoin"))
  }

  test("rrf fusion: fixed-tree scores, absent ranks contribute zero") {
    import spark.implicits._
    val a = Seq((1L, 1), (2L, 2)).toDF("id", "rank")
    val b = Seq((2L, 1), (3L, 2)).toDF("id", "rank")
    val f = Relevance.rrfFuse(Seq(a, b), "id", kRrf = 60)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(f(1L) == 1.0 / 61 && f(3L) == 1.0 / 62)
    assert(f(2L) == 1.0 / 62 + 1.0 / 61)
    // present-in-both outranks either single-list doc
    assert(f(2L) > f(1L) && f(2L) > f(3L))
  }

  test("bm25: more query-term mass ranks higher; absent terms score zero") {
    import spark.implicits._
    val df = Seq(
      (1L, "q q q filler filler"),
      (2L, "q filler filler filler filler"),
      (3L, "filler filler filler filler filler")
    ).toDF("doc_id", "text")
    val r = Relevance.bm25(df, "doc_id", "text", Seq("q"), logIdf = false)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(1L) > r(2L) && r(2L) > 0.0 && r(3L) == 0.0)
    // classic log-idf variant: same ordering, damped magnitudes
    val rl = Relevance.bm25(df, "doc_id", "text", Seq("q"), logIdf = true)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(rl(1L) > rl(2L) && rl(2L) > 0.0 && rl(3L) == 0.0)
    assert(rl(1L) < r(1L))
  }

  test("repetition stats: duplicate tokens/bigrams and top-bigram mass") {
    import spark.implicits._
    val df = Seq((1L, "a b a b a"), (2L, "x"), (3L, "w1 w2 w3 w4")).toDF("doc_id", "text")
    val r = TextOps.withRepetitionStats(df, "text").orderBy("doc_id").collect()
    // doc 1: toks [a b a b a] -> 5 toks, 2 distinct; bigrams
    // [a b, b a, a b, b a] -> 4, 2 distinct, top count 2
    assert(r(0).getAs[Long]("n_toks") == 5 && r(0).getAs[Long]("n_dup_toks") == 3)
    assert(r(0).getAs[Long]("n_dup_bigrams") == 2 && r(0).getAs[Long]("top_bigram_n") == 2)
    assert(r(0).getAs[Double]("dup_tok_frac") == 0.6)
    assert(r(0).getAs[Double]("dup_bigram_frac") == 0.5)
    assert(r(0).getAs[Double]("top_bigram_frac") == 0.8)
    // doc 2: single token -> no bigrams, all-zero fractions
    assert(r(1).getAs[Long]("n_toks") == 1 && r(1).getAs[Long]("top_bigram_n") == 0)
    assert(r(1).getAs[Double]("dup_bigram_frac") == 0.0 && r(1).getAs[Double]("top_bigram_frac") == 0.0)
    // doc 3: all-unique -> zero dups, top bigram occurs once
    assert(r(2).getAs[Long]("n_dup_toks") == 0 && r(2).getAs[Long]("n_dup_bigrams") == 0)
    assert(r(2).getAs[Long]("top_bigram_n") == 1)
    // reserved-name guard
    val ex = intercept[IllegalArgumentException](
      TextOps.withRepetitionStats(df.withColumn("n_toks", lit(1)), "text"))
    assert(ex.getMessage.contains("n_toks"))
  }

  test("connected components: chains, merged bridges, singleton roots") {
    import spark.implicits._
    // component A: chain 1-2-3-...-8 (worst case for naive label
    // propagation — diameter 7); component B: clique-ish 20,21,22 plus
    // a bridge 22-25 merging {25,26}; component C: lone pair (40,41)
    val pairs = ((1L to 7L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (20L, 22L), (22L, 25L), (25L, 26L), (40L, 41L), (41L, 40L)))
      .toDF("a_id", "b_id")
    val got = Components.connectedComponents(pairs, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected =
      (1L to 8L).map(_ -> 1L).toMap ++
        Seq(20L, 21L, 22L, 25L, 26L).map(_ -> 20L).toMap ++
        Map(40L -> 40L, 41L -> 40L)
    assert(got == expected)
    // deterministic re-run
    val again = Components.connectedComponents(pairs, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == expected)
    // empty pair list -> empty clustering, no failure
    assert(Components.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"), "a_id", "b_id").count() == 0)
  }

  test("connected components scale shape: 256-node chain converges in O(log n) rounds") {
    import spark.implicits._
    // star contraction halves chain length per round pair; a 256-node
    // chain must finish well inside 12 rounds (vs 255 for naive
    // label propagation) — this would throw if rounds were O(diameter)
    val pairs = (1L to 255L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val got = Components.connectedComponents(pairs, "a_id", "b_id", maxRounds = 12)
      .agg(countDistinct(col("cluster_id")), count(lit(1))).head
    assert(got.getLong(0) == 1 && got.getLong(1) == 256)
  }

  test("connected components frees per-round checkpoint storage eagerly") {
    import spark.implicits._
    // A 256-node chain needs ~8 rounds; without eager freeing each
    // round would pin one checkpointed edge-frame (2 RDDs/round incl.
    // the intermediate). Assert cached-RDD count right after the call
    // is input + final frame territory, not rounds-proportional.
    val pairs = (1L to 255L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val before = spark.sparkContext.getPersistentRDDs.size
    val cc = Components.connectedComponents(pairs, "a_id", "b_id", maxRounds = 12)
    cc.count()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 2,
      s"per-round checkpoints leaked: $before cached RDDs before, $after after")
  }

  test("dropNearDuplicates keeps one representative per cluster and all isolated docs") {
    import spark.implicits._
    val df = Seq(
      (0L, "the cat sat on the mat today fine", "a"),
      (1L, "the cat sat on the mat today fine", "a"), // exact dup of 0
      (2L, "the cat sat on the mat today fine ok", "a"), // near dup of 0
      (3L, "completely different words appear here entirely now", "b"),
      (4L, "another unrelated document body with its own tokens", "b")
    ).toDF("doc_id", "text", "src")
    val kept = DedupOps.dropNearDuplicates(df, "doc_id", "text",
      bands = 2, rowsPerBand = 4, minJaccard = 0.2)
    assert(kept.columns.toSeq == df.columns.toSeq) // schema preserved
    val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    // 0,1,2 form one cluster -> representative 0 survives; 3,4 isolated
    assert(ids == Set(0L, 3L, 4L))
  }

  test("connected components fails loudly when round budget is too small") {
    import spark.implicits._
    // a 64-node chain cannot finish in one round
    val pairs = (1L to 63L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val ex = intercept[IllegalArgumentException](
      Components.connectedComponents(pairs, "a_id", "b_id", maxRounds = 1))
    assert(ex.getMessage.contains("converge"))
    // and the star-contraction bound: the same chain finishes well
    // inside the default budget
    val got = Components.connectedComponents(pairs, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 64L).map(_ -> 1L).toMap)
  }

  test("connected components: driver rounds equal the distributed rounds, rows and schema") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val random = Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
    val graphs: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "chain" -> (1L to 40L).map(i => (i, i + 1)).toDF("a_id", "b_id"),
      "cliques" -> (for {
        base <- Seq(0L, 100L, 200L); size = base / 50 + 3
        i <- 0L until size; j <- 0L until size if i != j
      } yield (base + i, base + j)).toDF("a_id", "b_id"),
      "random" -> random.toDF("a_id", "b_id"),
      "empty" -> Seq.empty[(Long, Long)].toDF("a_id", "b_id"),
      "self-loops only" -> Seq((1L, 1L), (2L, 2L)).toDF("a_id", "b_id"),
      "null ids" -> Seq[(Option[Long], Option[Long])]((None, Some(1L)), (Some(1L), Some(2L)),
        (Some(2L), None), (None, None), (Some(5L), Some(3L))).toDF("a_id", "b_id"),
      "string ids" -> Seq(("10", "11"), ("12", "11"), ("31", "30"), ("7", null))
        .toDF("a_id", "b_id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0), r.get(1))).toSeq.sortBy(_.toString)
    for ((name, pairs) <- graphs) {
      val local = Components.connectedComponentsImpl(pairs, "a_id", "b_id", 25,
        Components.DriverMaxEdges)
      val dist = Components.connectedComponentsImpl(pairs, "a_id", "b_id", 25, 0L)
      assert(local.schema == dist.schema, s"$name: schema")
      assert(rows(local) == rows(dist), s"$name: rows")
    }
    // a budget of exactly the edge count over 4 uneven partitions: some
    // partition holds more than its share, so the scan ships nothing and
    // the driver path collects the edges with one more job
    val n = random.collect { case (a, b) if a != b => (a.max(b), a.min(b)) }.distinct.size
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try {
      val df = random.toDF("a_id", "b_id")
      val (jobs, got) = jobsOf(Components.connectedComponentsImpl(df, "a_id", "b_id", 25, n.toLong)
        .collect().map(r => (r.get(0), r.get(1))).toSeq.sortBy(_.toString))
      assert(got == rows(Components.connectedComponentsImpl(df, "a_id", "b_id", 25, 0L)))
      assert(jobs == 3, s"expected the collect fallback, ran $jobs jobs")
    } finally spark.conf.set(coalesce, before)
    // the same round budget and the same failure on both paths
    val chain = (1L to 63L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val msgs = Seq(Components.DriverMaxEdges, 0L).map { budget =>
      intercept[IllegalArgumentException](
        Components.connectedComponentsImpl(chain, "a_id", "b_id", 1, budget)).getMessage
    }
    assert(msgs.distinct.size == 1 && msgs.head.contains("converge"))
  }

  test("connected components on a small pair list runs at most 2 Spark jobs") {
    import spark.implicits._
    // a 64-edge chain needs ~7 star rounds; run as Spark jobs, each
    // round costs several
    val pairs = (1L to 64L).map(i => (i, i + 1)).toDF("a_id", "b_id").localCheckpoint()
    val (jobs, got) = jobsOf(
      Components.connectedComponents(pairs, "a_id", "b_id").collect())
    assert(got.map(_.getLong(1)).toSet == Set(1L) && got.length == 65)
    assert(jobs <= 2, s"connectedComponents ran $jobs jobs")
  }

  test("multimodal decode stub: deterministic metadata, payload preserved") {
    import spark.implicits._
    val bin = Seq((1L, Array[Byte](0, 10, 20, 30)), (2L, Array[Byte](1, 1, 1, 1)))
      .toDF("id", "payload")
    val decoded = Multimodal.withMeta(bin, "id", "payload")
    val rows = decoded.orderBy("id").collect()
    assert(rows.length == 2)
    val m1 = decoded.where(col("id") === 1).select("meta.kind", "meta.width", "meta.height").head
    assert(m1.getString(0) == "image") // first byte 0 -> kinds(0)
    assert(m1.getInt(1) == 16 * 11 && m1.getInt(2) == 16 * 21)
    // payload round-trips through the decode boundary untouched
    val payload = decoded.where(col("id") === 1).select("payload").head.getAs[Array[Byte]](0)
    assert(payload.toSeq == Seq[Byte](0, 10, 20, 30))
  }

  test("multimodal REAL image decode: javax.imageio reads PNG/JPEG headers through the Spark seam") {
    import spark.implicits._
    // real image bytes generated offline with the JDK's own encoder —
    // the decode side must recover format + true dimensions
    def encode(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff)))
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out))
      out.toByteArray
    }
    val pngMagicGarbage = Array[Byte](0x89.toByte, 'P', 'N', 'G',
      '\r', '\n', 0x1a, '\n') ++ Array.fill[Byte](16)(0x7f)
    val bin = Seq(
      (1L, encode(20, 12, "png")),
      (2L, encode(7, 33, "jpg")),
      (3L, Array[Byte](0, 1, 2, 3)), // not an image → unknown, kept
      (4L, null.asInstanceOf[Array[Byte]]), // NULL payload → unknown, kept
      (5L, pngMagicGarbage) // magic selects a reader, header is fuzz
    ).toDF("id", "payload")
    val got = Multimodal.decodeImages(bin, "id", "payload").toDF()
      .select(col("id"), col("meta.kind"), col("meta.width"), col("meta.height"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(1L) == (("image/png", 20, 12)))
    assert(got(2L)._1 == "image/jpeg" && got(2L)._2 == 7 && got(2L)._3 == 33)
    assert(got(3L) == (("unknown", 0, 0)), "corrupt bytes keep their row")
    assert(got(4L) == (("unknown", 0, 0)), "a NULL payload keeps its row")
    assert(got(5L) == (("unknown", 0, 0)),
      "fuzzed header behind a real magic must not kill the task")
    // payloads round-trip the real-decode boundary untouched
    val p = Multimodal.decodeImages(bin, "id", "payload").toDF()
      .where(col("id") === 3).select("payload").head.getAs[Array[Byte]](0)
    assert(p.toSeq == Seq[Byte](0, 1, 2, 3))
  }

  test("image dHash: perceptual near-dups pair, distinct images don't, hot bands cap") {
    import spark.implicits._
    // deterministic TEXTURED images via the JDK encoder (a pure
    // gradient is dHash-degenerate — row-wise differences all tie):
    // A' = A with a small corner edit (perceptually near); B = a
    // different texture seed (perceptually far); C = undecodable
    def texture(w: Int, h: Int, seed: Int, dent: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach { y =>
        // coarse 8x8-block texture so the 9x8 dHash grid sees it
        val v = ((((x / 8) * 73856093 ^ (y / 8) * 19349663 ^
          seed * 83492791) & 0xffffffffL) * 2654435761L >>> 24).toInt & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      })
      if (dent) (0 until 8).foreach(x => (0 until 8).foreach(y =>
        img.setRGB(x, y, 0xffffff)))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val bin = Seq(
      (1L, texture(64, 48, seed = 1, dent = false)),
      (2L, texture(64, 48, seed = 1, dent = true)), // near-dup of 1
      (3L, texture(64, 48, seed = 9, dent = false)), // far from both
      (4L, Array[Byte](1, 2, 3)) // undecodable → null hash, never pairs
    ).toDF("id", "payload")
    val hashes = Multimodal.withImageDHash(bin, "id", "payload")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(hashes(1L).isDefined && hashes(4L).isEmpty)
    assert(java.lang.Long.bitCount(hashes(1L).get ^ hashes(2L).get) <= 6,
      "a small corner edit must stay within the dHash near-dup radius")
    assert(java.lang.Long.bitCount(hashes(1L).get ^ hashes(3L).get) > 6,
      "a structurally different texture must fall outside the radius")
    val pairs = Multimodal.nearDupImagePairs(bin, "id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"only the near-dup pair may surface: $pairs")
    // hot-band cap: many identical solid images share EVERY band
    // value; capping drops the boilerplate bands (and with them the
    // quadratic self-join) — the survivors' pairs vanish
    val solid = (0L until 40L).map(i =>
      (i, texture(16, 16, seed = 0, dent = false))).toDF("id", "payload")
    val capped = Multimodal.nearDupImagePairs(
      solid, "id", "payload", maxBandFreq = 10L)
    assert(capped.count() == 0L,
      "every band of the boilerplate cluster is over-cap and must drop")
    // pigeonhole contract is enforced
    intercept[IllegalArgumentException](
      Multimodal.nearDupImagePairs(bin, "id", "payload",
        maxHamming = 8, bands = 8))
  }

  test("multimodal frame sampling is bounded by fps * duration") {
    import spark.implicits._
    val bin = Seq((1L, Array[Byte](2, 0, 0, 9))).toDF("id", "payload") // durationMs = 10000
    val frames = Multimodal.frameSample(Multimodal.withMeta(bin, "id", "payload"), fps = 1.0)
    assert(frames.count() == 10) // one frame per second
    assert(frames.select(max("frame_ms")).head.getLong(0) < 10000L)
  }

  test("multimodal resize stub preserves aspect ratio and caps the long side") {
    import spark.implicits._
    val bin = Seq((1L, Array[Byte](0, 63, 31, 0))).toDF("id", "payload") // 1024 x 512
    val r = Multimodal.resizeMeta(Multimodal.withMeta(bin, "id", "payload"), maxDim = 256).head
    assert(r.getAs[Int]("out_width") == 256 && r.getAs[Int]("out_height") == 128)
  }

  test("bloomIncrementalDedup: byte-identical to the plain digest join") {
    import spark.implicits._
    val corpus = (0L until 40L).map(i => (i, s"corpus doc number ${i % 25}")).toDF("doc_id", "text")
    val batch = (100L until 130L).map(i =>
      (i, if (i % 3 == 0) s"corpus doc number ${i % 25}" else s"fresh doc $i")).toDF("doc_id", "text")
    val plain = DedupOps.incrementalDedup(batch, corpus, "doc_id", "text")
    val bloomed = DedupOps.bloomIncrementalDedup(batch, corpus, "doc_id", "text",
      expectedBatchDocs = 64L)
    assertSameData(bloomed, plain)
  }

  test("bloomIncrementalDedup: corpus is pruned map-side, below any exchange") {
    import spark.implicits._
    // parquet-backed corpus: an in-memory LocalRelation would be
    // constant-folded through the probe filter by the optimizer and
    // hide the plan shape this test pins
    withTempDir { dir =>
    (0L until 40L).map(i => (i, s"c$i")).toDF("doc_id", "text")
      .write.parquet(s"$dir/corpus")
    val corpus = spark.read.parquet(s"$dir/corpus")
    val batch = Seq((100L, "c3"), (101L, "new")).toDF("doc_id", "text")
    val out = DedupOps.bloomIncrementalDedup(batch, corpus, "doc_id", "text",
      expectedBatchDocs = 16L)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"expected a bloom might_contain probe in the plan:\n${plan.take(3000)}")
    // map-side means no Exchange between the corpus scan and the
    // probe filter: walking DOWN the plan text from the probe line,
    // the corpus scan must appear before any Exchange does
    val lines = plan.linesIterator.toSeq
    val probeIdx = lines.indexWhere(_.contains("might_contain"))
    assert(probeIdx >= 0)
    val scanIdx = lines.indexWhere(l => l.contains("FileScan") || l.contains("Scan parquet"), probeIdx)
    assert(scanIdx >= 0 && !lines.slice(probeIdx, scanIdx).exists(_.contains("Exchange")),
      s"an Exchange intervenes between the corpus scan and the bloom probe:\n$plan")
    }
  }

  test("bloomIncrementalDedup: empty batch yields empty output without a corpus pass") {
    import spark.implicits._
    val corpus = (0L until 10L).map(i => (i, s"c$i")).toDF("doc_id", "text")
    val batch = corpus.where(col("doc_id") < 0)
    assert(DedupOps.bloomIncrementalDedup(batch, corpus, "doc_id", "text").count() == 0)
  }

  test("pqEncode/pqAdcTopK: nearest centroid per subspace, first-min ties, exact on centroids") {
    import spark.implicits._
    val cb = Seq(
      Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)), // subspace 0
      Seq(Seq(0.0, 1.0), Seq(1.0, 0.0))) // subspace 1
    val df = Seq(
      (0L, Array(0.1f, 0.1f, 0.9f, 0.1f)), // → codes [0, 1]
      (1L, Array(0.5f, 0.5f, 0.0f, 0.9f)), // sub0 tie → first min 0; sub1 → 0
      (2L, Array(1.0f, 1.0f, 0.0f, 1.0f))  // exactly on centroids [1, 0]
    ).toDF("vec_id", "embedding")
    val enc = SimilarityOps.pqEncode(df, "embedding", cb)
    val codes = enc.orderBy("vec_id").collect()
      .map(_.getAs[scala.collection.Seq[Int]]("pq_codes").toSeq)
    assert(codes.toSeq == Seq(Seq(0, 1), Seq(0, 0), Seq(1, 0)))
    // ADC with the query AT doc 2's centroids → its adc is exactly 0 and it ranks first
    val top = SimilarityOps.pqAdcTopK(enc, "vec_id", "pq_codes", cb,
      query = Seq(1.0, 1.0, 0.0, 1.0), k = 3).collect()
    assert(top(0).getLong(0) == 2L && top(0).getDouble(1) == 0.0)
    val plan = SimilarityOps.pqAdcTopK(enc, "vec_id", "pq_codes", cb,
      query = Seq(1.0, 1.0, 0.0, 1.0), k = 2).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
  }

  test("reweightTemperature: tau<1 flattens, tau=1 identity-ish, zeros stay zero") {
    import spark.implicits._
    val w = Seq(("a", 810L), ("b", 90L), ("c", 0L)).toDF("src", "permille")
    val flat = Mixing.reweightTemperature(w, "src", tauNum = 1, tauDen = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // sqrt: 810→28.46, 90→9.49 → ratio 9:3 instead of 9:1
    assert(flat("c") == 0L)
    assert(flat("a") + flat("b") + flat("c") == 1000L ||
      math.abs(flat("a") + flat("b") - 1000L) <= 1) // rounding
    assert(flat("a").toDouble / flat("b") < 810.0 / 90.0) // flattened
    val same = Mixing.reweightTemperature(w, "src", tauNum = 1, tauDen = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(same("a") == 900L && same("b") == 100L && same("c") == 0L)
  }

  test("intervalOverlapPairs: each pair exactly once, boundary semantics half-open") {
    import spark.implicits._
    val a = Seq((1L, 0L, 10L), (2L, 20L, 22L)).toDF("id", "s", "e")
    val b = Seq(
      (10L, 5L, 15L),  // overlaps a1 by [5,10) = 5
      (11L, 10L, 12L), // touches a1 at 10 — half-open, NO overlap
      (12L, 0L, 30L)   // overlaps both: a1 by 10, a2 by 2
    ).toDF("id", "s", "e")
    // bucketWidth 3 makes long intervals span MANY buckets — the
    // credit rule must still emit each pair exactly once
    val r = graft.operators.RangeJoin.intervalOverlapPairs(
      a, "id", "s", "e", b, "id", "s", "e", bucketWidth = 3L)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted.toSeq
    assert(r == Seq((1L, 10L, 5L), (1L, 12L, 10L), (2L, 12L, 2L)))
    val bad = Seq((9L, 5L, 5L)).toDF("id", "s", "e")
    val err = intercept[Exception] {
      graft.operators.RangeJoin.intervalOverlapPairs(
        bad, "id", "s", "e", b, "id", "s", "e", 3L).collect()
    }
    assert(err.getMessage.contains("empty interval"))
  }

  test("histogram: under/overflow buckets, exact edges, nulls excluded") {
    import spark.implicits._
    val df = Seq(Some(-5.0), Some(0.0), Some(2.5), Some(7.5), Some(10.0), Some(99.0), None)
      .toDF("v")
    val h = Profile.histogram(df, "v", lo = 0.0, hi = 10.0, nb = 2)
      .collect().map(r => (r.getInt(0), r.getAs[Long]("n"))).toMap
    assert(h == Map(0 -> 1L, 1 -> 2L, 2 -> 1L, 3 -> 2L)) // -5 | 0,2.5 | 7.5 | 10,99
    val edges = Profile.histogram(df, "v", 0.0, 10.0, 2)
      .where(col("bucket") === 2).select("lo_edge", "hi_edge").head
    assert(edges.getDouble(0) == 5.0 && edges.getDouble(1) == 10.0)
  }

  test("referentialIntegrity: orphans vs null keys are distinct counts") {
    import spark.implicits._
    val child = Seq(Some(1L), Some(2L), Some(99L), None).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val r = Validate.referentialIntegrity(child, parent, "fk", "pk").head
    assert(r.getAs[Long]("n_child") == 4L)
    assert(r.getAs[Long]("n_null_keys") == 1L)
    assert(r.getAs[Long]("n_orphans") == 1L)
    assert(!r.getAs[Boolean]("ok"))
  }

  test("withGlobalOrdinals: equals the naive global window, without its single partition") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val df = (0L until 400L).map(i => (i, rnd.nextInt(50).toLong)).toDF("id", "v")
    val fast = Sequencing.withGlobalOrdinals(df, "v", "id", buckets = 8)
    val naive = df.withColumn("ordinal",
      row_number().over(Window.orderBy(col("v"), col("id"))).cast("bigint"))
    assertSameData(fast, naive)
    assert(!fast.queryExecution.executedPlan.toString.contains("Exchange SinglePartition"))
    val e = intercept[Exception] {
      Sequencing.withGlobalOrdinals(
        Seq((1L, null.asInstanceOf[java.lang.Long])).toDF("id", "v"), "v", "id").collect()
    }
    assert(e.getMessage.contains("withGlobalOrdinals"))
  }

  test("countMin: one-sided bound holds and estimates are partitioning-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val toks = (0 until 5000).map(_ => s"tok${rnd.nextInt(40)}").toDF("token")
    val exact = toks.groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (cm, n) = Sketches.countMin(toks, "token", eps = 0.01, confidence = 0.95)
    assert(n == 5000L)
    val slack = math.ceil(0.01 * n).toLong
    exact.foreach { case (tk, c) =>
      val e = cm.estimateCount(tk)
      assert(e >= c && e <= c + slack, s"$tk: exact $c, est $e, slack $slack")
    }
    // cell-wise integer merge → same estimates under any partitioning
    val (cm1, _) = Sketches.countMin(toks.repartition(1), "token", 0.01, 0.95)
    val (cm7, _) = Sketches.countMin(toks.repartition(7), "token", 0.01, 0.95)
    exact.keys.foreach { tk =>
      assert(cm1.estimateCount(tk) == cm7.estimateCount(tk))
    }
  }

  test("mmrTopK: corpus smaller than k returns everything, ranked") {
    import spark.implicits._
    val corpus = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Array(1.0f, 0.0f))).toDF("q")
    val r = SimilarityOps.mmrTopK(corpus, "vec_id", "embedding", q, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(r.toSeq == Seq((1L, 1), (2L, 2)))
  }

  test("diffSnapshots: null content is presence, not absence; null==null is unchanged") {
    import spark.implicits._
    val before = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, null.asInstanceOf[String])).toDF("id", "text")
    val after = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "now set"), (4L, null.asInstanceOf[String])).toDF("id", "text")
    val st = Inspect.diffSnapshots(before, after, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st == Map(1L -> "unchanged", 2L -> "unchanged", 3L -> "changed", 4L -> "added"))
  }

  test("trainPqCodebooks: objective non-increasing; codebooks feed pqEncode; shape correct") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // two latent centers per subspace so k-means has real structure
    val corpus = (0L until 120L).map { i =>
      val base = if (i % 2 == 0) 0.0f else 1.0f
      (i, Array.fill(8)(base + rnd.nextInt(100) / 1000.0f))
    }.toDF("vec_id", "embedding")
    val (cb, obj) = SimilarityOps.trainPqCodebooks(
      corpus, "vec_id", "embedding", dim = 8, m = 2, k = 2, iters = 4)
    assert(cb.size == 2 && cb.forall(_.size == 2) && cb.forall(_.forall(_.size == 4)))
    assert(obj.size == 4)
    assert(obj.zip(obj.tail).forall { case (a, b) => b <= a + 1e-9 },
      s"objective must be non-increasing, got $obj")
    // the trained codebooks plug straight into the encoder
    val codes = SimilarityOps.pqEncode(corpus, "embedding", cb)
      .select("pq_codes").collect().map(_.getAs[scala.collection.Seq[Int]](0))
    assert(codes.forall(c => c.size == 2 && c.forall(x => x >= 0 && x < 2)))
    // with two clean latent clusters, codes actually separate the parities
    val codesByParity = SimilarityOps.pqEncode(corpus, "embedding", cb)
      .select(col("vec_id") % 2, col("pq_codes")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getAs[scala.collection.Seq[Int]](1).head).toSet)
    assert(codesByParity(0L).intersect(codesByParity(1L)).isEmpty)
  }

  test("mmrTopK: near-duplicate of the first pick is deferred for a diverse result") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),    // most relevant
      (2L, Array(0.99f, 0.14f, 0.0f)),  // near-dup of 1 (cos≈0.99), still very relevant
      (3L, Array(0.6f, 0.0f, 0.8f))     // less relevant (cos≈0.81) but diverse (cos to 1 = 0.6)
    ).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Array(1.0f, 0.0f, 0.3f))).toDF("q")
    val mmr = SimilarityOps.mmrTopK(corpus, "vec_id", "embedding", q, k = 3, lambda = 0.5)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // plain relevance order would be 1, 2, 3; MMR demotes the near-dup
    assert(mmr.toSeq == Seq((1L, 1), (3L, 2), (2L, 3)))
  }

  test("ivfPqSearch: probing every cluster degenerates to full-corpus ADC") {
    import spark.implicits._
    val cb = Seq(
      Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)),
      Seq(Seq(0.0, 1.0), Seq(1.0, 0.0)))
    val rnd = new scala.util.Random(5)
    val corpus = (0L until 60L).map(i =>
      (i, Array.fill(4)(rnd.nextInt(9) / 4.0f))).toDF("vec_id", "embedding")
    val coarse = Seq(
      (0, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2, Array(0.0f, 0.0f, 1.0f, 1.0f))).toDF("cid", "cvec")
    val q = Seq(0.25, 0.5, 0.75, 0.0)
    val probeAll = SimilarityOps.ivfPqSearch(corpus, "vec_id", "embedding",
      coarse, cb, q, k = 10, nProbe = 3).collect()
    val full = SimilarityOps.pqAdcTopK(
      SimilarityOps.pqEncode(corpus, "embedding", cb),
      "vec_id", "pq_codes", cb, q, k = 10).collect()
    assert(probeAll.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      full.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("pqEncode: native codegen kernel is bitwise-equal to the HOF rendering") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val cb = (0 until 3).map(_ => (0 until 5).map(_ => (0 until 4).map(_ =>
      (rnd.nextInt(41) - 20) / 8.0)))
    val corpus = (0L until 300L).map(i =>
      (i, Array.fill(12)(rnd.nextInt(33) / 8.0f))).toDF("vec_id", "embedding")
    val native = SimilarityOps.pqEncode(corpus, "embedding", cb)
      .select("vec_id", "pq_codes")
    val hof = SimilarityOps.pqEncodeHof(corpus, "embedding", cb)
      .select("vec_id", "pq_codes")
    assertSameData(native, hof)
  }

  test("pqEncode: wrong dimension raises loudly") {
    import spark.implicits._
    val cb = Seq(Seq(Seq(0.0, 0.0)), Seq(Seq(0.0, 0.0)))
    val df = Seq((0L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      SimilarityOps.pqEncode(df, "embedding", cb).collect()
    }
    assert(e.getMessage.contains("null-free array<float> of length 4"))
  }

  test("cdcChunks: chunks reassemble the text, respect maxLen, and re-sync after a prefix edit") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val body = (0 until 600).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val df = Seq(
      (0L, body),
      (1L, "PREFIX-INSERTED-" + body), // shifted content, same suffix
      (2L, "tiny"),                    // shorter than k+1 → one chunk
      (3L, ""),                        // empty → no rows
      (4L, null.asInstanceOf[String])  // null → no rows
    ).toDF("doc_id", "text")
    val ch = TextOps.cdcChunks(df, "doc_id", "text", k = 8, mod = 16, maxLen = 64)
    val rows = ch.orderBy("doc_id", "chunk_idx").collect()
    // chunks concatenate back to the exact input
    val re0 = rows.filter(_.getLong(0) == 0L).map(_.getAs[String]("chunk_text")).mkString
    assert(re0 == body)
    // maxLen respected
    assert(rows.forall(_.getAs[Long]("chunk_len") <= 64L))
    // CDC property: after the edit region, doc 1's chunk set re-syncs
    // with doc 0's — the two share most chunk texts despite the shift
    val c0 = rows.filter(_.getLong(0) == 0L).map(_.getAs[String]("chunk_text")).toSet
    val c1 = rows.filter(_.getLong(0) == 1L).map(_.getAs[String]("chunk_text")).toSet
    val shared = c0.intersect(c1).map(_.length).sum
    assert(shared > body.length / 2,
      s"expected CDC re-sync to share most content, shared only $shared of ${body.length} chars")
    // degenerate inputs
    assert(rows.filter(_.getLong(0) == 2L).map(_.getAs[String]("chunk_text")).toSeq == Seq("tiny"))
    assert(!rows.exists(r => r.getLong(0) >= 3L))
  }

  test("withBpeishTokenCount: contractions, digit runs, punct runs count as separate pre-tokens") {
    import spark.implicits._
    val df = Seq(
      (0L, "it's 2024, costs $12.50!"),
      // "it"("'s")(" 2024")(",")(" costs")(" $")("12")(".")("50")("!") = 10
      (1L, "plain words only here"), // 4 letter-run tokens
      (2L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val r = TextOps.withBpeishTokenCount(df, "text").orderBy("id").collect()
    assert(r(0).getAs[Long]("n_bpeish") == 10L)
    assert(r(1).getAs[Long]("n_bpeish") == 4L)
    assert(r(2).isNullAt(r(2).fieldIndex("n_bpeish")))
  }

  test("sourceOverlapMatrix: planted shared spans counted once per pair, oriented src_a < src_b") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // exactly one 8-token span
    val df = Seq(
      (0L, s"$shared unique tail for a one", "sA"),
      (1L, s"$shared unique tail for a two", "sA"), // same span twice in sA → still 1 distinct
      (2L, s"$shared other ending here b one", "sB"),
      (3L, "totally different words in this c document here now", "sC")
    ).toDF("doc_id", "text", "source")
    val m = DedupOps.sourceOverlapMatrix(df, "text", "source").collect()
    assert(m.length == 1)
    assert(m(0).getString(0) == "sA" && m(0).getString(1) == "sB" &&
      m(0).getLong(2) == 1L)
  }

  test("capPerGroup: exact quota, deterministic, prune path agrees with plain window") {
    import spark.implicits._
    val df = (0L until 300L).map(i => (i, s"document text number $i", s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val plain = Mixing.capPerGroup(df, "text", "source", "doc_id", n = 7)
    val pruned = Mixing.capPerGroup(df, "text", "source", "doc_id", n = 7,
      prefilterAbove = 1L) // force the hash prune on every group
    assertSameData(pruned, plain)
    val perGroup = plain.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perGroup.values.forall(_ == 7L) && perGroup.size == 3)
    // a group smaller than n survives whole
    val tiny = Mixing.capPerGroup(df.where(col("doc_id") < 2), "text", "source", "doc_id", n = 7)
    assert(tiny.count() == 2)
  }

  test("madOutliers: one huge outlier cannot mask itself; MAD=0 degenerate flags any deviation") {
    import spark.implicits._
    // group g: values 10,11,12,13,1000 → med=12, adevs {2,1,0,1,988}, MAD=1
    // → only 1000 exceeds 3·MAD. (mean/stddev would be dragged by 1000.)
    // group h: all equal but one → MAD=0 → the one deviator flags.
    val df = (Seq(10.0, 11.0, 12.0, 13.0, 1000.0).map(("g", _)) ++
      Seq(5.0, 5.0, 5.0, 5.1).map(("h", _))).toDF("grp", "v")
    val r = RobustStats.madOutliers(df, "v", "grp", k = 3.0)
    val gOut = r.where(col("grp") === "g" && col("is_outlier")).select("v").collect().map(_.getDouble(0)).toSeq
    assert(gOut == Seq(1000.0))
    val hOut = r.where(col("grp") === "h" && col("is_outlier")).select("v").collect().map(_.getDouble(0)).toSeq
    assert(hOut == Seq(5.1))
    // the data table is never shuffled: quantile tables broadcast back
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("stripBoilerplateSpans: df-threshold spans vanish everywhere, others survive") {
    import spark.implicits._
    val banner = "this site uses cookies accept to continue reading now" // 10 toks → spans of 8: 1 full + 1 tail
    val df = Seq(
      (0L, s"$banner unique words for document zero only here today"),
      (1L, s"$banner different content for the second document here now"),
      (2L, s"$banner third document body with its own words too"),
      (3L, "no banner in this one just regular content words"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val r = DedupOps.stripBoilerplateSpans(df, "doc_id", "text",
      spanTokens = 8, maxDocFrac = 0.5, minDf = 3).orderBy("doc_id").collect()
    // the banner's FIRST 8-token span is shared by docs 0,1,2 (df=3) → stripped
    // from all three; no keep-first survivor
    assert(r.length == 5) // every input doc keeps a row
    val kept0 = r(0).getAs[String]("kept_text")
    assert(!kept0.startsWith("this site uses cookies"))
    assert(r(0).getAs[Long]("n_kept") == r(0).getAs[Long]("n_spans") - 1)
    assert(r(1).getAs[Long]("n_kept") == r(1).getAs[Long]("n_spans") - 1)
    assert(r(2).getAs[Long]("n_kept") == r(2).getAs[Long]("n_spans") - 1)
    // doc 3 untouched (its spans are unique)
    assert(r(3).getAs[Long]("n_kept") == r(3).getAs[Long]("n_spans"))
    // null text: row kept with zero spans
    assert(r(4).getAs[Long]("n_spans") == 0L && r(4).getAs[String]("kept_text") == "")
  }

  test("dropNearDuplicates keepBestBy: highest score survives, min id on ties") {
    import spark.implicits._
    // identical texts → identical signatures → all bands collide →
    // cluster {0,1,2} deterministically (no LSH banding luck involved)
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (0L, txt, 5L), (1L, txt, 9L), (2L, txt, 9L), // scores 5/9/9
      (3L, "completely unrelated text about entirely different things altogether", 1L)
    ).toDF("doc_id", "text", "quality")
    val best = DedupOps.dropNearDuplicates(df, "doc_id", "text",
      bands = 2, rowsPerBand = 4, minJaccard = 0.3, keepBestBy = Some("quality"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(best == Seq(1L, 3L)) // 9-score tie between 1 and 2 → min id 1
    val minId = DedupOps.dropNearDuplicates(df, "doc_id", "text",
      bands = 2, rowsPerBand = 4, minJaccard = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(minId == Seq(0L, 3L)) // default policy unchanged
  }

  test("dropNearDuplicates keepBestBy: a score named id or cluster_id works; reserved names fail") {
    import spark.implicits._
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq((0L, txt, 5L), (1L, txt, 9L), (2L, txt, 9L),
      (3L, "completely unrelated text about entirely different things altogether", 1L))
      .toDF("doc_id", "text", "id")
    def kept(d: org.apache.spark.sql.DataFrame, idCol: String, score: String) =
      DedupOps.dropNearDuplicates(d, idCol, "text", bands = 2, rowsPerBand = 4,
        minJaccard = 0.3, keepBestBy = Some(score))
        .select(idCol).collect().map(_.getLong(0)).sorted.toSeq
    assert(kept(df, "doc_id", "id") == Seq(1L, 3L))
    assert(kept(df.withColumnRenamed("id", "cluster_id"), "doc_id", "cluster_id") == Seq(1L, 3L))
    // the id column itself as the score: the highest id survives
    assert(kept(df.drop("id").withColumnRenamed("doc_id", "id"), "id", "id") == Seq(2L, 3L))
    val ex = intercept[IllegalArgumentException](
      kept(df.withColumn("__drop_id", lit(0L)), "doc_id", "id"))
    assert(ex.getMessage.contains("reserves column names") && ex.getMessage.contains("__drop_id"),
      ex.getMessage)
  }

  test("selectUnderBudget: equals the naive global window, without its single partition") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (0L until 500L).map(i => (i, 1L + rnd.nextInt(40), rnd.nextInt(1000).toLong))
      .toDF("doc_id", "n_toks", "score")
    val fast = Sequencing.selectUnderBudget(df, "doc_id", "n_toks", "score",
      budget = 2000L, buckets = 8)
    val naiveW = Window.orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = df.withColumn("cum_tokens", sum(col("n_toks")).over(naiveW))
      .where(col("cum_tokens") <= 2000L)
    assertSameData(fast, naive)
    // the operator's window is per-bucket: no single-partition exchange
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"global-window single partition leaked into the plan:\n${plan.take(2000)}")
    // a tight budget prunes high-offset buckets before the shuffle:
    // selected rows are far fewer than the corpus
    assert(fast.count() < 500)
  }

  test("selectUnderBudget: budget larger than the corpus keeps everything in order") {
    import spark.implicits._
    val df = Seq((1L, 5L, 10L), (2L, 5L, 30L), (3L, 5L, 20L)).toDF("doc_id", "n_toks", "score")
    val r = Sequencing.selectUnderBudget(df, "doc_id", "n_toks", "score", budget = 100L, buckets = 2)
      .orderBy("cum_tokens").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(2L, 3L, 1L)) // score desc
    assert(r.map(_.getAs[Long]("cum_tokens")).toSeq == Seq(5L, 10L, 15L))
  }

  test("selectUnderBudget: null score or negative tokens raise") {
    import spark.implicits._
    val bad = Seq((1L, -3L, 10L)).toDF("doc_id", "n_toks", "score")
    val e = intercept[Exception] {
      Sequencing.selectUnderBudget(bad, "doc_id", "n_toks", "score", budget = 10L).collect()
    }
    assert(e.getMessage.contains("selectUnderBudget"))
  }

  test("tokenDrift: hand-computed frequencies, deterministic tie-break, other slices ignored") {
    import spark.implicits._
    val df = Seq(
      (0L, "x x y", "a"),
      (1L, "x z", "a"),     // slice a: x=3/5, y=1/5, z=1/5
      (2L, "y y z", "b"),   // slice b: y=2/3, z=1/3
      (3L, "noise noise", "c") // not a selected slice — must not count
    ).toDF("doc_id", "text", "src")
    val r = TextOps.tokenDrift(df, "text", "src", "a", "b", k = 10).collect()
    val byTok = r.map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(!byTok.contains("noise"))
    assert(byTok("x") == ((3L, 0L, math.abs(3.0 / 5 - 0.0 / 3))))
    assert(byTok("y") == ((1L, 2L, math.abs(1.0 / 5 - 2.0 / 3))))
    assert(byTok("z") == ((1L, 1L, math.abs(1.0 / 5 - 1.0 / 3))))
    // order: x (0.6) > y (0.4667) > z (0.1333)
    assert(r.map(_.getString(0)).toSeq == Seq("x", "y", "z"))
    // top-k is a TakeOrderedAndProject, not a global sort
    val plan = TextOps.tokenDrift(df, "text", "src", "a", "b", k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
  }

  test("redactPii: sequential counts never double-count; nulls propagate") {
    import spark.implicits._
    val df = Seq(
      (0L, "write to a.b+c@mail.example.org or ping 192.168.0.1 now"),
      (1L, "ids 123-45-6789 and 987-65-4321, call +4915551234567"),
      // the IP-shaped digits sit INSIDE an email: email redaction
      // must consume them so the ipv4 pass sees nothing
      (2L, "weird@10.0.0.12.com stays one email"),
      (3L, "no pii at all in this row"),
      (4L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val r = TextOps.redactPii(df, "text").orderBy("id").collect()
    def counts(i: Int) = (r(i).getAs[Long]("n_email"), r(i).getAs[Long]("n_ipv4"),
      r(i).getAs[Long]("n_id"), r(i).getAs[Long]("n_phone"))
    assert(counts(0) == ((1L, 1L, 0L, 0L)))
    assert(r(0).getAs[String]("redacted") == "write to <EMAIL> or ping <IP> now")
    assert(counts(1) == ((0L, 0L, 2L, 1L)))
    assert(counts(2) == ((1L, 0L, 0L, 0L)))
    assert(r(2).getAs[String]("redacted") == "<EMAIL> stays one email")
    assert(counts(3) == ((0L, 0L, 0L, 0L)))
    assert(r(3).getAs[String]("redacted") == "no pii at all in this row")
    assert(r(4).isNullAt(r(4).fieldIndex("n_email")) &&
      r(4).isNullAt(r(4).fieldIndex("redacted")))
  }

  test("redactPii: reserved output columns fail loudly") {
    import spark.implicits._
    val df = Seq((0L, "x", 1L)).toDF("id", "text", "n_email")
    val e = intercept[IllegalArgumentException](TextOps.redactPii(df, "text"))
    assert(e.getMessage.contains("n_email"))
  }

  test("mergeStats: folded drop stats are bitwise-equal to a full recompute") {
    import spark.implicits._
    val df = Seq(
      ("a", java.lang.Long.valueOf(10L)), ("a", java.lang.Long.valueOf(30L)),
      ("a", null.asInstanceOf[java.lang.Long]),
      ("b", java.lang.Long.valueOf(7L)),
      ("c", java.lang.Long.valueOf(-5L)), ("c", java.lang.Long.valueOf(5L))
    ).toDF("src", "v")
    val parts = Seq(df.limit(2), df.offset(2).limit(2), df.offset(4))
      .map(Profile.numericStats(_, "v", "src"))
    val merged = Profile.finalizeStats(Profile.mergeStats(parts))
      .orderBy("group_value").collect().toSeq
    val direct = Profile.finalizeStats(Profile.numericStats(df, "v", "src"))
      .orderBy("group_value").collect().toSeq
    assert(merged == direct)
    val a = merged.find(_.getString(0) == "a").get
    assert(a.getAs[Long]("n_rows") == 3L && a.getAs[Long]("n_nulls") == 1L &&
      a.getAs[Long]("n_vals") == 2L && a.getAs[Double]("mean_value") == 20.0 &&
      a.getAs[Double]("var_value") == 100.0)
  }

  test("hardNegatives: cross-label only, simMax-capped, deterministic top-k") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val anchors = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("a_id"), col("embedding").as("av"), col("label").as("a_label"))
    val cands = emb.where(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"), col("label").as("c_label"))
    val r = SimilarityOps.hardNegatives(anchors, "a_id", "av", "a_label",
      cands, "c_id", "cv", "c_label", k = 2, simMax = 0.9).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Int]("a_label") != row.getAs[Int]("c_label"))
      assert(row.getAs[Double]("sim") <= 0.9)
      assert(row.getAs[Int]("rank") <= 2)
    }
    // without the label/cap filters it degenerates to knnJoin's ranking
    val all = SimilarityOps.hardNegatives(anchors, "a_id", "av", "a_label",
      cands.withColumn("c_label", lit(-1)), "c_id", "cv", "c_label",
      k = 2, simMax = 1.0)
      .select(col("a_id").as("q_id"), col("c_id"), col("rank")).collect().toSeq
    val knn = SimilarityOps.knnJoin(cands, "c_id", "cv",
      anchors.select(col("a_id").as("q_id"), col("av").as("qv")), "q_id", "qv", 2)
      .select(col("q_id"), col("c_id"), col("rank")).collect().toSeq
    assert(all == knn)
  }

  test("interleaveSources: every source appears once per epoch prefix") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val r = Mixing.interleaveSources(docs, "source", "text", "doc_id")
    // within each (epoch, source) exactly one row
    val dupes = r.groupBy(col("epoch"), col("source"))
      .agg(count(lit(1)).as("n")).where(col("n") > 1).count()
    assert(dupes == 0L)
    // epochs per source are dense 1..count(source)
    val bad = r.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), max(col("epoch")).as("mx"), min(col("epoch")).as("mn"))
      .where(col("mx") =!= col("n") || col("mn") =!= 1).count()
    assert(bad == 0L)
  }

  test("equidepthHistogram approx mode: no global sort, near-equal depths") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val total = docs.where(col("n_chars").isNotNull).count()
    val r = Profile.equidepthHistogram(docs, "n_chars", "doc_id", nb = 8,
      exact = false).collect()
    assert(r.map(_.getAs[Long]("n")).sum == total, "every row in exactly one bucket")
    val ideal = total.toDouble / 8
    r.foreach { row =>
      assert(math.abs(row.getAs[Long]("n") - ideal) <= 0.2 * ideal + 8,
        s"bucket ${row.get(0)} depth ${row.get(3)} too far from $ideal")
    }
    // bucket value ranges are ordered and non-overlapping
    val sorted = r.sortBy(_.getAs[Int]("bucket"))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("hi_value") <= b.getAs[Long]("lo_value"))
      case _ =>
    }
    // the plan has no unpartitioned window (the exact mode's one sort)
    val plan = Profile.equidepthHistogram(docs, "n_chars", "doc_id", nb = 8,
      exact = false).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"approx mode must not plan a window:\n$plan")
  }

  test("withTokenGini: degenerate/diverse extremes, null text kept") {
    import spark.implicits._
    val df = Seq(
      (0L, "a a a a"),            // one token repeated -> low gini
      (1L, "a b c d"),            // all distinct -> max gini for n=4
      (2L, null.asInstanceOf[String]),
      (3L, "x")
    ).toDF("id", "text")
    val r = TextOps.withTokenGini(df, "id", "text").orderBy("id").collect()
    assert(r.length == 4, "null-text rows must not vanish")
    assert(r(0).getAs[Double]("gini") == 0.0)
    assert(r(1).getAs[Double]("gini") == 1.0 - 4.0 / 16.0)
    assert(r(2).getAs[Long]("n_tokens") == 0L && r(2).isNullAt(r(2).fieldIndex("gini")))
    assert(r(3).getAs[Double]("gini") == 0.0)
  }

  test("coverageCurve: monotone shares reaching 1.0 when k covers the vocab") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val r = Relevance.coverageCurve(docs, "text", k = 100).collect()
    assert(r.nonEmpty)
    val shares = r.map(_.getAs[Double]("cum_share"))
    assert(shares.sliding(2).forall { case Array(a, b) => b >= a; case _ => true })
    assert(shares.last == 1.0, "k >= vocab size must cover the full corpus mass")
    val ns = r.map(_.getAs[Long]("n"))
    assert(ns.sliding(2).forall { case Array(a, b) => b <= a; case _ => true })
  }

  test("flagSemanticContaminated: benchmark members flag themselves; empty benchmark flags none") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val bench = emb.where(col("vec_id") < 10).select(col("embedding"))
    val flagged = Decontaminate.flagSemanticContaminated(
      emb, "vec_id", "embedding", bench, "embedding", tau = 0.999999)
    // the benchmark rows are in the corpus: self-cosine ~ 1 -> contaminated
    assert(flagged.where(col("vec_id") < 10 && !col("contaminated")).count() == 0L)
    val none = Decontaminate.flagSemanticContaminated(
      emb, "vec_id", "embedding", bench.where(lit(false)), "embedding", tau = 0.0)
    assert(none.where(col("contaminated")).count() == 0L)
    assert(none.count() == emb.count())
  }

  test("miningTriplets: legs agree with the window-ranked formulations") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val anchors = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("a_id"), col("embedding").as("av"), col("label").as("a_label"))
    val cands = emb.where(col("vec_id") >= 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"), col("label").as("c_label"))
    val trip = SimilarityOps.miningTriplets(anchors, "a_id", "av", "a_label",
      cands, "c_id", "cv", "c_label", simMax = 0.95).collect()
    assert(trip.length == 8)
    val negLeg = trip.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("neg_id"),
      r.getAs[Double]("neg_sim"))).toSeq
    val viaWindow = SimilarityOps.hardNegatives(anchors, "a_id", "av", "a_label",
      cands, "c_id", "cv", "c_label", k = 1, simMax = 0.95)
      .select(col("a_id"), col("c_id"), col("sim")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(negLeg.sortBy(_._1) == viaWindow.sortBy(_._1))
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    trip.foreach { r =>
      assert(labels(r.getAs[Long]("pos_id")) == r.getAs[Int]("a_label"))
      assert(labels(r.getAs[Long]("neg_id")) != r.getAs[Int]("a_label"))
    }
  }

  test("boundaryOverlapPairs: continuation found, boilerplate capped, self excluded") {
    import spark.implicits._
    val df = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "delta epsilon zeta eta theta iota"),   // continues doc 0
      (2L, "delta epsilon zeta"),                   // also continues doc 0; head==tail==itself
      (3L, "common page header body one two"),
      (4L, "common page header body three four"),
      (5L, "ends with common page header"),         // boilerplate boundary
      (6L, "common page header body five six")
    ).toDF("id", "text")
    val r = DedupOps.boundaryOverlapPairs(df, "id", "text", k = 3)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSeq
    assert(r.contains((0L, 1L)) && r.contains((0L, 2L)) && r.contains((5L, 3L)))
    assert(!r.exists(p => p._1 == p._2), "self pairs excluded")
    // 'common page header' heads 3 docs (> cap 2): boilerplate pairs
    // vanish; the genuine continuation keys (frequency 2) survive
    val capped = DedupOps.boundaryOverlapPairs(df, "id", "text", k = 3, maxKeyFreq = 2L)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSeq
    assert(!capped.exists(_._1 == 5L), "boilerplate boundary capped out")
    assert(capped.contains((0L, 1L)) && capped.contains((0L, 2L)))
  }

  test("withCalibratedRank: per-group [0,1] range, order-preserving") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val r = RobustStats.withCalibratedRank(docs, "n_chars", "source", "doc_id")
    val mm = r.groupBy(col("source"))
      .agg(min(col("calibrated")).as("mn"), max(col("calibrated")).as("mx"),
        count(lit(1)).as("n")).collect()
    mm.foreach { row =>
      assert(row.getAs[Double]("mn") == 0.0)
      if (row.getAs[Long]("n") > 1) assert(row.getAs[Double]("mx") == 1.0)
    }
    // within a source, higher value never gets a lower calibrated score
    val viol = r.select(col("source"), col("n_chars"), col("calibrated")).as("a")
      .join(r.select(col("source"), col("n_chars").as("n2"), col("calibrated").as("c2")).as("b"),
        Seq("source"))
      .where(col("n_chars") < col("n2") && col("calibrated") > col("c2")).count()
    assert(viol == 0L)
  }

  test("smallGroups: flags exactly the under-k combinations") {
    import spark.implicits._
    val df = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("b", "x"))
      .toDF("g1", "g2")
    val r = Validate.smallGroups(df, Seq("g1", "g2"), k = 2L).collect()
      .map(row => (row.getString(0), row.getString(1), row.getAs[Long]("n"))).toSeq
    assert(r == Seq(("a", "y", 1L), ("b", "x", 1L)))
  }

  test("knnPredictLabels: votes sum to k and unanimous neighborhoods predict their label") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.where(col("vec_id") >= 15)
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"), col("label").as("c_label"))
    val queries = emb.where(col("vec_id") < 15)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("label").as("q_label"))
    val r = SimilarityOps.knnPredictLabels(corpus, "c_id", "cv", "c_label",
      queries, "q_id", "qv", "q_label", k = 5).collect()
    assert(r.length == 15)
    r.foreach { row =>
      assert(row.getAs[Long]("votes") >= 1L && row.getAs[Long]("votes") <= 5L)
      assert(row.getAs[Boolean]("correct") ==
        (row.getAs[Int]("label") == row.getAs[Int]("predicted_label")))
    }
    // k = 1: prediction must equal the single nearest neighbor's label
    val one = SimilarityOps.knnPredictLabels(corpus, "c_id", "cv", "c_label",
      queries, "q_id", "qv", "q_label", k = 1).collect()
    val nn1 = SimilarityOps.knnJoin(corpus, "c_id", "cv",
      queries.select(col("q_id"), col("qv")), "q_id", "qv", 1)
      .join(corpus.select(col("c_id"), col("c_label")), Seq("c_id"))
      .select(col("q_id"), col("c_label")).collect()
      .map(row => row.getLong(0) -> row.getInt(1)).toMap
    one.foreach { row =>
      assert(row.getAs[Int]("predicted_label") == nn1(row.getAs[Long]("q_id")))
      assert(row.getAs[Long]("votes") == 1L)
    }
  }

  test("transitionCounts: totals and a hand-checked timeline") {
    import spark.implicits._
    val ev = Seq(
      (0L, 100L, 1L, "a"), (1L, 200L, 1L, "b"), (2L, 300L, 1L, "a"),
      (3L, 100L, 2L, "b"), (4L, 50L, 2L, "a"),
      (5L, 999L, 3L, "c")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val r = Funnel.transitionCounts(ev, "user_id", "ts", "event_type", "event_id")
      .collect().map(row => (row.getString(0), row.getString(1), row.getAs[Long]("n"))).toSeq
    // user1: a->b, b->a; user2 (ts order!): a->b; user3: none
    assert(r.sorted == Seq(("a", "b", 2L), ("b", "a", 1L)))
    // every non-final event contributes exactly one transition
    assert(r.map(_._3).sum == ev.count() - 3)
  }

  test("sourcePurity: shares in (0,1], top label really is the modal label") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val r = Mixing.sourcePurity(docs, "source", "lang").collect()
    assert(r.nonEmpty)
    r.foreach(row => assert(row.getAs[Double]("purity") > 0 &&
      row.getAs[Double]("purity") <= 1.0))
    val modal = docs.groupBy(col("source"), col("lang")).count()
      .orderBy(col("source"), col("count").desc, col("lang").desc)
      .groupBy(col("source")).agg(first(col("lang")).as("lang"))
      .collect().map(row => row.getString(0) -> row.getString(1)).toMap
    r.foreach(row =>
      assert(row.getAs[String]("top_label") == modal(row.getAs[String]("source"))))
  }

  test("retrievalEval: probing with corpus members yields rank-1 self hits") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("cv"),
      col("label").as("c_label"))
    // queries ARE corpus members: the self vector is its own nearest
    // relevant neighbor, so first_rel_rank = 1 and rr = 1.0
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("label").as("q_label"))
    val r = SimilarityOps.retrievalEval(corpus, "c_id", "cv", "c_label",
      queries, "q_id", "qv", "q_label", k = 5).collect()
    assert(r.length == 10)
    r.foreach { row =>
      assert(row.getAs[Int]("first_rel_rank") == 1 && row.getAs[Double]("rr") == 1.0)
      assert(row.getAs[Double]("precision_at_k") ==
        row.getAs[Long]("n_rel_topk").toDouble / 5.0)
    }
  }

  test("flagSemanticContaminated plan: zero shuffles on the corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val plan = Decontaminate.flagSemanticContaminated(
      emb.where(col("vec_id") >= 20), "vec_id", "embedding",
      emb.where(col("vec_id") < 20), "embedding", tau = 0.3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"),
      s"corpus must not shuffle — the benchmark folds in as a broadcast row:\n$plan")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      s"benchmark side must broadcast:\n$plan")
  }

  test("lshNearDupAgainstCorpus: equals the full pairing restricted to cross-split; batch side broadcasts") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val batch = docs.where(col("doc_id") < 100)
    val corpus = docs.where(col("doc_id") >= 100)
    val bi = DedupOps.lshNearDupAgainstCorpus(batch, corpus, "doc_id", "text",
      bands = 2, rowsPerBand = 4, minJaccard = 0.2)
    val biPairs = bi.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val full = DedupOps.lshNearDupPairs(docs, "doc_id", "text",
      bands = 2, rowsPerBand = 4, minJaccard = 0.2)
      .where(col("a_id") < 100 && col("b_id") >= 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(biPairs == full)
    val plan = DedupOps.lshNearDupAgainstCorpus(batch, corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"batch band keys must broadcast into the candidate joins:\n$plan")
  }

  test("allocateBudget: quotas sum exactly to the budget, each within 1 of proportional") {
    import spark.implicits._
    val counts = Seq(("a", 333L), ("b", 333L), ("c", 334L), ("d", 1L))
      .toDF("k", "n")
    val budget = 1000L
    val r = Mixing.allocateBudget(counts, "k", "n", budget).collect()
      .map(row => row.getString(0) -> row.getAs[Long]("quota")).toMap
    assert(r.values.sum == budget)
    val total = 333L + 333L + 334L + 1L
    r.foreach { case (k, q) =>
      val n = Map("a" -> 333L, "b" -> 333L, "c" -> 334L, "d" -> 1L)(k)
      val ideal = budget.toDouble * n / total
      assert(math.abs(q - ideal) < 1.0, s"$k: quota $q vs ideal $ideal")
    }
    // zero budget allocates zero everywhere
    val z = Mixing.allocateBudget(counts, "k", "n", 0L).collect()
    assert(z.forall(_.getAs[Long]("quota") == 0L))
  }

  test("fillGaps: complete spine with zero cells; empty input yields empty output") {
    import spark.implicits._
    val hour = 3600L * 1000000000L
    val ev = Seq(
      (0L * hour + 5L, "a"), (0L * hour + 9L, "a"),
      (3L * hour + 1L, "a"),                       // hours 1,2 are gaps
      (1L * hour + 2L, "b")
    ).toDF("ts", "event_type")
    val r = TimeSeries.fillGaps(ev, "ts", "event_type", 3600L).collect()
      .map(row => (row.getString(0), row.getLong(1), row.getLong(2))).toSeq
    // full 4-hour spine for BOTH keys (2 keys x 4 hours)
    assert(r.length == 8)
    assert(r.contains(("a", 0L, 2L)) && r.contains(("a", 3600L, 0L)) &&
      r.contains(("a", 7200L, 0L)) && r.contains(("a", 10800L, 1L)))
    assert(r.contains(("b", 3600L, 1L)) && r.contains(("b", 0L, 0L)))
    assert(TimeSeries.fillGaps(ev.where(lit(false)), "ts", "event_type", 3600L)
      .count() == 0L)
  }

  test("forwardFill: carries last observation, leading nulls stay null") {
    import spark.implicits._
    val df = Seq(
      (0L, 1L, null.asInstanceOf[java.lang.Double]),   // leading null
      (1L, 2L, java.lang.Double.valueOf(5.0)),
      (2L, 3L, null.asInstanceOf[java.lang.Double]),   // fills to 5.0
      (3L, 4L, java.lang.Double.valueOf(7.0)),
      (4L, 5L, null.asInstanceOf[java.lang.Double])    // fills to 7.0
    ).toDF("id", "ts", "v").withColumn("k", lit("u"))
    val r = TimeSeries.forwardFill(df, "k", "ts", "id", "v").orderBy("id").collect()
    assert(r(0).isNullAt(r(0).fieldIndex("filled")))
    assert(r(2).getAs[Double]("filled") == 5.0)
    assert(r(4).getAs[Double]("filled") == 7.0)
  }

  test("withRolling: trailing frame sums and counts") {
    import spark.implicits._
    val df = Seq((0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 4.0),
      (3L, 4L, 8.0), (4L, 5L, 16.0))
      .toDF("id", "ts", "v").withColumn("k", lit("u"))
    val r = TimeSeries.withRolling(df, "k", "ts", "id", "v", nRows = 3)
      .orderBy("id").collect()
      .map(row => (row.getAs[Double]("roll_sum"), row.getAs[Long]("roll_n"))).toSeq
    assert(r == Seq((1.0, 1L), (3.0, 2L), (7.0, 3L), (15.0, 4L), (30.0, 4L)))
  }

  test("emaPerKey: matches the hand-folded recurrence in timestamp order") {
    import spark.implicits._
    // deliberately out of ts order in the input
    val df = Seq((2L, 3L, 4.0), (0L, 1L, 8.0), (1L, 2L, 0.0))
      .toDF("id", "ts", "v").withColumn("k", lit("u"))
    val got = TimeSeries.emaPerKey(df, "k", "ts", "id", "v", alpha = 0.25)
      .head.getAs[Double]("ema")
    val expected = Seq(8.0, 0.0, 4.0).foldLeft(0.0)((acc, x) => 0.25 * x + 0.75 * acc)
    assert(got == expected)
  }

  test("cooccurrencePairs: hand-checked window pairs, unordered") {
    import spark.implicits._
    val df = Seq("b a c", "a b").toDF("text")
    val r = Relevance.cooccurrencePairs(df, "text", maxDist = 2, k = 10)
      .collect().map(row => (row.getString(0), row.getString(1),
        row.getAs[Long]("n"))).toSeq
    // doc1 pairs: (a,b) d1, (a,c) d1, (b,c) d2; doc2: (a,b) d1
    assert(r.toSet == Set(("a", "b", 2L), ("a", "c", 1L), ("b", "c", 1L)))
    // top-1 is the most frequent pair with the pinned tiebreak order
    assert(r.head == (("a", "b", 2L)))
  }

  test("withShardAssignment: balanced within one row, contiguous in the global order") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val total = docs.count()
    val sharded = Sequencing.withShardAssignment(docs, "n_chars", "doc_id", nShards = 7)
    val sizes = sharded.groupBy(col("shard")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == (0 until 7).toSet)
    assert(sizes.values.sum == total)
    assert(sizes.values.max - sizes.values.min <= 1, s"unbalanced: $sizes")
    // contiguity: shard id is monotone in the (n_chars, doc_id) order
    val ordered = sharded.orderBy(col("n_chars"), col("doc_id"))
      .select(col("shard")).collect().map(_.getInt(0)).toSeq
    assert(ordered.sliding(2).forall { case Seq(a, b) => b >= a; case _ => true })
  }

  test("takeQuotas: per-group selection counts equal the quota plan exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).cast("bigint").as("n"))
    val quotas = Mixing.allocateBudget(counts, "source", "n", budget = 100L)
      .select(col("source"), col("quota"))
    val plan = quotas.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Mixing.takeQuotas(docs, "text", "source", "doc_id", quotas)
      .groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == plan.filter(_._2 > 0))
    assert(got.values.sum == 100L)
    // the hash-range prune (forced on every group) selects the SAME
    // rows as the plain window — the capPerGroup bound, quota-sized
    val plain = Mixing.takeQuotas(docs, "text", "source", "doc_id", quotas)
    val pruned = Mixing.takeQuotas(docs, "text", "source", "doc_id", quotas,
      prefilterAbove = 1L)
    assertSameData(pruned, plain)
  }

  test("rbo: identical rankings give exactly 1 - 2^-k; disjoint give 0") {
    import spark.implicits._
    val a = (1 to 10).map(i => (i.toLong, i)).toDF("id", "rank")
    val same = Relevance.rbo(a, a, "id", "rank", k = 10).head
    assert(same.getAs[Double]("rbo") == 1.0 - math.pow(2.0, -10))
    assert(same.getAs[Long]("overlap_at_k") == 10L)
    val b = (1 to 10).map(i => (100L + i, i)).toDF("id", "rank")
    val disj = Relevance.rbo(a, b, "id", "rank", k = 10).head
    assert(disj.getAs[Double]("rbo") == 0.0 && disj.getAs[Long]("overlap_at_k") == 0L)
  }

  test("classWeights: weighted corpus mass is balanced across classes") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val w = Mixing.classWeights(docs, "lang").collect()
    assert(w.length > 1)
    // each class's total weighted mass = n_total / k: identical across classes
    val masses = w.map(r => r.getAs[Long]("n_class") * r.getAs[Double]("weight"))
    assert(masses.forall(m => math.abs(m - masses.head) < 1e-6))
  }

  test("withWeightedShardAssignment: byte balance within one max row, contiguous") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val sharded = graft.operators.Sequencing.withWeightedShardAssignment(
      docs, "doc_id", "doc_id", "n_chars", nShards = 7).localCheckpoint()
    val stats = sharded.groupBy(col("shard"))
      .agg(sum(col("n_chars")).as("w")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(stats.keySet == (0 until 7).toSet)
    val total = stats.values.sum
    val maxRow = docs.agg(max(col("n_chars"))).head.getLong(0)
    // floor apportionment: every shard within one max-row-weight of ideal
    stats.values.foreach { w =>
      assert(math.abs(w - total / 7.0) <= maxRow + 1,
        s"shard weight $w too far from ideal ${total / 7.0} (max row $maxRow)")
    }
    // contiguity: shard id monotone in doc_id order
    val ordered = sharded.orderBy(col("doc_id"))
      .select(col("shard")).collect().map(_.getInt(0)).toSeq
    assert(ordered.sliding(2).forall { case Seq(a, b) => b >= a; case _ => true })
  }

  test("agreementKappa: hand-checked 2x2 table; perfect agreement gives 1") {
    import spark.implicits._
    // confusion: a/a=3, a/b=1, b/a=1, b/b=5 -> n=10, agree=8
    // rows a=4,b=6; cols a=4,b=6; sumprod=16+36=52
    // po=0.8, pe=0.52, kappa=(0.8-0.52)/(1-0.52)=0.28/0.48
    val g = (Seq.fill(3)(("a", "a")) ++ Seq(("a", "b"), ("b", "a")) ++
      Seq.fill(5)(("b", "b"))).toDF("act", "pred")
    val r = graft.operators.Validate.agreementKappa(g, "act", "pred").head
    assert(r.getAs[Long]("n") == 10L)
    assert(r.getAs[Double]("po") == 0.8)
    assert(r.getAs[Double]("pe") == 0.52)
    assert(r.getAs[Double]("kappa") == (0.8 - 0.52) / (1.0 - 0.52))
    val perfect = Seq(("x", "x"), ("y", "y")).toDF("act", "pred")
    assert(graft.operators.Validate.agreementKappa(perfect, "act", "pred")
      .head.getAs[Double]("kappa") == 1.0)
  }

  test("classAssociationTerms: perfectly-associated tokens max, balanced tokens zero") {
    import spark.implicits._
    val docs = ((1 to 10).map(i => ("p", "aa cc")) ++
      (1 to 10).map(i => ("n", "bb cc"))).toDF("cls", "text")
    val got = Relevance.classAssociationTerms(docs, "text", "cls", "p",
      minCount = 5L, k = 10).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("chi2_ppm")).toMap
    // A=B=20, N=40; aa: (aB-bA)=200 -> 1e6*40*200^2 div (10*30*20*20) = 13333333
    assert(got("aa") == 13333333L)
    assert(got("bb") == 13333333L) // chi2 is two-sided: anti-association scores equal
    assert(got("cc") == 0L)
  }

  test("retentionMatrix: hand-built two-cohort timeline") {
    import spark.implicits._
    val ns = 1000000000L // bucketSec=1 -> buckets are seconds
    val ev = Seq(
      ("u1", 0L), ("u1", 1L), ("u1", 3L), // cohort 0, returns at +1, +3
      ("u2", 1L), ("u2", 3L),             // cohort 1, returns at +2
      ("u3", 0L), ("u3", 0L)              // cohort 0, never returns (same bucket)
    ).map { case (u, sec) => (u, sec * ns) }.toDF("user_id", "ts")
    val got = graft.operators.Funnel.retentionMatrix(ev, "user_id", "ts", 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 0L, 2L), (0L, 1L, 1L), (0L, 3L, 1L),
      (1L, 0L, 1L), (1L, 2L, 1L)))
  }

  test("funnelSteps: strict ordering gates later steps") {
    import spark.implicits._
    val ev = Seq(
      ("u1", 1L, "view"), ("u1", 2L, "click"), ("u1", 3L, "purchase"), // full
      ("u2", 5L, "view"), ("u2", 4L, "click"),                          // click BEFORE view
      ("u3", 6L, "view"), ("u3", 7L, "click"),                          // no purchase
      ("u4", 9L, "click")                                               // never viewed
    ).toDF("user_id", "ts", "event_type")
    val got = graft.operators.Funnel.funnelSteps(
      ev, "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((1, "view", 3L), (2, "click", 2L), (3, "purchase", 1L)))
  }

  test("withBlocklistCounts: hand-counted hits; unsafe term rejected") {
    import spark.implicits._
    val df = Seq((1L, "bad bad ok"), (2L, "ok fine")).toDF("id", "text")
    val got = graft.operators.TextOps.withBlocklistCounts(df, "text", Seq("bad", "evil"))
      .orderBy("id").collect()
    assert(got(0).getAs[Long]("n_blocked") == 2L && got(0).getAs[Boolean]("blocked"))
    assert(got(1).getAs[Long]("n_blocked") == 0L && !got(1).getAs[Boolean]("blocked"))
    intercept[IllegalArgumentException] {
      graft.operators.TextOps.withBlocklistCounts(df, "text", Seq("a'; DROP"))
    }
  }

  test("distributionDistance: identical slices give 0, disjoint give 1, empty raises") {
    import spark.implicits._
    val same = Seq(("a", "x y"), ("b", "x y")).toDF("g", "text")
    assert(graft.operators.TextOps.distributionDistance(same, "text", "g", "a", "b")
      .head.getAs[Double]("tv") == 0.0)
    val disj = Seq(("a", "x x"), ("b", "y z")).toDF("g", "text")
    assert(graft.operators.TextOps.distributionDistance(disj, "text", "g", "a", "b")
      .head.getAs[Double]("tv") == 1.0)
    val ex = intercept[Exception] {
      graft.operators.TextOps.distributionDistance(same, "text", "g", "a", "zz").collect()
    }
    assert(ex.getMessage.contains("empty slice"))
  }

  test("stripCommonPrefix: shared banner removed exactly, divergence point respected") {
    import spark.implicits._
    val df = Seq(
      ("s", "HDR| alpha words"), ("s", "HDR| beta words"), ("s", "HDR| gamma"),
      ("t", "solo document")).toDF("src", "text")
    val got = graft.operators.TextOps.stripCommonPrefix(df, "text", "src")
      .collect().map(r => (r.getString(0), r.getAs[Long]("prefix_len"),
        r.getAs[String]("trimmed"))).toSet
    // s: common prefix 'HDR| ' (5 chars: min 'HDR| alpha...' vs max 'HDR| gamma')
    assert(got.contains(("s", 5L, "alpha words")))
    assert(got.contains(("s", 5L, "gamma")))
    // single-doc group trims everything (min == max), by construction
    assert(got.contains(("t", 13L, "")))
  }

  test("groupTrend: exact slope on a perfect line, negative slope sign, constant x NULL") {
    import spark.implicits._
    // y = 3x + 7 -> slope_micro = 3_000_000 exactly
    val line = (0L to 10L).map(x => ("up", x, 3 * x + 7)) ++
      (0L to 10L).map(x => ("down", x, 100 - 2 * x)) ++
      Seq(("flat", 5L, 1L), ("flat", 5L, 9L))
    val got = graft.operators.Profile.groupTrend(
      line.toDF("g", "x", "y"), "g", "x", "y")
      .collect().map(r => r.getString(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    assert(got("up") == Some(3000000L))
    assert(got("down") == Some(-2000000L))
    assert(got("flat").isEmpty, "constant x has no defined slope")
  }

  test("stripCommonSuffix: shared footer removed; joinBlowupReport products exact") {
    import spark.implicits._
    val df = Seq(("s", "one -END"), ("s", "two -END"), ("s", "three -END"))
      .toDF("src", "text") // 'one'/'two' diverge right before the footer
    val got = graft.operators.TextOps.stripCommonSuffix(df, "text", "src")
      .collect().map(r => (r.getAs[Long]("suffix_len"), r.getAs[String]("trimmed"))).toSet
    assert(got == Set((5L, "one"), (5L, "two"), (5L, "three")))
    val l = (Seq.fill(4)("k") ++ Seq("x")).toDF("k")
    val r = (Seq.fill(3)("k") ++ Seq("y")).toDF("k")
    val top = graft.operators.Skew.joinBlowupReport(l, r, "k", topN = 5).collect()
    assert(top.length == 1) // only 'k' appears on both sides
    assert(top(0).getAs[Long]("n_pairs") == 12L)
  }

  test("expectExamples: smallest-id exemplars, capped, passing rules absent") {
    import spark.implicits._
    val df = (1L to 20L).map(i => (i, if (i % 2 == 0) 10 else 99)).toDF("id", "v")
    val got = graft.operators.Validate.expectExamples(
      df, "id", Seq("small" -> "v < 50", "positive" -> "v > 0"), maxExamples = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // odd ids violate 'small'; capped at the 3 smallest; 'positive' passes -> absent
    assert(got.toSeq == Seq(("small", 3L, "1,3,5")))
  }

  test("uniqueShingleContribution: shared shingles excluded, zero contributors kept") {
    import spark.implicits._
    val df = Seq(
      ("s1", "a b c d"),   // shingles abc, bcd
      ("s2", "a b c"),     // abc (shared with s1)
      ("s3", "a b c")      // abc (shared)
    ).toDF("src", "text")
    val got = graft.operators.TextOps.uniqueShingleContribution(df, "text", "src")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // only 'b c d' is unique (s1); abc appears in all three
    assert(got == Map("s1" -> 1L, "s2" -> 0L, "s3" -> 0L))
  }

  test("assemblePrompts: budget binds, order is content-hash, prompt joins with newline") {
    import spark.implicits._
    val docs = Seq((1L, "g", "aaaa"), (2L, "g", "bbbb"), (3L, "g", "cccc"))
      .toDF("doc_id", "grp", "text")
    // budget 8 chars -> exactly two 4-char shots survive
    val r = graft.operators.Sequencing.assemblePrompts(docs, "grp", "doc_id", "text", 8L).head
    assert(r.getAs[Long]("n_shots") == 2L && r.getAs[Long]("n_chars") == 8L)
    val prompt = r.getAs[String]("prompt")
    assert(prompt.split("\n").length == 2 && prompt.length == 9)
    // determinism: same corpus, same prompt
    val again = graft.operators.Sequencing.assemblePrompts(docs, "grp", "doc_id", "text", 8L)
      .head.getAs[String]("prompt")
    assert(prompt == again)
  }

  test("greedyCoverage: hand-traced picks, diminishing gains, early stop when exhausted") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),   // 4 tokens
      (2L, "a b e"),     // adds e after doc 1
      (3L, "f g"),       // adds f g
      (4L, "a b c")      // adds nothing new after 1
    ).toDF("doc_id", "text")
    val got = Relevance.greedyCoverage(docs, "doc_id", "text", k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // round 1: doc 1 (4 new); round 2: doc 3 (2 new); round 3: doc 2 (1 new: e);
    // round 4: doc 4 gains 0 but still selectable... gain 0 rows vanish from the
    // anti-join result, so coverage exhausts and the walk stops at 3 picks
    assert(got.toSeq == Seq((1, 1L, 4L), (2, 3L, 2L), (3, 2L, 1L)))
  }

  test("canonicalizeVariants: majority spelling wins; ties go lexicographic") {
    import spark.implicits._
    val df = Seq("USA usa usa Usa", "cat CAT").toDF("text")
    val got = graft.operators.TextOps.canonicalizeVariants(df, "text")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // usa x2 beats USA/Usa x1 each; cat/CAT tie -> 'CAT' < 'cat' lexicographically
    assert(got == Map("USA" -> "usa", "Usa" -> "usa", "cat" -> "CAT"))
  }

  test("debounceCounts: throttle keeps one event per gap window, bursts collapse") {
    import spark.implicits._
    // user u: 0, 30, 70, 140, 150, 210 with gap 60 -> keep 0, 70, 140, 210
    val ev = Seq(0L, 30L, 70L, 140L, 150L, 210L).map(("u", _)) :+ (("v", 5L))
    val r = graft.operators.TimeSeries.debounceCounts(
      ev.toDF("user_id", "ts"), "user_id", "ts", minGap = 60L)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r("u") == (6L, 4L))
    assert(r("v") == (1L, 1L))
  }

  test("allocateCapped: water-filling — caps respected, budget conserved, level even") {
    import spark.implicits._
    val c = Seq(("a", 2L), ("b", 50L), ("c", 9L), ("d", 50L)).toDF("k", "avail")
    // budget 41: a caps at 2, c caps at 9, b/d fill to level 15 each
    val got = graft.operators.Mixing.allocateCapped(c, "k", "avail", 41L)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("quota")).toMap
    assert(got == Map("a" -> 2L, "b" -> 15L, "c" -> 9L, "d" -> 15L))
    // remainder goes to the first level-group in key order
    val got2 = graft.operators.Mixing.allocateCapped(c, "k", "avail", 42L)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("quota")).toMap
    assert(got2 == Map("a" -> 2L, "b" -> 16L, "c" -> 9L, "d" -> 15L))
    // budget over supply: everyone takes availability
    val got3 = graft.operators.Mixing.allocateCapped(c, "k", "avail", 1000L)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("quota")).toMap
    assert(got3 == Map("a" -> 2L, "b" -> 50L, "c" -> 9L, "d" -> 50L))
    // property on real data: conservation + caps
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val cnts = docs.groupBy(col("source")).agg(count(lit(1)).cast("bigint").as("avail"))
    val q = graft.operators.Mixing.allocateCapped(cnts, "source", "avail", 123L)
      .collect().map(r => (r.getAs[Long]("avail"), r.getAs[Long]("quota")))
    assert(q.map(_._2).sum == 123L)
    assert(q.forall { case (a, quo) => quo <= a && quo >= 0 })
  }

  test("vocabOverlapPairs: hand-checked Jaccard on three tiny vocabularies") {
    import spark.implicits._
    val df = Seq(
      ("s1", "a b c"), ("s2", "a b d"), ("s3", "x y z")).toDF("src", "text")
    val got = Relevance.vocabOverlapPairs(df, "text", "src", k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_shared"), r.getAs[Long]("jaccard_ppm"))).toMap
    assert(got(("s1", "s2")) == (2L, 500000L)) // |{a,b}| / |{a,b,c,d}| = 1/2
    // disjoint vocabularies produce no pair row at all (inner join on tokens)
    assert(got.keySet == Set(("s1", "s2")))
  }

  test("withFold: folds cover 0..k-1, content-addressed (same text -> same fold)") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val folds = graft.operators.Mixing.withFold(docs, "text", k = 5)
      .groupBy("fold").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(folds.keySet == Set(0, 1, 2, 3, 4))
    val dup = Seq((1L, "same words here"), (2L, "same words here")).toDF("id", "text")
    val f = graft.operators.Mixing.withFold(dup, "text", k = 5)
      .select("fold").collect().map(_.getInt(0)).distinct
    assert(f.length == 1, "identical content must land in the same fold")
  }

  test("withMinMaxScaled: endpoints hit 0 and 1; constant group is NULL") {
    import spark.implicits._
    val df = Seq(("g", 10.0), ("g", 20.0), ("g", 15.0), ("h", 7.0), ("h", 7.0))
      .toDF("grp", "v")
    val got = graft.operators.RobustStats.withMinMaxScaled(df, "v", "grp")
      .collect().map(r => (r.getString(0), r.getDouble(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(got.filter(_._1 == "g").map(x => x._2 -> x._3.get).toMap ==
      Map(10.0 -> 0.0, 20.0 -> 1.0, 15.0 -> 0.5))
    assert(got.filter(_._1 == "h").forall(_._3.isEmpty),
      "constant groups must be NULL, not inf or 0")
  }

  test("groupGini: even groups 0; hand-checked [1,9] split = 400000 ppm") {
    import spark.implicits._
    val even = (Seq.fill(5)("a") ++ Seq.fill(5)("b")).toDF("g")
    assert(graft.operators.Mixing.groupGini(even, "g")
      .head.getAs[Long]("gini_ppm") == 0L)
    val skewed = (Seq.fill(1)("a") ++ Seq.fill(9)("b")).toDF("g")
    val r = graft.operators.Mixing.groupGini(skewed, "g").head
    assert(r.getAs[Long]("n_groups") == 2L && r.getAs[Long]("n_rows") == 10L)
    assert(r.getAs[Long]("gini_ppm") == 400000L)
  }

  test("withPaddedBucket: powers of two, floor at minBucket, exact boundaries") {
    import spark.implicits._
    val df = Seq(1L, 16L, 17L, 32L, 33L, 1000L).toDF("n")
    val got = graft.operators.Sequencing.withPaddedBucket(df, "n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 16L, 16L -> 16L, 17L -> 32L, 32L -> 32L,
      33L -> 64L, 1000L -> 1024L))
  }

  test("hashWalkPairs: every node walks; 2-step walk follows the per-step min-hash choice") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")).toDF("x", "y")
    val pairs = graft.operators.Components.hashWalkPairs(e, "x", "y", steps = 2)
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(pairs.map(_._1).toSet == Set("a", "b", "c", "d"), "every node starts a walk")
    // determinism: a second run picks identical walks
    val again = graft.operators.Components.hashWalkPairs(e, "x", "y", steps = 2)
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(pairs.toSeq == again.toSeq)
    // a 2-step walk from a dead-endish leaf returns into the graph: d -> c -> (c's choice)
    val step1 = graft.operators.Components.hashWalkPairs(e, "x", "y", steps = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(step1("d") == "c", "d's only neighbor is c")
  }

  test("withModelScore: batched seam scores equal the expression-computed stub") {
    import graft.functions.TextHash.{spark => H}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val seam = graft.operators.Scoring.withModelScore(docs, "doc_id", "text", batchSize = 7)
      .select(col("doc_id"), col("score_permille"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = docs.select(col("doc_id"),
      (expr(H.rollingHash("text")) % 1000).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seam == direct, "the mapPartitions seam must agree with the native expression")
  }

  test("clusteringCoefficient: K3 closes fully (1e6 ppm), a path not at all") {
    import spark.implicits._
    // K3: 1 triangle, wedges = 3 (each vertex deg 2 -> 1 wedge each)
    // coeff = 3*1/3 = 1 -> 1e6 ppm... as ppm: 3e6*1 div 3 = 1e6
    val k3 = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("x", "y")
    val r = graft.operators.Components.clusteringCoefficient(k3, "x", "y").head
    assert(r.getAs[Long]("n_triangles") == 1L && r.getAs[Long]("n_wedges") == 3L)
    assert(r.getAs[Long]("coeff_ppm") == 1000000L)
    // path a-b-c: no triangles, 1 wedge -> 0
    val path = Seq(("a", "b"), ("b", "c")).toDF("x", "y")
    val p = graft.operators.Components.clusteringCoefficient(path, "x", "y").head
    assert(p.getAs[Long]("n_triangles") == 0L && p.getAs[Long]("coeff_ppm") == 0L)
  }

  test("withMaskedSpans: hand-checked mask positions; target matches masked tokens") {
    import spark.implicits._
    // doc_id=3, rate=5: i masked iff (3*31+i)%5==0 -> i=2,7 of 1..8
    val df = Seq((3L, "t1 t2 t3 t4 t5 t6 t7 t8")).toDF("doc_id", "text")
    val r = graft.operators.TextOps.withMaskedSpans(df, "doc_id", "text").head
    assert(r.getAs[String]("masked_text") == "t1 <mask> t3 t4 t5 t6 <mask> t8")
    assert(r.getAs[String]("target") == "t2 t7")
    assert(r.getAs[Long]("n_masked") == 2L)
  }

  test("withFimTransform: PSM pieces reassemble the original; rate 0/1000 endpoints") {
    import spark.implicits._
    val docs = (0L until 40L)
      .map(i => (i, s"doc $i " + ("abcdefghij " * (i.toInt % 7 + 1)).trim))
      .toDF("doc_id", "text")
    val r = graft.operators.TextOps.withFimTransform(docs, "text")
      .collect().map(row => (row.getAs[String]("text"),
        row.getAs[Boolean]("fim_applied"), row.getAs[String]("fim_text")))
    assert(r.exists(_._2) && r.exists(!_._2), "hash selection should split the corpus")
    val Pre = "<|fim_pre|>"; val Suf = "<|fim_suf|>"; val Mid = "<|fim_mid|>"
    r.foreach { case (text, applied, out) =>
      if (!applied) assert(out == text)
      else {
        // parse PSM: pre..suf..mid markers, then prefix+middle+suffix == text
        assert(out.startsWith(Pre))
        val sufAt = out.indexOf(Suf); val midAt = out.indexOf(Mid)
        assert(sufAt >= Pre.length && midAt > sufAt)
        val prefix = out.substring(Pre.length, sufAt)
        val suffix = out.substring(sufAt + Suf.length, midAt)
        val middle = out.substring(midAt + Mid.length)
        assert(prefix + middle + suffix == text,
          s"pieces do not reassemble for: $text")
      }
    }
    // endpoints: rate 0 transforms nothing, rate 1000 everything
    val r0 = graft.operators.TextOps.withFimTransform(docs, "text", ratePermille = 0)
    assert(r0.where(col("fim_applied")).count() == 0L)
    assert(r0.where(col("fim_text") =!= col("text")).count() == 0L)
    val r1 = graft.operators.TextOps.withFimTransform(docs, "text", ratePermille = 1000)
    assert(r1.where(!col("fim_applied")).count() == 0L)
  }

  test("applyCdc: latest op wins per key; deletes remove; untouched keys pass through") {
    import spark.implicits._
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val log = Seq(
      (1L, "a1", "U", 1L), (1L, "a2", "U", 2L), // two updates: latest wins
      (2L, "bx", "U", 1L), (2L, "b", "D", 2L),  // update then delete: gone
      (4L, "d", "U", 1L)                          // brand-new key inserted
    ).toDF("k", "v", "op", "seq")
    val got = graft.operators.Inspect.applyCdc(snap, log, "k", "seq", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a2", 3L -> "c", 4L -> "d"))
    // tie on seq: D sorts before U -> deterministic delete-wins
    val tie = Seq((3L, "cx", "U", 5L), (3L, "c", "D", 5L)).toDF("k", "v", "op", "seq")
    val got2 = graft.operators.Inspect.applyCdc(snap, tie, "k", "seq", "op")
      .collect().map(_.getLong(0)).toSet
    assert(got2 == Set(1L, 2L))
  }

  test("triangleCount: hand-built graph — one triangle plus a dangling edge") {
    import spark.implicits._
    // edges (a<b): a-b, a-c, b-c form a triangle; c-d dangles
    val e = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")).toDF("x", "y")
    assert(graft.operators.Components.triangleCount(e, "x", "y")
      .head.getLong(0) == 1L)
    // adding a-d and b-d completes K4 on {a,b,c,d}: C(4,3) = 4 triangles
    val e2 = e.union(Seq(("a", "d"), ("b", "d")).toDF("x", "y"))
    assert(graft.operators.Components.triangleCount(e2, "x", "y")
      .head.getLong(0) == 4L)
  }

  test("prefixJaccardPairs: equals brute force on an overlapping-vocab corpus; J=t boundary kept") {
    import spark.implicits._
    // 40 docs over a 12-word vocabulary → plenty of true near-pairs.
    val docs = (1 to 40).map { i =>
      (i.toLong, (0 until 6).map(j => s"w${(i * j * 7 + j) % 12}").distinct.mkString(" "))
    }.toDF("doc_id", "text")
    val got = graft.operators.DedupOps
      .prefixJaccardPairs(docs, "doc_id", "text", tNum = 1, tDen = 2)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val d = docs.select(col("doc_id"), array_distinct(split(col("text"), " ")).as("s"))
    val bf = d.as("a").crossJoin(d.as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .withColumn("i", size(array_intersect(col("a.s"), col("b.s"))))
      .withColumn("u", size(col("a.s")) + size(col("b.s")) - col("i"))
      .where(lit(2) * col("i") >= col("u"))
      .select(col("a.doc_id"), col("b.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bf.nonEmpty, "degenerate test corpus: brute force found no pairs")
    assert(got == bf, s"prefix filter must be exact: got ${got.size}, brute ${bf.size}")
    // exact threshold boundary: {a,b,c} vs {a,b,d} → J = 2/4 = 1/2 kept
    val boundary = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    assert(graft.operators.DedupOps
      .prefixJaccardPairs(boundary, "doc_id", "text", 1, 2).count() == 1L)
  }

  test("int8TopK: exact integer dots rank deterministically; self-match on top") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(127, 0, 0)), (2L, Seq(0, 127, 0)),
      (3L, Seq(90, 90, 0)), (4L, Seq(-127, 0, 0)))
      .toDF("id", "codes")
    val queries = Seq((1L, Seq(127, 0, 0))).toDF("q_id", "qc")
    val got = graft.operators.SimilarityOps
      .int8TopK(corpus, "id", "codes", queries, "q_id", "qc", k = 3)
      .collect().map(r => (r.getInt(2), r.getLong(1), r.getLong(3)))
    // dots: id1 127·127=16129, id3 90·127=11430, id2 0, id4 −16129
    assert(got.toSeq == Seq((1, 1L, 16129L), (2, 3L, 11430L), (3, 2L, 0L)))
  }

  test("flagAnomalies: spike flagged, steady value not, warmup NULL, zero-variance window") {
    import spark.implicits._
    // key a: 4 steady values then a spike, window 4, k=3.
    val rows = Seq(
      (1L, 1L, "a", 10L), (2L, 2L, "a", 12L), (3L, 3L, "a", 10L),
      (4L, 4L, "a", 12L), (5L, 5L, "a", 11L), (6L, 6L, "a", 500L),
      // key z: constant → zero variance; any deviation flags
      (10L, 1L, "z", 7L), (11L, 2L, "z", 7L), (12L, 3L, "z", 7L),
      (13L, 4L, "z", 7L), (14L, 5L, "z", 7L), (15L, 6L, "z", 8L))
      .toDF("id", "ts", "k", "v")
    val got = graft.operators.TimeSeries
      .flagAnomalies(rows, "k", "ts", "id", "v", nRows = 4, k = 3)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(5)) None else Some(r.getBoolean(5)))).toMap
    assert(got(1L).isEmpty && got(4L).isEmpty) // warmup rows: NULL
    assert(got(5L).contains(false))            // 11 inside 10..12 band
    assert(got(6L).contains(true))             // the spike
    assert(got(14L).contains(false))           // constant stays constant
    assert(got(15L).contains(true))            // zero-variance: any step flags
  }

  test("withBigramRarity: hand corpus — shared bigrams cheap, unique ones 1e6; short docs NULL") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c"),  // bigrams "a b"(×2 in corpus), "b c"(×1)
      (2L, "a b d"),  // "a b"(×2), "b d"(×1)
      (3L, "solo"),   // <2 tokens → no evidence
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = graft.operators.Relevance.withBigramRarity(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    // doc1: (1e6 div 2 + 1e6 div 1) div 2 = 750000
    assert(got(1L) == ((2L, 750000L)))
    assert(got(2L) == ((2L, 750000L)))
    assert(got(3L) == ((0L, -1L)))
    assert(got(4L) == ((0L, -1L)))
  }

  test("takeTopShare: strict-before mass threshold, ties by id, zero-mass group empty") {
    import spark.implicits._
    // group g: masses 5,3,2,1 (ids 1..4). total=11, p=500 → threshold 5.5·1000
    // id1: cumb 0 → keep; id2: cumb 5, 5000 < 5500 → keep; id3: cumb 8 → stop.
    val df = Seq((1L, "g", 5L), (2L, "g", 3L), (3L, "g", 2L), (4L, "g", 1L),
      (5L, "z", 0L), (6L, "z", 0L)).toDF("id", "src", "m")
    val kept = graft.operators.Mixing.takeTopShare(df, "src", "m", "id", 500)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L)) // zero-mass group z keeps nothing
    // mass tie broken by id: two equal masses, p small enough for one row
    val tie = Seq((10L, "t", 4L), (11L, "t", 4L)).toDF("id", "src", "m")
    val k2 = graft.operators.Mixing.takeTopShare(tie, "src", "m", "id", 500)
      .collect().map(_.getLong(0)).toSet
    assert(k2 == Set(10L))
    // null mass raises loudly
    assertThrows[Exception] {
      graft.operators.Mixing.takeTopShare(
        Seq((1L, "g", Option.empty[Long])).toDF("id", "src", "m"),
        "src", "m", "id", 500).collect()
    }
  }

  test("matchDistribution: dry bucket sets the level; loud unknown bucket; absent target bucket empties") {
    import spark.implicits._
    val df = ((1 to 6).map(i => (i.toLong, s"doc a $i", "a")) ++
      Seq((7L, "doc b 7", "b"), (8L, "doc b 8", "b"))).toDF("id", "text", "src")
    val tgt = Seq(("a", 500L), ("b", 500L)).toDF("src", "target_permille")
    // T = min(6·1000 div 500, 2·1000 div 500) = 4 → two kept per bucket
    val kept = graft.operators.Mixing.matchDistribution(df, "text", "src", "id", tgt)
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept == Map("a" -> 2L, "b" -> 2L))
    // a df bucket with no target share fails the job loudly
    val dfC = df.union(Seq((9L, "doc c 9", "c")).toDF("id", "text", "src"))
    assertThrows[Exception] {
      graft.operators.Mixing.matchDistribution(dfC, "text", "src", "id", tgt).collect()
    }
    // a target bucket absent from df is unmatchable → empty result
    val tgt2 = Seq(("a", 500L), ("b", 250L), ("zz", 250L)).toDF("src", "target_permille")
    assert(graft.operators.Mixing.matchDistribution(df, "text", "src", "id", tgt2)
      .count() == 0L)
  }

  test("overlapFraction: hand shingle overlap, short-doc fallback, null text") {
    import spark.implicits._
    val bench = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b c d e"), // shingles abc,bcd,cde vs bench {abc,bcd} → 2/3
      (2L, "x y z"),     // one shingle, no overlap
      (3L, "hi"),        // whole-text fallback shingle, no overlap
      (4L, null.asInstanceOf[String])) // no shingles → NULL ppm
      .toDF("doc_id", "text")
    val got = graft.operators.Decontaminate
      .overlapFraction(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got(1L) == ((3L, 2L), 666666L))
    assert(got(2L) == ((1L, 0L), 0L))
    assert(got(3L) == ((1L, 0L), 0L))
    assert(got(4L) == ((0L, 0L), -1L))
  }

  test("withScriptMix: hand counts and pinned latin≥cyrillic≥digit dominance") {
    import spark.implicits._
    val df = Seq(
      (1L, "abc привет 12"), // 3 latin < 6 cyrillic → cyrillic
      (2L, "abc ab12"),      // 5 latin dominant
      (3L, "12345 мир"),     // 3 cyrillic < 5 digits → digit
      (4L, "ab аб"))         // 2-2 tie → latin wins by priority
      .toDF("id", "t")
    val got = graft.operators.TextOps.withScriptMix(df, "t")
      .select("id", "n_latin", "n_cyrillic", "n_digit", "dominant_script")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)), r.getString(4))).toMap
    assert(got(1L) == ((3L, 6L, 2L), "cyrillic"))
    assert(got(2L) == ((5L, 0L, 2L), "latin"))
    assert(got(3L) == ((0L, 3L, 5L), "digit"))
    assert(got(4L) == ((2L, 2L, 0L), "latin"))
  }

  test("personalizedPageRank: teleport lands only on seeds; disjoint seed set raises") {
    import spark.implicits._
    val e = Seq(("a", "h"), ("b", "h"), ("c", "h"), ("h", "a")).toDF("s", "d")
    val seeds = Seq("a").toDF("n")
    val r1 = graft.operators.Components
      .personalizedPageRank(e, "s", "d", seeds, "n", iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // base = 1e6 (one seed). Round 1: only a held mass (1e6); a→h is
    // a's sole edge, so h gets 1e6 inflow; a keeps its seeded base
    // term plus h's pre-teleport 0 inflow... h had rank 0, so a's
    // inflow is 0: a = (150·1e6 + 0) div 1000; h = (0 + 850·1e6) div 1000.
    assert(r1("a") == 150000L)
    assert(r1("h") == 850000L)
    assert(r1("b") == 0L && r1("c") == 0L) // non-seeds get no teleport
    // proximity ordering after convergence rounds: the seed and its
    // neighbor dominate distant nodes
    val r3 = graft.operators.Components
      .personalizedPageRank(e, "s", "d", seeds, "n", iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r3("b") == 0L && r3("c") == 0L) // b,c have no inbound edges
    assert(r3("a") > 0L && r3("h") > 0L)
    // seeds entirely outside the graph: loud failure, not all-zero
    assertThrows[Exception] {
      graft.operators.Components
        .personalizedPageRank(e, "s", "d", Seq("zz").toDF("n"), "n", 1)
        .collect()
    }
  }

  test("pageRank: an empty edge list ranks nothing; a disjoint seed set fails the same way with ANSI off") {
    import spark.implicits._
    val none = Seq.empty[(String, String)].toDF("s", "d")
    val ranked = graft.operators.Components.pageRank(none, "s", "d", iters = 2)
    assert(ranked.columns.toSeq == Seq("node", "rank_ppm"))
    assert(ranked.collect().isEmpty)
    // self-loops are dropped, so a loops-only edge list is empty too
    val loops = Seq(("a", "a")).toDF("s", "d")
    assert(graft.operators.Components.personalizedPageRank(loops, "s", "d",
      Seq("a").toDF("n"), "n", iters = 1).collect().isEmpty)
    // under ANSI off an integral divide by zero yields NULL instead of
    // raising — the disjoint-seed failure must not depend on it
    val e = Seq(("a", "h"), ("h", "a")).toDF("s", "d")
    val prior = spark.conf.getOption("spark.sql.ansi.enabled")
    try {
      Seq("true", "false").foreach { ansi =>
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        val err = intercept[IllegalArgumentException](
          graft.operators.Components.personalizedPageRank(e, "s", "d",
            Seq("zz").toDF("n"), "n", iters = 1).collect())
        assert(err.getMessage.contains("seed set is disjoint from the graph"),
          s"ansi=$ansi: ${err.getMessage}")
      }
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("pageRank: hand-checked star graph; mass flows to the hub; partition-invariant") {
    import spark.implicits._
    // Directed star: three leaves all point at the hub h; h points at a.
    val e = Seq(("a", "h"), ("b", "h"), ("c", "h"), ("h", "a")).toDF("s", "d")
    val r1 = graft.operators.Components.pageRank(e, "s", "d", iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // N=4, base = 250000. Each node has outdeg 1, so after one round:
    // h receives a+b+c = 3*250000, a receives h's 250000; b,c receive 0.
    // r' = (150*250000 + 850*inflow) div 1000
    assert(r1("h") == (150L * 250000L + 850L * 750000L) / 1000L)
    assert(r1("a") == (150L * 250000L + 850L * 250000L) / 1000L)
    assert(r1("b") == (150L * 250000L) / 1000L)
    assert(r1("c") == r1("b"))
    // Hub stays on top after more rounds; totals stay sane (mass can
    // only shrink through integral-divide floors, never grow).
    val r3 = graft.operators.Components.pageRank(e, "s", "d", iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r3("h") > r3("a") && r3("a") > r3("b"))
    assert(r3.values.sum <= 1000000L)
    // Exact integers ⇒ identical under arbitrary repartitioning.
    val shuffled = graft.operators.Components.pageRank(
      e.repartition(7), "s", "d", iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(shuffled == r3)
  }

  test("bottomK: growth-stable — adding rows only evicts, never reshuffles survivors") {
    import spark.implicits._
    val v1 = (1 to 50).map(i => (i.toLong, s"doc number $i")).toDF("doc_id", "text")
    val v2 = (1 to 80).map(i => (i.toLong, s"doc number $i")).toDF("doc_id", "text")
    val s1 = graft.operators.Sketches.bottomK(v1, "doc_id", "text", 10)
      .collect().map(_.getLong(0)).toSet
    val s2 = graft.operators.Sketches.bottomK(v2, "doc_id", "text", 10)
      .collect().map(_.getLong(0)).toSet
    // every v2 sample member from the v1 id range must also be in v1's sample
    assert(s2.filter(_ <= 50).subsetOf(s1),
      s"bottom-k must be consistent under growth: v1=$s1 v2=$s2")
  }

  test("scrubControlChars: strips C0 controls, keeps tab/newline, exact removal count") {
    import spark.implicits._
    val df = Seq(("a\u0007b\u001Fc\td\ne", 1L)).toDF("text", "id")
    val r = graft.operators.TextOps.scrubControlChars(df, "text").head
    assert(r.getAs[String]("clean_text") == "abc\td\ne")
    assert(r.getAs[Long]("n_ctrl") == 2L)
  }

  test("keySkewReport: hot key ranked first with exact ratio; uniform keys at 1e6 ppm") {
    import spark.implicits._
    // keys: hot x6, a x1, b x1 -> total 8, nkeys 3
    val df = (Seq.fill(6)("hot") ++ Seq("a", "b")).toDF("k")
    val got = graft.operators.Skew.keySkewReport(df, "k", topN = 2).collect()
    assert(got(0).getAs[String]("key_value") == "hot")
    assert(got(0).getAs[Long]("n") == 6L)
    assert(got(0).getAs[Double]("share") == 6.0 / 8.0)
    // 1e6 * 6 * 3 div 8 = 2250000 (2.25x the average key)
    assert(got(0).getAs[Long]("ratio_to_avg_ppm") == 2250000L)
    val uniform = Seq("a", "b", "c", "d").toDF("k")
    assert(graft.operators.Skew.keySkewReport(uniform, "k", topN = 4)
      .collect().forall(_.getAs[Long]("ratio_to_avg_ppm") == 1000000L))
  }

  test("shingleDiversity: repeated text scores low, unique text scores 1") {
    import spark.implicits._
    val df = Seq(
      ("rep", "a b c a b c a b c"),  // shingles: abc,bca,cab repeating -> 3 distinct of 7
      ("uni", "p q r s t")           // 3 distinct of 3
    ).toDF("g", "text")
    val got = graft.operators.TextOps.shingleDiversity(df, "text", "g")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("rep") == (7L, 3L))
    assert(got("uni") == (3L, 3L))
  }

  test("withLangMargin: clear text has positive margin, marker-free text zero") {
    import spark.implicits._
    val df = Seq((1L, "the the a cat"), (2L, "xyz qqq")).toDF("id", "text")
    val got = graft.operators.TextOps.withLangMargin(df, "text")
      .orderBy("id").collect().map(_.getAs[Long]("lang_margin"))
    assert(got(0) == 3L) // en=3, others 0
    assert(got(1) == 0L)
  }

  test("withC4Flags: each rule fires on its designed violation") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown foxes jumped over fences"),       // pass
      (2L, "the cat"),                                         // min_words
      (3L, "the " + "x" * 25 + " word here today maybe"),      // long_word
      (4L, "plain words without stopword here today"),         // no_stop
      (5L, "the lorem ipsum filler text here"),                // lorem
      (6L, "the aa bb cc dd ee ff gg hh ii jj kk")             // word_len (mean < 3)
    ).toDF("id", "text")
    val got = graft.operators.TextOps.withC4Flags(df, "text").orderBy("id").collect()
    assert(got(0).getAs[Boolean]("c4_pass"))
    assert(got(1).getAs[Boolean]("f_min_words") && !got(1).getAs[Boolean]("c4_pass"))
    assert(got(2).getAs[Boolean]("f_long_word"))
    assert(got(3).getAs[Boolean]("f_no_stop"))
    assert(got(4).getAs[Boolean]("f_lorem"))
    assert(got(5).getAs[Boolean]("f_word_len"))
  }

  test("bpePairCounts: weighted by word frequency, single-char words excluded") {
    import spark.implicits._
    val docs = Seq("abc abc x", "abc de").toDF("text")
    // words: abc x3 -> ab,bc each 3; de x1 -> de 1; x excluded
    val got = graft.operators.TextOps.bpePairCounts(docs, "text", k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(got.toSeq == Seq("ab" -> 3L, "bc" -> 3L, "de" -> 1L))
  }

  test("weightedPercentiles: hand-checked token-mass thresholds") {
    import spark.implicits._
    // values 1,2,3 with weights 1,1,6 (total 8): half the mass first
    // reached at v=3; the 1/4 point at v=2 (cum 2*4=8 >= 8)
    val df = Seq((1, 1L), (2, 1L), (3, 6L)).toDF("v", "w")
    val got = graft.operators.RobustStats.weightedPercentiles(
      df, "v", "w", Seq(1 -> 4, 1 -> 2, 1 -> 1)).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1, 4, 2.0), (1, 2, 3.0), (1, 1, 3.0)))
    intercept[IllegalArgumentException] {
      graft.operators.RobustStats.weightedPercentiles(
        df.withColumn("w", lit(0L)), "v", "w", Seq(1 -> 2))
    }
  }

  test("ksStatistic: hand-checked ECDF gap; identical samples give 0") {
    import spark.implicits._
    // a: {1,2,3,4}, b: {3,4,5,6} -> max gap at v=2: |2/4 - 0/4| = 0.5
    val df = (Seq(1, 2, 3, 4).map(("a", _)) ++ Seq(3, 4, 5, 6).map(("b", _)))
      .toDF("g", "v")
    val r = graft.operators.RobustStats.ksStatistic(df, "v", "g", "a", "b").head
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("n_b") == 4L)
    assert(r.getAs[Double]("ks") == 0.5)
    val same = (Seq(1, 2, 3).map(("a", _)) ++ Seq(1, 2, 3).map(("b", _))).toDF("g", "v")
    assert(graft.operators.RobustStats.ksStatistic(same, "v", "g", "a", "b")
      .head.getAs[Double]("ks") == 0.0)
    // empty group raises rather than reporting "no drift"
    intercept[IllegalArgumentException] {
      graft.operators.RobustStats.ksStatistic(df, "v", "g", "a", "zzz")
    }
  }

  test("mergeDuplicates: copy counts, keep-min representative, sorted source set") {
    import spark.implicits._
    val df = Seq(
      (3L, "s2", "dup"), (1L, "s1", "dup"), (2L, "s1", "dup"),
      (4L, "s9", "solo")).toDF("doc_id", "source", "text")
    val got = graft.operators.DedupOps.mergeDuplicates(df, "doc_id", "text", "source")
      .orderBy("keep_id")
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"),
        r.getAs[String]("sources"), r.getAs[String]("text")))
    assert(got.toSeq == Seq((1L, 3L, "s1,s2", "dup"), (4L, 1L, "s9", "solo")))
  }

  test("mergeIntervals: overlap and touch merge, gaps split, counts add up") {
    import spark.implicits._
    val iv = Seq(
      ("u1", 0L, 10L), ("u1", 5L, 12L),   // overlap -> [0,12]
      ("u1", 12L, 15L),                   // touching -> joins [0,15]
      ("u1", 20L, 25L),                   // gap -> own span
      ("u2", 3L, 4L)                      // other key untouched
    ).toDF("k", "s", "e")
    val got = graft.operators.TimeSeries.mergeIntervals(iv, "k", "s", "e")
      .orderBy("k", "ivl_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("u1", 0L, 15L, 3L), ("u1", 20L, 25L, 1L),
      ("u2", 3L, 4L, 1L)))
  }

  test("pmiCollocations: adjacent-only pair outranks independent co-occurrences") {
    import spark.implicits._
    // 'aa bb' always adjacent (perfect association); 'xx'/'yy' common
    // but never adjacent to each other except via chance with others.
    val docs = (1 to 40).map(i =>
      (i.toLong, if (i % 2 == 0) "aa bb cc" else "xx cc yy")).toDF("doc_id", "text")
    val got = Relevance.pmiCollocations(docs, "text", maxDist = 1,
      minCount = 5L, k = 10).collect()
    val lifts = got.map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("lift_ppm")).toMap
    assert(lifts(("aa", "bb")) > lifts(("cc", "xx")),
      s"perfectly-associated pair must outrank chance pairs: $lifts")
    // lift is the exact scaled integer: aa-bb occurs 20x of 80 pair
    // slots, c_aa=c_bb=20, T=120 -> 1e6*20*120^2 div (80*20*20) = 9e6
    assert(lifts(("aa", "bb")) == 9000000L)
  }

  test("withZValue: hand-checked interleave and both-dim locality of the key order") {
    import spark.implicits._
    val z = graft.operators.Sequencing.withZValue(
      Seq((5, 3)).toDF("x", "y"), "x", "y").head.getAs[Long]("zval")
    assert(z == 27L) // interleave(101, 011) = 011011
    // key-order locality: consecutive z-values in a 64x64 grid stay
    // close in BOTH coordinates on average (the clustering property)
    val grid = spark.range(4096).selectExpr(
      "CAST(id div 64 AS INT) AS x", "CAST(id % 64 AS INT) AS y")
    val ordered = graft.operators.Sequencing.withZValue(grid, "x", "y")
      .orderBy("zval").select("x", "y").collect()
    val jumps = ordered.sliding(2).map { case Array(a, b) =>
      math.abs(a.getInt(0) - b.getInt(0)) + math.abs(a.getInt(1) - b.getInt(1))
    }.toSeq
    val avg = jumps.sum.toDouble / jumps.size
    assert(avg < 3.0, s"z-order neighbors should be close in (x,y): avg L1 jump $avg")
  }

  test("contrastivePairs: exact dups label pos, collided dissimilar pairs label neg, middle dropped") {
    // docs fixture: 0/1 identical (Jaccard 1 -> pos); 2 near-dups 0/1.
    val got = DedupOps.contrastivePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(5)).toMap
    assert(got((0L, 1L)) == "pos", got.toString)
    // Every emitted label is pos or neg; thresholds partition cleanly.
    assert(got.values.forall(l => l == "pos" || l == "neg"))
    // Threshold ordering is validated.
    val e = intercept[IllegalArgumentException] {
      DedupOps.contrastivePairs(docs, "doc_id", "text",
        posNum = 1, posDen = 5, negNum = 1, negDen = 2)
    }
    assert(e.getMessage.contains("strictly below"))
  }

  test("replayEpochs: integer epochs replicate exactly, fractional adds hash-gated extras, unknown source raises") {
    import spark.implicits._
    val corpus = (0 until 50).map(i => (i.toLong, s"doc number $i words", "web"))
      .toDF("doc_id", "text", "src")
    def recipe(pm: Long) = Seq(("web", pm)).toDF("src", "epochs_permille")
    // Exactly 2 epochs: every doc twice, copies 0 and 1.
    val twice = Mixing.replayEpochs(corpus, "text", "src", recipe(2000L))
    assert(twice.count() == 100L)
    assert(twice.groupBy("doc_id").count().where(col("count") =!= 2).count() == 0L)
    // 2.5 epochs: between 2n and 3n rows, extras deterministic.
    val frac = Mixing.replayEpochs(corpus, "text", "src", recipe(2500L))
    val n = frac.count()
    assert(n > 100L && n < 150L, s"fractional replay out of range: $n")
    val again = Mixing.replayEpochs(corpus, "text", "src", recipe(2500L))
      .groupBy("doc_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val first = frac.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == first, "content-hash extras must be reproducible")
    // 0 epochs drops the source entirely.
    assert(Mixing.replayEpochs(corpus, "text", "src", recipe(0L)).count() == 0L)
    // A source missing from the recipe fails loudly.
    val other = Seq((99L, "stray", "wiki")).toDF("doc_id", "text", "src")
    val e = intercept[Exception] {
      Mixing.replayEpochs(corpus.unionAll(other), "text", "src", recipe(1000L))
        .count()
    }
    assert(e.getMessage != null)
  }

  test("withUrlParts: hand-checked decomposition incl. port, userinfo, no-dot, malformed") {
    import spark.implicits._
    val rows = Seq(
      (0L, "https://user:pw@a.b.com:8443/x/y?q=1#frag"),
      (1L, "http://localhost/metrics"),
      (2L, "ftp://files.example.org"),
      (3L, "not a url")
    ).toDF("id", "url")
    val got = TextOps.withUrlParts(rows, "url")
      .select("id", "url_scheme", "url_host", "url_path", "url_domain", "url_tld")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3), r.getString(4), r.getString(5)))
      .toMap
    assert(got(0L) == (("https", "a.b.com", "/x/y", "b.com", "com")), got.toString)
    assert(got(1L) == (("http", "localhost", "/metrics", "localhost", "")), got.toString)
    assert(got(2L) == (("ftp", "files.example.org", "", "example.org", "org")), got.toString)
    assert(got(3L) == (("", "", "", "", "")), got.toString)
  }

  test("psiDrift: identical slices score 0, shifted slices score > 0, empty slice raises") {
    import spark.implicits._
    def mk(rows: Seq[(String, Double)]) = rows.toDF("g", "v")
    // Identical distributions: every bin has n_a = n_b and tot_a =
    // tot_b => x = y => contrib 0.
    val same = mk((0 until 40).map(i => ("a", (i % 4) * 10.0 + 1)) ++
      (0 until 40).map(i => ("b", (i % 4) * 10.0 + 1)))
    val sameBins = Profile.psiDrift(same, "v", "g", "a", "b", 0.0, 40.0, 4)
      .collect()
    assert(sameBins.forall(_.getLong(3) == 0L), sameBins.mkString(","))
    // Mass moved a factor of 4 between two bins: positive total, and
    // every bin contribution is >= 0 (the PSI sign guarantee).
    val shifted = mk(
      Seq.fill(40)(("a", 5.0)) ++ Seq.fill(10)(("a", 15.0)) ++
        Seq.fill(10)(("b", 5.0)) ++ Seq.fill(40)(("b", 15.0)))
    val bins = Profile.psiDrift(shifted, "v", "g", "a", "b", 0.0, 20.0, 2)
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(bins.values.forall(_ >= 0L), bins.toString)
    assert(bins.values.sum > 0L, bins.toString)
    // One empty slice fails loudly.
    val half = mk(Seq.fill(5)(("a", 1.0)))
    val e = intercept[Exception] {
      Profile.psiDrift(half, "v", "g", "a", "b", 0.0, 10.0, 2).collect()
    }
    assert(e.getMessage != null)
  }

  test("applyBpeMerges: ordered merges compose, overlaps fuse left-to-right, pieces reassemble") {
    import spark.implicits._
    val corpus = Seq((0L, "the that ttt er order")).toDF("doc_id", "text")
    val merges = Seq("t" -> "h", "th" -> "e", "a" -> "t", "t" -> "t", "e" -> "r")
    val pieces = TextOps.applyBpeMerges(corpus, "text", merges)
      .select("pieces").head.getSeq[String](0)
    // the: t,h,e → th,e → the ; that: th,a,t → th,at ;
    // ttt: left-to-right non-overlap → tt,t ; er → er ;
    // order: o,r,d,e,r → o,r,d,er
    assert(pieces == Seq("the", "th", "at", "tt", "t", "er", "o", "r", "d", "er"),
      s"got $pieces")
    // Reassembly invariant on the real corpus slice: concatenating a
    // doc's pieces reproduces its whitespace-stripped text.
    val salad = Seq((1L, "order the table"), (2L, "merge that batch"))
      .toDF("doc_id", "text")
    val ok = TextOps.applyBpeMerges(salad, "text", merges)
      .withColumn("__re", expr("array_join(pieces, '')"))
      .withColumn("__orig", expr("replace(text, ' ', '')"))
      .where(col("__re") =!= col("__orig")).count()
    assert(ok == 0L, "pieces must reassemble to the original text")
    // Bracket guard fires loudly.
    val bad = Seq((3L, "oops<tag>")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      TextOps.applyBpeMerges(bad, "text", merges).collect()
    }
    assert(e.getMessage != null)
  }

  test("bm25TopK: MaxScore pruning returns the exact unpruned top-k at every k regime") {
    import spark.implicits._
    // Skewed corpus: 'rare' concentrates in few docs (high UB), 'the'
    // is everywhere (low UB) — the shape where MaxScore prunes
    // the-only docs once θ comes from the rare posting list.
    val corpus = (0L until 60L).map { i =>
      val text =
        if (i % 20 == 0) "rare rare the data join"
        else if (i % 3 == 0) "the the the data join data"
        else "the data the join"
      (i, text)
    }.toDF("doc_id", "text")
    val q = Seq("the", "rare", "join")
    for (k <- Seq(1, 2, 5, 25, 100)) {
      val pruned = Relevance.bm25TopK(corpus, "doc_id", "text", q, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val full = Relevance.bm25(corpus, "doc_id", "text", q, logIdf = false)
        .orderBy(col("score").desc, col("doc_id")).limit(k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(pruned == full, s"k=$k: pruned top-k must be bitwise-equal")
    }
    // k beyond the corpus: every doc returned, zero-score docs ranked
    // by id — identical in both paths (covered by k = 100 above).
    assert(Relevance.bm25TopK(corpus, "doc_id", "text", q, 100).count() == 60)
  }

  test("minhashCalibration: exact dups land in the full-match bin at precision 1e6") {
    val bins = DedupOps.minhashCalibration(docs, "doc_id", "text")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // docs 0 and 1 are byte-identical => all 8 components match and
    // exact Jaccard is 1 (>= 1/2): the 8-bin exists and is all-true.
    val full = bins(8)
    assert(full._1 >= 1L && full._2 == full._1 && full._3 == 1000000L,
      s"full-match bin should be perfectly calibrated: $bins")
    // Integer-arithmetic invariants hold in every bin.
    bins.foreach { case (m, (p, t, ppm)) =>
      assert(m >= 0 && m <= 8 && t <= p && ppm == 1000000L * t / p,
        s"bin $m violates invariants: $bins")
    }
  }

  test("dsirWeights: target-like docs outrank pool-like docs; n_feats = 2·len − 1") {
    import spark.implicits._
    // Target (tgt=true) speaks alpha/beta; the pool's bulk speaks
    // gamma/delta. Probe docs 10 (pure target dialect) and 11 (pure
    // pool dialect) have the same length, so only the distribution
    // match separates their scores.
    val corpus = (
      (0L until 6L).map(i => (i, "alpha beta alpha beta alpha", true)) ++
        (6L until 10L).map(i => (i, "gamma delta gamma delta gamma", false)) :+
        (10L, "alpha beta alpha beta alpha", false) :+
        (11L, "gamma delta gamma delta gamma", false)
      ).toDF("doc_id", "text", "is_tgt")
    val w = Mixing.dsirWeights(corpus, "doc_id", "text", "is_tgt", buckets = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 5 tokens -> 5 unigrams + 4 bigrams = 9 features, every doc.
    assert(w.values.forall(_._2 == 9L), s"n_feats: $w")
    assert(w(10L)._1 > w(11L)._1,
      s"target-dialect doc must outscore pool-dialect doc: $w")
    // Same text => same score regardless of the doc's own flag.
    assert(w(10L)._1 == w(0L)._1)
    // Partitioning invariance (retry/AQE safety).
    val re = Mixing.dsirWeights(corpus.repartition(7), "doc_id", "text",
      "is_tgt", buckets = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(re == w)
  }

  test("assembleSessions: gap splits, pinned turn order, partitioning-invariant") {
    import spark.implicits._
    val gap = 60L * 1000000L // 60 s
    val ev = Seq(
      // user 1: two sessions — 3 turns, then (after a 2-gap jump) 1 turn
      (1L, 0L, 10L, "a"), (1L, 1L, 5000000L, "b"), (1L, 2L, 10000000L, "a"),
      (1L, 3L, 200000000L, "c"),
      // user 2: one session; same-ts tie broken by ord
      (2L, 5L, 1000000L, "y"), (2L, 4L, 1000000L, "x")
    ).toDF("uid", "ord", "us", "etype")
    val out = Dialogue.assembleSessions(ev, "uid", "us", "etype", "ord", gap)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getString(4))).toSeq == Seq(
      (1L, 10L, 3L, 9L, "a@0 b@4 a@9"),
      (1L, 200000000L, 1L, 0L, "c@0"),
      (2L, 1000000L, 2L, 0L, "x@0 y@0")))
    // same output regardless of physical layout (retry/AQE safety)
    val re = Dialogue.assembleSessions(
      ev.repartition(7), "uid", "us", "etype", "ord", gap)
    assertSameData(re, Dialogue.assembleSessions(ev, "uid", "us", "etype", "ord", gap))
  }

  test("prioritySample: weight-monotone, equal weights = bottom-k by hash") {
    import spark.implicits._
    val base = (0L until 50L).map(i => (i, s"document number $i", 1L))
      .toDF("doc_id", "text", "w")
    val k = 10
    val eq = Mixing.prioritySample(base, "doc_id", "text", "w", k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // equal weights degenerate to bottom-k by the content hash itself
    val byHash = base
      .withColumn("u", expr(
        graft.functions.TextHash.spark.seeded(
          graft.functions.TextHash.spark.rollingHash("text"),
          179424673L, 961748941L)))
      .orderBy("u", "doc_id").limit(k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(eq == byHash)
    // boosting an excluded row's weight enough pulls it in;
    // every previously-selected row keeps priority <= its old value
    val outsider = ((0L until 50L).toSet -- eq).head
    val boosted = base.withColumn("w",
      when(col("doc_id") === outsider, 1000000L).otherwise(col("w")))
    val sel2 = Mixing.prioritySample(boosted, "doc_id", "text", "w", k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sel2.contains(outsider))
    // a selected row whose weight rises never drops out at the same k
    val insider = eq.head
    val boosted2 = base.withColumn("w",
      when(col("doc_id") === insider, 7L).otherwise(col("w")))
    val sel3 = Mixing.prioritySample(boosted2, "doc_id", "text", "w", k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sel3.contains(insider))
    // null / non-positive weights raise loudly
    val bad = base.withColumn("w",
      when(col("doc_id") === 3L, lit(null).cast("long")).otherwise(col("w")))
    val e = intercept[Exception] {
      Mixing.prioritySample(bad, "doc_id", "text", "w", k).collect()
    }
    assert(e.getMessage.contains("prioritySample"))
  }

  test("trainBpe: hand-computed greedy path, early stop, composes with applyBpeMerges") {
    import spark.implicits._
    // corpus: "aaab" x2, "ab" x3
    val corpus = (Seq.fill(2)("aaab") ++ Seq.fill(3)("ab")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val learned = TextOps.trainBpe(corpus, "text", nMerges = 6).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // r1: (a,b) 2+3=5 beats (a,a) 4; r2: (a,a)=2 ties (a,ab)=2, lexical
    // tie-break picks (a,a); r3: (aa,ab)=2; r4: no pairs left -> stop.
    assert(learned == Seq((1, "a", "b", 5L), (2, "a", "a", 2L), (3, "aa", "ab", 2L)))
    // the learned table drives the apply side back to whole words
    val applied = TextOps.applyBpeMerges(corpus, "text",
      learned.map(m => (m._2, m._3)))
      .select("text", "pieces").distinct().collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(applied("aaab") == Seq("aaab") && applied("ab") == Seq("ab"))
    // partitioning invariance (the argmax is a global aggregate)
    val re = TextOps.trainBpe(corpus.repartition(5), "text", nMerges = 6).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(re == learned)
  }

  test("foldHomoglyphs: confusables fold to Latin, honest Cyrillic survives") {
    import spark.implicits._
    val spoofed = "hеllo wоrld" // Cyrillic е and о inside Latin words
    val honest = "привет мир"             // real Cyrillic — п,р(folds),и,в,т...
    val df = Seq((1L, spoofed), (2L, honest), (3L, "plain ascii")).toDF("id", "t")
    val out = TextOps.foldHomoglyphs(df, "t", "f").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "hello world")
    // only the pixel-identical pairs fold (р->p, е->e); the rest of
    // the real-Cyrillic word keeps its script
    assert(out(2L) != honest && out(2L).exists(c => c >= 'а' && c <= 'я'),
      s"non-confusable Cyrillic letters must survive: ${out(2L)}")
    assert(out(3L) == "plain ascii")
  }

  test("dropContained: contained docs drop, chains keep the maximal doc, ties keep min id") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, base + " iota kappa lambda mu nu xi"), // superset: must survive
      (2L, base),                                  // contained in 1
      (3L, base),                                  // exact dup of 2: tie, larger id drops
      (4L, "totally unrelated words that stand completely alone here now")
    ).toDF("doc_id", "text")
    val kept = DedupOps.dropContained(corpus, "doc_id", "text",
      bands = 2, rowsPerBand = 4, cNum = 2, cDen = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // NB: doc 2 is fully contained in doc 1 (Jaccard 0.5) and
    // survives ONLY via the documented LSH recall caveat — J=0.5
    // evades the 2x4 band scheme, so the (1,2) candidate pair is
    // never generated. The tie-break is what drops doc 3 (exact twin,
    // J=1 always collides). Raising recall (more bands / fewer rows
    // per band) would legitimately drop doc 2 as well — this
    // assertion would then need the superset relaxed, not a bug.
    assert(kept == Set(1L, 2L, 4L),
      s"expected the superset, the min-id twin, and the unrelated doc; got $kept")
  }

  test("benfordAudit: string-derived leading digit, exact ppm, null/zero excluded") {
    import spark.implicits._
    // digits: 1 x4 (10, 15, -19, 1999.5->1999), 2 x1 (250), 9 x1
    // (9000); 0, 0.5 (|v| < 1) and null excluded
    val df = Seq[java.lang.Double](10.0, 15.0, -19.0, 1999.5, 250.0, 9000.0,
      0.0, 0.5, null).toDF("v")
    val out = Profile.benfordAudit(df, "v").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set(1, 2, 9))
    assert(out(1) == ((4L, 666666L, Profile.benfordPpm(1))))
    assert(out(2)._1 == 1L && out(2)._2 == 166666L)
    assert(out(9)._3 == Profile.benfordPpm(9))
    // benford constants: shares sum to ~1e6 and decrease in d
    assert(Profile.benfordPpm.values.sum >= 999990L &&
      Profile.benfordPpm.values.sum <= 1000000L)
    assert((1 to 8).forall(d => Profile.benfordPpm(d) > Profile.benfordPpm(d + 1)))
  }

  test("withRougeN: clipped multiset overlap, hand-computed P/R/F1, edge rows") {
    import spark.implicits._
    val rows = Seq(
      // cand "a b a b a" bigrams: ab, ba, ab, ba  (ab x2, ba x2)
      // ref  "a b a"     bigrams: ab, ba          (ab x1, ba x1)
      // clipped overlap = min(2,1) + min(2,1) = 2; P = 2/4, R = 2/2, F1 = 4/6
      (1L, "a b a b a", "a b a"),
      (2L, "x y", "x y"),      // identical: all 1.0
      (3L, "p q", "r s"),      // disjoint: all 0.0
      (4L, "solo", "w z")      // cand too short for a bigram: P null, R 0
    ).toDF("id", "cand", "ref")
    val out = Scoring.withRougeN(rows, "cand", "ref", n = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    def f(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val r1 = out(1L)
    assert(r1.getLong(3) == 2L && r1.getLong(4) == 4L && r1.getLong(5) == 2L)
    assert(f(r1, 6).contains(0.5) && f(r1, 7).contains(1.0) &&
      f(r1, 8).contains(2.0 * 2 / 6))
    assert(f(out(2L), 8).contains(1.0))
    assert(f(out(3L), 8).contains(0.0))
    val r4 = out(4L)
    assert(r4.getLong(4) == 0L && f(r4, 6).isEmpty && f(r4, 7).contains(0.0))
  }

  test("ndcgAtK: perfect ranking = 1.0, all-miss = 0.0, absent label = null") {
    import spark.implicits._
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f), "a"), (11L, Array(0.9f, 0.1f), "a"),
      (12L, Array(0.0f, 1.0f), "b"), (13L, Array(0.1f, 0.9f), "b")
    ).toDF("c_id", "cv", "c_label")
    val queries = Seq(
      (1L, Array(1.0f, 0.0f), "a"), // both 'a' docs fill the top-2: perfect
      (2L, Array(1.0f, 0.0f), "b"), // top-2 are 'a' docs: zero DCG
      (3L, Array(1.0f, 0.0f), "z")  // label absent from the corpus
    ).toDF("q_id", "qv", "q_label")
    val out = SimilarityOps.ndcgAtK(corpus, "c_id", "cv", "c_label",
      queries, "q_id", "qv", "q_label", k = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    assert(out(1L) == ((2L, Some(1.0))))
    assert(out(2L) == ((0L, Some(0.0))))
    assert(out(3L)._1 == 0L && out(3L)._2.isEmpty,
      "a query whose label has no corpus member must surface with null nDCG")
  }

  test("graft_cms_merge: merged group sketches equal the direct corpus sketch") {
    import spark.implicits._
    val df = (1 to 30).flatMap(v => Seq.fill(v)((v.toLong, s"g${v % 3}")))
      .toDF("v", "g")
    def est(skCol: String, d: org.apache.spark.sql.DataFrame): Seq[Long] = {
      val r = d.select((1L to 30L).map(p =>
        expr(s"graft_cms_query($skCol, CAST($p AS BIGINT))").as(s"e$p")): _*).head
      (0 until 30).map(r.getLong)
    }
    val direct = df.agg(expr("count_min_sketch(v, 0.01d, 0.99d, 7)").as("s"))
    val merged = df.groupBy("g")
      .agg(expr("count_min_sketch(v, 0.01d, 0.99d, 7)").as("sk"))
      .agg(expr("graft_cms_merge(sk)").as("s"))
    assert(est("s", merged) == est("s", direct),
      "counter sums must make merge == rebuild, estimate-for-estimate")
    // merge order / partitioning must not matter
    val re = df.repartition(11).groupBy("g")
      .agg(expr("count_min_sketch(v, 0.01d, 0.99d, 7)").as("sk"))
      .agg(expr("graft_cms_merge(sk)").as("s"))
    assert(est("s", re) == est("s", direct))
    // zero / all-null sketch inputs -> SQL-conventional NULL
    val none = df.select(lit(null).cast("binary").as("sk"))
      .agg(expr("graft_cms_merge(sk)").as("s"))
    assert(none.head.isNullAt(0))
  }

  test("count_min_sketch streams: cross-batch state + graft_cms_query equals batch") {
    // The sketch family's streaming story: the built-in CMS aggregate's
    // partial buffer merges through the state store across micro-
    // batches; graft_cms_query reads the persisted binary. The full
    // replay must estimate exactly like a batch-built sketch (same
    // counters, same seed) no matter how rows split across batches.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val b1 = (1 to 20).flatMap(v => Seq.fill(v)(v.toLong))
    val b2 = (10 to 25).flatMap(v => Seq.fill(3)(v.toLong))
    val mem = MemoryStream[Long]
    val query = mem.toDF().toDF("v")
      .selectExpr("count_min_sketch(v, 0.01d, 0.99d, 7) AS s")
      .writeStream.format("memory").queryName("cms_stream_out")
      .outputMode("complete").start()
    try {
      mem.addData(b1: _*); query.processAllAvailable()
      mem.addData(b2: _*); query.processAllAvailable()
      val probes = (1L to 25L)
      def ests(d: org.apache.spark.sql.DataFrame): Seq[Long] = {
        val r = d.select(probes.map(p =>
          expr(s"graft_cms_query(s, CAST($p AS BIGINT))").as(s"e$p")): _*).head
        probes.indices.map(r.getLong)
      }
      val direct = (b1 ++ b2).toDF("v")
        .agg(expr("count_min_sketch(v, 0.01d, 0.99d, 7)").as("s"))
      assert(ests(spark.table("cms_stream_out")) == ests(direct),
        "cross-batch CMS state diverged from the batch-built sketch")
    } finally query.stop()
  }

  test("stripMarkup: tags to spaces, single-pass-safe entity order, squeeze+trim") {
    import spark.implicits._
    val rows = Seq(
      (1L, "<p>hello <b>world</b></p>", "hello world"),
      // tag boundaries must not fuse words
      (2L, "a</p><p>b", "a b"),
      // &amp;lt; is the LITERAL text "&lt;" — decode must not double
      (3L, "x &amp;lt; y &amp; z", "x &lt; y & z"),
      (4L, "5 &lt; 6 &gt; 4 &quot;q&quot; &#39;a&apos;", "5 < 6 > 4 \"q\" 'a'"),
      (5L, "  lots\t of\n\n space  ", "lots of space"),
      // a bare > outside any tag survives
      (6L, "3 > 2 <br/> done", "3 > 2 done")
    ).toDF("id", "raw", "expected")
    val out = TextOps.stripMarkup(rows, "raw", "clean")
    assert(out.where(col("clean") =!= col("expected")).count() == 0,
      out.select("id", "clean", "expected").collect().mkString("\n"))
  }

  test("graft_cms_query: estimates bounded by [exact, exact + ceil(eps*N)], merge-invariant") {
    import spark.implicits._
    // skewed domain: value v appears v times, v in 1..40 -> N = 820
    val rows = (1 to 40).flatMap(v => Seq.fill(v)(v.toLong))
    val df = rows.toDF("v")
    val eps = 0.01
    def estimates(d: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val sk = d.agg(expr(s"count_min_sketch(v, ${eps}d, 0.99d, 42)").as("s"))
      val probes = Seq(1L, 7L, 40L)
      val r = sk.select(probes.map(p =>
        expr(s"graft_cms_query(s, CAST($p AS BIGINT))").as(s"e$p")): _*).head
      probes.zipWithIndex.map { case (p, i) => p -> r.getLong(i) }.toMap
    }
    val est = estimates(df)
    val n = rows.size
    est.foreach { case (p, e) =>
      assert(e >= p, s"CMS must never undercount: probe $p -> $e")
      assert(e <= p + math.ceil(eps * n).toLong,
        s"CMS estimate out of eps bound: probe $p -> $e")
    }
    // CMS partial-merge sums counters exactly: any partitioning,
    // same sketch, same estimates
    assert(estimates(df.repartition(13)) == est)
    // string domain round-trips too
    val sdf = Seq("a", "a", "b").toDF("t")
      .agg(expr("count_min_sketch(t, 0.01d, 0.99d, 42)").as("s"))
      .select(expr("graft_cms_query(s, 'a')").as("ea"),
        expr("graft_cms_query(s, 'b')").as("eb")).head
    assert(sdf.getLong(0) >= 2L && sdf.getLong(1) >= 1L)
  }

  test("repeatedCharSpans: cross-doc runs merge to one interval, self-repeats count, short/unique docs zero") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "abcdefghijX123"),   // shares the 10-char run [0,10) with doc 2
      (2L, "zzWabcdefghijY45"), // the shared run sits at [3,13)
      (3L, "qqqqqqq"),          // SELF-repeat: gram qqqqq at pos 0,1,2 -> [0,7)
      (4L, "0123456789"),       // long enough, no repeated 5-gram anywhere
      (5L, "abc")               // shorter than gramLen -> zeros
    ).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      DedupOps.repeatedCharSpans(df, "doc_id", "text", gramLen = 5)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
    val got = run(corpus)
    // every 5-gram of the shared run repeats (and no boundary-crossing
    // gram does: ghijX vs ghijY), so the per-doc intervals merge to
    // exactly the run; ppm = 1e6*dup div n_chars
    assert(got == Seq(
      (1L, 14L, 1L, 10L, 714285L),
      (2L, 16L, 1L, 10L, 625000L),
      (3L, 7L, 1L, 7L, 1000000L),
      (4L, 10L, 0L, 0L, 0L),
      (5L, 3L, 0L, 0L, 0L)))
    // partitioning invariance: the gram window and interval merge are
    // keyed shuffles, not order-dependent scans
    assert(run(corpus.repartition(7)) == got)
    // the 100 TB hash-key mode (8-byte shuffle keys) agrees exactly
    // away from the ~n²/2^65 collision regime
    val hashed = DedupOps.repeatedCharSpans(corpus, "doc_id", "text",
      gramLen = 5, hashKeys = true)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(hashed == got)
  }

  test("cutRepeatedSpans: keep-first excision — first corpus occurrence survives, later ones are cut") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "abcdefghijX123"),   // FIRST owner of the shared run: untouched
      (2L, "zzWabcdefghijY45"), // later owner: run [3,13) excised
      (3L, "qqqqqqq"),          // self-repeat: keeper gram at pos 0, [1,7) cut
      (4L, "0123456789"),       // no repeats
      (5L, "abc")               // shorter than gramLen
    ).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame, hashed: Boolean = false) =
      DedupOps.cutRepeatedSpans(df, "doc_id", "text", gramLen = 5, hashKeys = hashed)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val got = run(corpus)
    assert(got == Seq(
      (1L, "abcdefghijX123", 0L, 0L),
      (2L, "zzWY45", 1L, 10L),
      (3L, "q", 1L, 6L),
      (4L, "0123456789", 0L, 0L),
      (5L, "abc", 0L, 0L)))
    assert(run(corpus.repartition(7)) == got)  // partitioning invariance
    assert(run(corpus, hashed = true) == got)  // 8-byte-key mode agrees
  }

  test("rocAuc: separation/reversal/tie endpoints; grouped == ungrouped decomposition") {
    import spark.implicits._
    // 2 positives above 2 negatives → AUC = 1; reversed → 0; all-tied → 1/2.
    val perfect = Seq((10L, true), (9L, true), (2L, false), (1L, false))
      .toDF("s", "y")
    def auc(df: org.apache.spark.sql.DataFrame): Option[Long] = {
      val r = Scoring.rocAuc(df, "s", "y").head
      if (r.isNullAt(r.fieldIndex("auc_ppm"))) None
      else Some(r.getLong(r.fieldIndex("auc_ppm")))
    }
    assert(auc(perfect).contains(1000000L))
    assert(auc(perfect.withColumn("y", !col("y"))).contains(0L))
    val tied = Seq((5L, true), (5L, false), (5L, true), (5L, false)).toDF("s", "y")
    assert(auc(tied).contains(500000L))
    // hand case: scores pos {3, 1}, neg {2, 1} →
    // C = (3>2) + (3>1) + 0 + 0 = 2 wins... per-pair: pos3 beats neg2, neg1 (2);
    // pos1 beats none, ties neg1 (0.5) → AUC = 2.5/4 = 0.625
    val hand = Seq((3L, true), (1L, true), (2L, false), (1L, false)).toDF("s", "y")
    assert(auc(hand).contains(625000L))
    // one-class group → NULL; the other group unaffected
    val grouped = Seq(("g1", 3L, true), ("g1", 1L, false), ("g2", 7L, true))
      .toDF("g", "s", "y")
    val byG = Scoring.rocAuc(grouped, "s", "y", Seq("g")).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(byG("g1").contains(1000000L) && byG("g2").isEmpty)
    // the bucket-decomposed ungrouped path == the windowed grouped path
    val big = (1 to 500).map(i => (((i * 37) % 101).toLong, i % 3 == 0)).toDF("s", "y")
    val viaGroup = Scoring.rocAuc(big.withColumn("g", lit("x")), "s", "y", Seq("g"))
      .select("n_pos", "n_neg", "auc_ppm").head
    val viaBuckets = Scoring.rocAuc(big, "s", "y").select("n_pos", "n_neg", "auc_ppm").head
    assert(viaGroup == viaBuckets)
    // null score raises loudly
    val ex = intercept[Exception] {
      Scoring.rocAuc(Seq((Some(1L), true), (None, false)).toDF("s", "y"), "s", "y")
        .collect()
    }
    assert(ex.getMessage.contains("rocAuc"))
  }

  test("calibrationReport: hand bins, empty-bin NULLs, exact ECE") {
    import spark.implicits._
    // bin 0: probs {0, 50}, labels {F, F} → conf (1000*50)/2 = 25000, acc 0
    // bin 9: probs {950, 1000}, labels {T, F} → conf 975000, acc 500000
    val df = Seq((0L, false), (50L, false), (950L, true), (1000L, false))
      .toDF("pr", "y")
    val rows = Scoring.calibrationReport(df, "pr", "y", nBins = 10)
      .collect()
    assert(rows.length == 10)
    val byBin = rows.map(r => r.getLong(0) -> r).toMap
    assert(byBin(0L).getLong(1) == 2L && byBin(0L).getLong(2) == 25000L &&
      byBin(0L).getLong(3) == 0L && byBin(0L).getLong(4) == 25000L)
    assert(byBin(9L).getLong(1) == 2L && byBin(9L).getLong(2) == 975000L &&
      byBin(9L).getLong(3) == 500000L && byBin(9L).getLong(4) == 475000L)
    assert(byBin(5L).isNullAt(2) && byBin(5L).getLong(1) == 0L)
    // ECE = (2*25000 + 2*475000) div 4 = 250000, stamped on every row
    assert(rows.forall(_.getLong(5) == 250000L))
    // prob=1000 lands in bin 9 (capped), not a phantom bin 10 — covered above.
    val ex = intercept[Exception] {
      Scoring.calibrationReport(Seq((1001L, true)).toDF("pr", "y"), "pr", "y")
        .collect()
    }
    assert(ex.getMessage.contains("permille"))
  }

  test("shingleNovelty: first occurrence owns; exact dup scores zero; short docs keep zero counts") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e"),          // shingles abc bcd cde — all first here
      (2L, "a b c d e"),          // exact dup → 0 novel
      (3L, "a b c x y z"),        // abc borrowed; bcx cxy xyz novel
      (4L, "t u")                 // <3 tokens → whole text is the one shingle
    ).toDF("doc_id", "text")
    val got = TextOps.shingleNovelty(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, 3L, 3L, 1000000L),
      (2L, 3L, 0L, 0L),
      (3L, 4L, 3L, 750000L),
      (4L, 1L, 1L, 1000000L)))
  }

  test("withCharEntropy: runs score zero, spread grows, empty/null edges") {
    import spark.implicits._
    val df = Seq((1L, Some("aaaa")), (2L, Some("ab")), (3L, Some("")),
      (4L, None), (5L, Some("abcd"))).toDF("id", "text")
    val got = TextOps.withCharEntropy(df, "text").orderBy("id").collect()
      .map(r => if (r.isNullAt(2)) -1L else r.getLong(2)).toSeq
    // "aaaa": 4*(bl(4)-bl(4)) = 0 ; "ab": 1*(2-1)+1*(2-1) = 2
    // "abcd": 4 * (bl(4)-bl(1)) = 4*(3-1) = 8
    assert(got == Seq(0L, 2L, 0L, -1L, 8L))
  }

  test("averagePrecisionAtK: perfect ranking = 1e6; front-loading beats back-loading") {
    import spark.implicits._
    // 1-D embeddings: query at 10.0; corpus A-labeled at 9,8 and
    // B-labeled at 7,6 (cosine on 1-D positive values is always 1 —
    // use 2-D to order)
    val corpus = Seq(
      (100L, Seq(1.0f, 0.00f), "A"),
      (101L, Seq(1.0f, 0.05f), "A"),
      (102L, Seq(0.0f, 1.00f), "B"),
      (103L, Seq(0.1f, 1.00f), "B")
    ).toDF("c_id", "cv", "c_label")
    val queries = Seq((1L, Seq(1.0f, 0.0f), "A"), (2L, Seq(0.0f, 1.0f), "B"))
      .toDF("q_id", "qv", "q_label")
    val got = SimilarityOps.averagePrecisionAtK(
      corpus, "c_id", "cv", "c_label", queries, "q_id", "qv", "q_label", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // both queries retrieve their own label's two members at ranks 1,2
    // → AP = ((1e6*1 div 1) + (1e6*2 div 2)) div min(2, 2) = 1e6
    assert(got == Map(1L -> 1000000L, 2L -> 1000000L))
    // relevant at ranks 2.. only: A query with corpus where rank1 is B
    val mixed = Seq(
      (100L, Seq(1.0f, 0.00f), "B"),
      (101L, Seq(1.0f, 0.05f), "A")
    ).toDF("c_id", "cv", "c_label")
    val got2 = SimilarityOps.averagePrecisionAtK(
      mixed, "c_id", "cv", "c_label",
      Seq((1L, Seq(1.0f, 0.0f), "A")).toDF("q_id", "qv", "q_label"),
      "q_id", "qv", "q_label", k = 2)
      .head.getLong(3)
    // one relevant at rank 2 → (1e6*1 div 2) div min(2, 1) = 500000
    assert(got2 == 500000L)
  }

  test("kendallTau: agreement/reversal endpoints and exact tie accounting") {
    import spark.implicits._
    val agree = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("x", "y")
    val r1 = RobustStats.kendallTau(agree, "x", "y", Nil).head
    assert(r1.getLong(r1.fieldIndex("concordant")) == 3L &&
      r1.getLong(r1.fieldIndex("tau_a_ppm")) == 1000000L)
    val rev = Seq((1L, 30L), (2L, 20L), (3L, 10L)).toDF("x", "y")
    val r2 = RobustStats.kendallTau(rev, "x", "y", Nil).head
    assert(r2.getLong(r2.fieldIndex("tau_a_ppm")) == -1000000L)
    // ties: x = (1,1,2), y = (5,5,9): pairs = (1,2):both-tied,
    // (1,3)+(2,3): concordant → C=2, tie_xy=1, n(n-1)/2 = 3
    val tied = Seq((1L, 5L), (1L, 5L), (2L, 9L)).toDF("x", "y")
    val r3 = RobustStats.kendallTau(tied, "x", "y", Nil).head
    assert(r3.getLong(r3.fieldIndex("concordant")) == 2L &&
      r3.getLong(r3.fieldIndex("discordant")) == 0L &&
      r3.getLong(r3.fieldIndex("tie_xy")) == 1L &&
      r3.getLong(r3.fieldIndex("tau_a_ppm")) == 666666L)
    // grouped: each group scored independently; n<2 → NULL
    val grouped = Seq(("g1", 1L, 1L), ("g1", 2L, 2L), ("g2", 7L, 7L))
      .toDF("g", "x", "y")
    val byG = RobustStats.kendallTau(grouped, "x", "y", Seq("g")).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(7)) None else Some(r.getLong(7)))).toMap
    assert(byG("g1").contains(1000000L) && byG("g2").isEmpty)
  }

  test("vocabGrowth: monotone curve, endpoints equal corpus totals") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c"), (4L, "a b d"), (7L, "a e"), (10L, "f f f")
    ).toDF("doc_id", "text")
    val got = TextOps.vocabGrowth(df, "doc_id", "text", buckets = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == (1L to 5L))
    // checkpoints at (i*10) div 5 = 2,4,6,8,10
    assert(got.map(_._2).toSeq == Seq(2L, 4L, 6L, 8L, 10L))
    // doc1 ≤ 2: 3 tokens, vocab {a,b,c}; doc4 ≤ 4: +3, vocab +{d};
    // doc7 ≤ 8: +2, vocab +{e}; doc10 ≤ 10: +3, vocab +{f}
    assert(got.map(_._3).toSeq == Seq(3L, 6L, 6L, 8L, 11L))
    assert(got.map(_._4).toSeq == Seq(3L, 4L, 4L, 5L, 6L))
    // partitioning invariance
    val again = TextOps.vocabGrowth(df.repartition(7), "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq == got.toSeq)
  }

  test("groupTokenEntropy: concentration scores low, exact surrogate values") {
    import spark.implicits._
    val df = Seq(("a", "x x x x"), ("b", "p q r s")).toDF("src", "text")
    val got = TextOps.groupTokenEntropy(df, "text", "src").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // src a: one token, c=4=n → ent 0. src b: 4 tokens c=1 each, n=4:
    // 4·bl(4) − 4·(1·bl(1)) = 4·3 − 4 = 8
    assert(got("a") == ((4L, 1L, 0L)))
    assert(got("b") == ((4L, 4L, 8L)))
  }

  test("histogram2d: boundary-pinned cells with under/overflow clamps") {
    import spark.implicits._
    val df = Seq((-5.0, 10.0), (0.0, 10.0), (99.9, 99.9), (100.0, 5.0),
      (50.0, 50.0), (50.0, 50.0)).toDF("x", "y")
    val got = Profile.histogram2d(df, "x", 0.0, 100.0, 10, "y", 0.0, 100.0, 10)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(got((0, 2)) == 1L)      // x underflow, y in bucket 2
    assert(got((1, 2)) == 1L)      // x = 0.0 → first bucket
    assert(got((10, 10)) == 1L)    // 99.9 → last in-range bucket both axes
    assert(got((11, 1)) == 1L)     // x = hi → overflow
    assert(got((6, 6)) == 2L)      // the repeated center cell
    assert(got.values.sum == 6L)
  }

  test("cusumUpcrossings: drift alarms exactly at upcrossings; dips reset via running min") {
    import spark.implicits._
    // target 10, threshold 5: values 10,10 keep s=0; 13,13 push s to 6
    // (alarm), 14 keeps s above (no re-alarm), 2 drops s to 3, 14
    // re-crosses (second alarm)
    val df = Seq(
      (1L, 1L, 10L), (1L, 2L, 10L), (1L, 3L, 13L), (1L, 4L, 13L),
      (1L, 5L, 14L), (1L, 6L, 2L), (1L, 7L, 14L),
      (2L, 1L, 9L), (2L, 2L, 9L)
    ).toDF("k", "ts", "v")
    val got = TimeSeries.cusumUpcrossings(df, "k", "ts", "ts", "v",
      target = 10L, threshold = 5L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    // key 1: s = 0,0,3,6,10,2... wait: prefix sums 0,0,3,6,10,2,6;
    // running min of (P,0) = 0 throughout → s = P. Upcrossings at
    // ts=4 (3→6) and ts=7 (2→6). max_s = 10.
    assert(got(1L) == ((7L, 10L, 2L, 4L)))
    // key 2: all below target → P negative, s = P − min stays 0
    assert(got(2L) == ((2L, 0L, 0L, -1L)))
  }

  test("attribution: first/last touch per segment, direct conversions, segment reset") {
    import spark.implicits._
    // user 1: view(1) click(2) BUY(3) click(4) BUY(5) BUY(6)
    //   conv 3: first=view@1 last=click@2
    //   conv 5: first=click@4 last=click@4 (segment reset at 3)
    //   conv 6: direct (no touch since 5)
    val ev = Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "buy"),
      (1L, 4L, "click"), (1L, 5L, "buy"), (1L, 6L, "buy"),
      (2L, 1L, "buy") // direct, no history at all
    ).toDF("u", "ts", "t").withColumn("id", col("ts"))
    val got = Funnel.attribution(ev, "u", "ts", "t", "id",
      Seq("view", "click"), "buy")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((if (r.isNullAt(3)) "-" else r.getString(3)),
          (if (r.isNullAt(5)) "-" else r.getString(5)))).toMap
    assert(got((1L, 3L)) == (("view", "click")))
    assert(got((1L, 5L)) == (("click", "click")))
    assert(got((1L, 6L)) == (("-", "-")))
    assert(got((2L, 1L)) == (("-", "-")))
    // deterministic under repartitioning
    val again = Funnel.attribution(ev.repartition(5), "u", "ts", "t", "id",
      Seq("view", "click"), "buy")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((if (r.isNullAt(3)) "-" else r.getString(3)),
          (if (r.isNullAt(5)) "-" else r.getString(5)))).toMap
    assert(again == got)
  }

  test("withHilbertValue: bijective Hamiltonian unit-step walk; strictly better locality than Z") {
    import spark.implicits._
    val bits = 4
    val n = 1 << bits
    val grid = (for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val h = Sequencing.withHilbertValue(grid, "x", "y", bits)
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    // bijection onto [0, n²)
    assert(h.map(_._1).toSeq == (0L until (n.toLong * n)).toSeq)
    // THE Hilbert property: consecutive keys are spatially adjacent
    val steps = h.sliding(2).map { case Array((_, x1, y1), (_, x2, y2)) =>
      math.abs(x2 - x1) + math.abs(y2 - y1)
    }.toSeq
    assert(steps.forall(_ == 1L), "every Hilbert step must be a unit move")
    // Z-order on the same grid takes long jumps: total travel > n²−1
    val z = Sequencing.withZValue(grid, "x", "y")
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val zTravel = z.sliding(2).map { case Array((_, x1, y1), (_, x2, y2)) =>
      math.abs(x2 - x1) + math.abs(y2 - y1)
    }.sum
    assert(zTravel > steps.sum, s"Z travel $zTravel must exceed Hilbert ${steps.sum}")
    // out-of-range input raises
    val ex = intercept[Exception] {
      Sequencing.withHilbertValue(Seq((-1L, 0L)).toDF("x", "y"), "x", "y", bits)
        .collect()
    }
    assert(ex.getMessage.contains("withHilbertValue"))
  }

  test("passAtK: hand combinatorics, clamp at all-fail < k, NULL under-sampled, loud overflow") {
    import spark.implicits._
    // n=4, c=2, k=2: C(2,2)/C(4,2) = 1/6 → pass = 1e6 − 166666 = 833334
    val df = Seq(("p1", true), ("p1", true), ("p1", false), ("p1", false),
      ("p2", false), ("p2", false), ("p2", false),
      ("p3", true)).toDF("prob", "ok")
    val got = Scoring.passAtK(df, "prob", "ok", k = 2).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got("p1").contains(833334L))
    // p2: c=0, n=3: C(3,2)/C(3,2) = 1 → pass 0
    assert(got("p2").contains(0L))
    // p3: n=1 < k → NULL
    assert(got("p3").isEmpty)
    // n−c < k → numerator clamps to 0 → pass exactly 1e6 (a failure
    // draw cannot fill k slots)
    val allPass = Seq(("q", true), ("q", true), ("q", false)).toDF("prob", "ok")
    assert(Scoring.passAtK(allPass, "prob", "ok", 2).head.getLong(3) == 1000000L)
    val full = Seq(("q", true), ("q", true)).toDF("prob", "ok")
    assert(Scoring.passAtK(full, "prob", "ok", 2).head.getLong(3) == 1000000L)
  }

  test("withRollingMedian: exact trailing medians, lower-middle ties, warmup counts") {
    import spark.implicits._
    val df = Seq((1L, 1L, 5L), (1L, 2L, 1L), (1L, 3L, 9L), (1L, 4L, 2L))
      .toDF("k", "ts", "v")
    val got = TimeSeries.withRollingMedian(df, "k", "ts", "ts", "v", nRows = 3)
      .orderBy("ts").collect()
      .map(r => (r.getLong(r.fieldIndex("roll_median")),
        r.getLong(r.fieldIndex("roll_n")))).toSeq
    // windows: [5] [1,5] [1,5,9] [1,2,9] → medians 5, 1 (lower mid), 5, 2
    assert(got == Seq((5L, 1L), (1L, 2L), (5L, 3L), (2L, 3L)))
  }

  test("kCore: peels tendrils, keeps the dense core, cascading deletes handled") {
    import spark.implicits._
    // K4 core {1,2,3,4} + a chain 4–5–6 that must cascade away at k=2...
    // use k=3: chain nodes have degree ≤ 2 → removed; K4 survives with
    // degree 3 each. Node 5's removal drops 6 below ANY k — cascade.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("a", "b")
    val got = Components.kCore(edges, "a", "b", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // empty result when k exceeds the densest core
    assert(Components.kCore(edges, "a", "b", k = 4).count() == 0L)
    // deterministic under repartitioning
    val again = Components.kCore(edges.repartition(5), "a", "b", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("bbitJaccardEstimates: exact dups estimate 1e6; estimator clamps; b-bit never exceeds full") {
    import spark.implicits._
    val got = DedupOps.bbitJaccardEstimates(docs, "doc_id", "text",
      bands = 2, rowsPerBand = 4, bBits = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // exact duplicates 0/1: full signatures identical → k=8 both
    // widths → Ĵ = (8·16−8)/(8·15) = 1 exactly
    val (kf, kb, jh) = got((0L, 1L))
    assert(kf == 8L && kb == 8L && jh == 1000000L)
    // truncation can only CREATE collisions, never destroy them
    got.values.foreach { case (f, b, _) => assert(b >= f) }
    // and the estimate is clamped to [0, 1e6]
    got.values.foreach { case (_, _, j) => assert(j >= 0L && j <= 1000000L) }
  }

  test("asofJoinForward: earliest at-or-after right; inclusive ties; null when none follow") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100L, 1.0), (1L, 15L, 101L, 2.0),
      (1L, 10L, 99L, 3.0)).toDF("k", "t", "rid", "v")
    val got = AsofJoin.asofJoinForward(left, right, Seq("k"), "t", "t",
      Seq("rid", "v"), "rid")
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    // left a@10: rights at 10 are INCLUSIVE; earliest ord (rid 99) wins
    assert(got("a") == 99L)
    // left b@20: nothing at or after → null
    assert(got("b") == -1L)
    // key 2 has no rights at all → null
    assert(got("c") == -1L)
  }

  test("histogramPercentileRollup: hand p50 per group; __ALL__ comes from merged vectors") {
    import spark.implicits._
    // g1 values 5,15,25 (bins 1,2,3) → p50 needs cum ≥ 2 → bin 2 (edge 10)
    // g2 values 35,45 (bins 4,5)     → p50 needs cum ≥ 1 → bin 4 (edge 30)
    // __ALL__ n=5 → need 3 → cum bins 1..3 → bin 3 (edge 20)
    val df = Seq(("g1", 5.0), ("g1", 15.0), ("g1", 25.0),
      ("g2", 35.0), ("g2", 45.0)).toDF("g", "v")
    val got = Sketches.histogramPercentileRollup(df, "v", "g",
      lo = 0.0, hi = 100.0, nb = 10, pPercent = 50)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getInt(2), r.getDouble(3))).toMap
    assert(got("g1") == ((3L, 2, 10.0)))
    assert(got("g2") == ((2L, 4, 30.0)))
    assert(got("__ALL__") == ((5L, 3, 20.0)))
    // error bound: estimate within one bin width of the exact median
    assert(math.abs(got("__ALL__")._3 - 25.0) <= 10.0)
    // under/overflow mass clamps to the range edges
    val edge = Sketches.histogramPercentileRollup(
      Seq(("g", -5.0), ("g", -4.0), ("g", 500.0)).toDF("g", "v"),
      "v", "g", 0.0, 100.0, 10, 50)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(edge("g") == 0.0)
  }

  test("labelPropagation: labels pool per dense region; deterministic under repartition") {
    import spark.implicits._
    // barbell: triangle {1,2,3} — {4,5,6} triangle, bridged 3–4
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L), (2L, 2L) /* self loop dropped */).toDF("a", "b")
    val got = Components.labelPropagation(edges, "a", "b", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every triangle member's majority neighbor label converges into
    // the clique; the min-label tie-break keeps results stable
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(got(1L) == got(2L), "clique members share a community")
    assert(got(5L) == got(6L), "clique members share a community")
    // deterministic: same result under arbitrary repartitioning
    val again = Components.labelPropagation(edges.repartition(5), "a", "b", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("truncationAudit: prefix ranking flips where tail dims carried the signal") {
    import spark.implicits._
    // q1=[1,0,0,0]: full top-1 is x (cos .6 vs y's .447); first-2-dim
    // top-1 is y (cos 1 vs .6) -> overlap 0. q2=[0,1,0,0]: x wins in
    // both renderings -> overlap 1.
    val corpus = Seq(
      (100L, Array(0.6f, 0.8f, 0f, 0f)),
      (101L, Array(1f, 0f, 2f, 0f))).toDF("c_id", "cv")
    val queries = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f))).toDF("q_id", "qv")
    val out = graft.operators.SimilarityOps.truncationAudit(
        corpus, "c_id", "cv", queries, "q_id", "qv", dim = 2, k = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((0L, 0L)))
    assert(out(2L) == ((1L, 1000000L)))
  }

  test("knnGraphAudit: symmetry, reverse rank, and in-degree concentration on a hand graph") {
    import spark.implicits._
    // hub fixture at k=1: b=(.9,.43) and c=(.9,-.43) both point at
    // a=(1,0); a's two candidates tie EXACTLY (same dot .9, same norm
    // since .43^2 = (-.43)^2 in IEEE) -> id tie-break picks b. Edges:
    // a->b, b->a (mutual, rev rank 1), c->a (one-way). In-degrees:
    // a 2, b 1, c 0 -> max 2; p90 index ceil(.9*3)=3 -> sorted [0,1,2]
    // picks 2.
    val df = Seq((1L, Array(1f, 0f)), (2L, Array(0.9f, 0.43f)),
      (3L, Array(0.9f, -0.43f))).toDF("id", "v")
    val r = graft.operators.SimilarityOps.knnGraphAudit(df, "id", "v", 1)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ==
      ((3L, 3L, 2L, 666666L, 1000000L, 2L, 2L)))
    // two tight pairs at k=1: fully mutual graph, flat in-degrees
    val pairs = Seq((1L, Array(1f, 0f)), (2L, Array(0.99f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(0.1f, 0.99f))).toDF("id", "v")
    val r2 = graft.operators.SimilarityOps.knnGraphAudit(pairs, "id", "v", 1)
      .collect().head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2), r2.getLong(3),
      r2.getLong(4), r2.getLong(5), r2.getLong(6)) ==
      ((4L, 4L, 4L, 1000000L, 1000000L, 1L, 1L)))
    // duplicate vectors: the self edge may tie anywhere in the sim-1
    // block — it must still be excluded and ranks re-close to 1..k
    val dup = Seq((1L, Array(1f, 0f)), (2L, Array(1f, 0f)),
      (3L, Array(1f, 0f))).toDF("id", "v")
    val edges3 = graft.operators.SimilarityOps.knnGraphAudit(dup, "id", "v", 2)
      .collect().head
    assert((edges3.getLong(0), edges3.getLong(1), edges3.getLong(2),
      edges3.getLong(3)) == ((3L, 6L, 6L, 1000000L)))
  }

  test("layeredNavigabilityAudit: per-layer uplink coverage on the hub fixture") {
    import spark.implicits._
    // the knnGraphAudit hub at k=1 with a on layer 1: edges a->b,
    // b->a, c->a. Layer 1 {a}: a's only out-edge stays below -> no
    // uplink. Layer 0 {b,c}: both route INTO the upper layer.
    val df = Seq((1L, Array(1f, 0f), 1L), (2L, Array(0.9f, 0.43f), 0L),
      (3L, Array(0.9f, -0.43f), 0L)).toDF("id", "v", "l")
    val rows = graft.operators.SimilarityOps
      .layeredNavigabilityAudit(df, "id", "v", "l", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(rows == Seq((0L, 2L, 2L, 1000000L, 2L), (1L, 1L, 0L, 0L, 0L)))
    // one flat layer: mutual edges but nothing higher to escape to
    val flat = Seq((1L, Array(1f, 0f), 0L), (2L, Array(0.99f, 0.1f), 0L))
      .toDF("id", "v", "l")
    val rf = graft.operators.SimilarityOps
      .layeredNavigabilityAudit(flat, "id", "v", "l", 1).collect().head
    assert((rf.getLong(0), rf.getLong(1), rf.getLong(2), rf.getLong(3),
      rf.getLong(4)) == ((0L, 2L, 0L, 0L, 0L)))
    // an isolated single node still reports its layer (left join)
    val one = Seq((1L, Array(1f, 0f), 2L)).toDF("id", "v", "l")
    val ro = graft.operators.SimilarityOps
      .layeredNavigabilityAudit(one, "id", "v", "l", 1).collect().head
    assert((ro.getLong(0), ro.getLong(1), ro.getLong(2)) == ((2L, 1L, 0L)))
  }

  test("neymanAllocation: spread-weighted quotas sum exactly to the budget") {
    import spark.implicits._
    // A {0,10}: sd_floor 7, weight 14; B constant: weight 0;
    // C {0,20}: sd_floor 14, weight 28. Budget 10 over W=42:
    // Hamilton gives A 3 (rem 14), C 6 (rem 28) + the leftover -> 7.
    val df = Seq(("A", 0L), ("A", 10L), ("B", 5L), ("B", 5L), ("B", 5L),
      ("C", 0L), ("C", 20L)).toDF("st", "v")
    val out = graft.operators.Mixing.neymanAllocation(df, "st", "v", 10L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("A") == ((2L, 7L, 14L, 3L)))
    assert(out("B") == ((3L, 0L, 0L, 0L)))
    assert(out("C") == ((2L, 14L, 28L, 7L)))
  }

  test("componentCurve: percolation from singletons to one giant component") {
    import spark.implicits._
    // sims: (1,2)=1, (3,4)=.8, (1,4)=(2,4)=.6, rest 0. At .9: one
    // edge, 3 comps; at .7: two edges, 2 comps; at .5: four edges,
    // everything merges.
    val df = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)),
      (3L, Array(0f, 1f)), (4L, Array(0.6f, 0.8f))).toDF("vid", "v")
    val out = graft.operators.SimilarityOps.componentCurve(
        df, "vid", "v", Seq(900000L, 700000L, 500000L))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(900000L) == ((1L, 3L, 2L)))
    assert(out(700000L) == ((2L, 2L, 2L)))
    assert(out(500000L) == ((4L, 1L, 4L)))
  }

  test("componentCurve: ids outside [0, 2^40) raise instead of bleeding across layers") {
    import spark.implicits._
    // the layered fuse encodes node' = layer*2^40 + node; an id at or
    // above 2^40 (or negative) would silently corrupt another
    // threshold's counts — the guard must raise loudly instead
    for (badId <- Seq(1L << 40, -1L)) {
      val df = Seq(
        (badId, Array(1f, 0f)), (2L, Array(1f, 0f))).toDF("vid", "v")
      val e = intercept[Exception] {
        graft.operators.SimilarityOps.componentCurve(
          df, "vid", "v", Seq(500000L)).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("componentCurve")), s"got: ${msgs(e)}")
    }
  }

  test("binaryQuantAudit: Hamming tie-break diverges from cosine where signs agree") {
    import spark.implicits._
    // q1=[1,1,1]: full top-1 is 51 (cos .77 vs 50's .33) but both
    // candidates are Hamming-1 from 0b111, so the id tie-break picks
    // 50 -> overlap 0. q2=[-1,1,1] matches 50 in both -> overlap 1.
    val corpus = Seq(
      (50L, Array(-0.5f, 0.5f, 0.5f)),
      (51L, Array(9f, 9f, -1f))).toDF("c_id", "cv")
    val queries = Seq(
      (1L, Array(1f, 1f, 1f)),
      (2L, Array(-1f, 1f, 1f))).toDF("q_id", "qv")
    val out = graft.operators.SimilarityOps.binaryQuantAudit(
        corpus, "c_id", "cv", queries, "q_id", "qv", dim = 3, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 0L)
    assert(out(2L) == 1L)
  }

  test("withLuhnStats: validates the checksum, counts maximal runs only") {
    import spark.implicits._
    // 4532015112830366 is Luhn-valid (digit sum 50); flipping the
    // check digit breaks it; 13-digit 1234567890123 sums 55 ->
    // invalid; 26-digit and 12-digit runs are not candidates.
    val df = Seq(
      ("pay 4532015112830366 or 1234567890123 now", 2L, 1L),
      ("bad 4532015112830367", 1L, 0L),
      ("11111111111111111111111111 and 123456789012", 0L, 0L),
      ("no digits at all", 0L, 0L)).toDF("text", "ec", "ev")
    val out = graft.operators.TextOps.withLuhnStats(df, "text").collect()
    out.foreach { r =>
      assert(r.getAs[Long]("luhn_candidates") == r.getAs[Long]("ec"), r.getString(0))
      assert(r.getAs[Long]("luhn_valid") == r.getAs[Long]("ev"), r.getString(0))
    }
  }

  test("speciesRichness: Good-Turing mass and both Chao1 branches") {
    import spark.implicits._
    // g: tokens a a b b c -> N=5 V=3 V1=1 V2=2: unseen 1/5, chao1
    // 3 + 1/(2*2) floors to 3. h: x y -> V2=0 branch: 2 + 2*1/2 = 3.
    val df = Seq(("g", "a a b"), ("g", "b c"), ("h", "x y"))
      .toDF("src", "text")
    val out = graft.operators.Relevance.speciesRichness(df, "src", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    assert(out("g") == ((5L, 3L, 1L, 2L, 200000L, 3L)))
    assert(out("h") == ((2L, 2L, 2L, 0L, 1000000L, 3L)))
  }

  test("bigramLmSurprisal: integer-bit scoring, unseen bigrams, no-bigram docs absent") {
    import spark.implicits._
    // train (ids 0, 2): "a b a b" + "x" -> c12(a,b)=2, c12(b,a)=1;
    // c1(a)=2, c1(b)=1; V = |{a,b,x}| = 3 (the bigram-free "x" still
    // counts toward vocabulary). Scored (id 1) "a b c":
    //   (a,b): bitlen(2+3)-bitlen(2+1) = 3-2 = 1
    //   (b,c): bitlen(1+3)-bitlen(0+1) = 3-1 = 2
    // id 3 is a single token -> absent from the output.
    val df = Seq((0L, "a b a b"), (1L, "a b c"), (2L, "x"), (3L, "z"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps.bigramLmSurprisal(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L, 3L, 150L)))
  }

  test("mooreLewisSelect: in-domain-like docs rank first, sign-split average") {
    import spark.implicits._
    // in-domain (id 0) "a b a b a b": ci12(a,b)=3, ci12(b,a)=2,
    // ci1(a)=3, ci1(b)=2, Vi = 2. General pool = candidates
    // (ids 1, 3): "a b" + "c d": cg12(a,b)=1, cg12(c,d)=1,
    // cg1(a)=1, cg1(c)=1, Vg = 4. Δ = bits_in − bits_general:
    //   id 1 (a,b): (bitlen(3+2)−bitlen(3+1)) − (bitlen(1+4)−bitlen(1+1))
    //             = (3−3) − (3−2) = −1 -> delta_x100 = −100
    //   id 3 (c,d): (bitlen(0+2)−bitlen(0+1)) − (3−2) = (2−1) − 1 = 0
    // so the in-domain-like "a b" ranks FIRST (the Moore–Lewis sign).
    val df = Seq((0L, "de", "a b a b a b"), (1L, "en", "a b"),
      (3L, "en", "c d")).toDF("doc_id", "lang", "text")
    val out = graft.operators.TextOps.mooreLewisSelect(
        df, "doc_id", "text", col("lang") === "de", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1L, -100L), (3L, 1L, 0L)))
    // k truncates after the sort
    assert(graft.operators.TextOps.mooreLewisSelect(
        df, "doc_id", "text", col("lang") === "de", k = 1)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("vocabShapley: efficiency axiom and marginal coverage on a 2-bucket fixture") {
    import spark.implicits._
    // bucket 0 = {a, b}, bucket 1 = {b, c}: v({0}) = v({1}) = 2,
    // v(full) = 3 -> phi_x2 = 3 each (sum = 2!·v(full) = 6),
    // marginal_vs_rest = 1 each (the token only that bucket has).
    val df = Seq((0L, "a b"), (1L, "b c")).toDF("p", "text")
    val out = graft.operators.Mixing.vocabShapley(df, "p", "text", k = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0L) == ((3L, 2L, 1L)))
    assert(out(1L) == ((3L, 2L, 1L)))
  }

  test("vocabShapley: out-of-range bucket raises") {
    import spark.implicits._
    val df = Seq((2L, "a")).toDF("p", "text")
    val e = intercept[Exception](
      graft.operators.Mixing.vocabShapley(df, "p", "text", k = 2).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("vocabShapley")))
  }

  test("ipfRaking: one full iteration reproduces the hand-computed ppm weights") {
    import spark.implicits._
    // cells (r0,c0)=3, (r0,c1)=1, (r1,c1)=2; N=6, R=C=2, T=3e6.
    // rows: w_r0 -> 750000, w_r1 -> 1500000; cols: X_c0 = 2.25e6 ->
    // w_r0c0 = 1e6; X_c1 = 3.75e6 -> 600000 / 1200000.
    val df = (Seq.fill(3)(("r0", "c0")) ++ Seq(("r0", "c1")) ++
      Seq.fill(2)(("r1", "c1"))).toDF("r", "c")
    val out = graft.operators.Mixing.ipfRaking(df, "r", "c", iters = 1)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3))).toMap
    assert(out(("r0", "c0")) == ((3L, 1000000L)))
    assert(out(("r0", "c1")) == ((1L, 600000L)))
    assert(out(("r1", "c1")) == ((2L, 1200000L)))
  }

  test("exactJaccardJoin: threshold semantics on a hand fixture") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "d c b a"), (3L, "a b x y"),
      (4L, "z")).toDF("doc_id", "text")
    // t = 1/2: only the identical-set pair (1,2) qualifies
    val strict = graft.operators.DedupOps
      .exactJaccardJoin(df, "doc_id", "text", 1L, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4),
        r.getLong(5)))
    assert(strict.toSeq == Seq((1L, 2L, 4L, 1000000L)))
    // t = 1/3: (1,3) and (2,3) join at exactly 2/6
    val loose = graft.operators.DedupOps
      .exactJaccardJoin(df, "doc_id", "text", 1L, 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(5)))
      .sortBy(x => (x._1, x._2))
    assert(loose.toSeq == Seq((1L, 2L, 1000000L), (1L, 3L, 333333L),
      (2L, 3L, 333333L)))
  }

  test("exactJaccardJoin: prefix filtering is LOSSLESS vs brute force") {
    import spark.implicits._
    // 40 deterministic docs over a 12-token vocabulary — dense enough
    // that many pairs straddle the threshold both ways
    val docs = spark.range(40).selectExpr("id AS doc_id",
      "array_join(array_distinct(transform(sequence(0, 7), " +
        "j -> concat('w', pmod(hash(id * 13 + j), 12)))), ' ') AS text")
      .localCheckpoint()
    val got = graft.operators.DedupOps
      .exactJaccardJoin(docs, "doc_id", "text", 2L, 5L)
      .select("a_id", "b_id", "n_common").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // brute force: token-set intersection over the full cross join
    val tk = docs.select(col("doc_id"),
      expr("array_distinct(split(text, ' '))").as("t"))
    val brute = tk.as("x").join(tk.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("size(array_intersect(x.t, y.t))").cast("long").as("c"),
        expr("size(array_union(x.t, y.t))").cast("long").as("u"))
      .where(expr("5 * c >= 2 * u"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(got == brute, s"prefix filter dropped pairs: got ${got.size}, " +
      s"brute ${brute.size}")
    assert(brute.nonEmpty)
  }

  test("exactJaccardJoinIncremental: hand fixture — cross and batch-internal pairs, corpus pairs silent") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d"), (2L, "d c b a"), (3L, "p q r s"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "a b c e"), (11L, "a b c e"), (12L, "zz yy"))
      .toDF("doc_id", "text")
    // t = 3/5: (1,10)/(1,11)/(2,10)/(2,11) at 3/5 exactly; (10,11)
    // identical; corpus-internal (1,2) must NOT re-emit; doc 12's
    // tokens are corpus-unseen (freq 0 path)
    val got = graft.operators.DedupOps
      .exactJaccardJoinIncremental(corpus, batch, "doc_id", "text", 3L, 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4),
        r.getLong(5), r.getLong(6))).sorted.toSeq
    assert(got == Seq(
      (1L, 10L, 3L, 600000L, 1L), (1L, 11L, 3L, 600000L, 1L),
      (2L, 10L, 3L, 600000L, 1L), (2L, 11L, 3L, 600000L, 1L),
      (10L, 11L, 4L, 1000000L, 2L)))
  }

  test("exactJaccardJoinIncremental: equals the one-shot join restricted to batch-touching pairs") {
    import spark.implicits._
    // 40 dense docs; batch = every 4th — includes docs whose rarest
    // tokens are corpus-unseen, exercising the frozen-order freq-0 path
    val docs = spark.range(40).selectExpr("id AS doc_id",
      "array_join(array_distinct(transform(sequence(0, 7), " +
        "j -> concat('w', pmod(hash(id * 13 + j), 12)))), ' ') AS text")
      .localCheckpoint()
    val corpus = docs.where(col("doc_id") % 4 =!= 0)
    val batch = docs.where(col("doc_id") % 4 === 0)
    val inc = graft.operators.DedupOps
      .exactJaccardJoinIncremental(corpus, batch, "doc_id", "text", 2L, 5L)
      .select("a_id", "b_id", "n_common", "jacc_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val full = graft.operators.DedupOps
      .exactJaccardJoin(docs, "doc_id", "text", 2L, 5L)
      .where(col("a_id") % 4 === 0 || col("b_id") % 4 === 0)
      .select("a_id", "b_id", "n_common", "jacc_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(inc == full, s"incremental diverges: inc ${inc.size} pairs, " +
      s"one-shot ${full.size}")
    assert(full.nonEmpty)
    // new_sides labels: every pair touches the batch; both-kinds present
    val kinds = graft.operators.DedupOps
      .exactJaccardJoinIncremental(corpus, batch, "doc_id", "text", 2L, 5L)
      .groupBy(col("new_sides")).count().collect()
      .map(r => r.getLong(0)).sorted.toSeq
    assert(kinds == Seq(1L, 2L))
  }

  test("horvitzThompson: exhaustive and constant strata are exact; tiny strata NULL SE") {
    import spark.implicits._
    val df = Seq(
      // stratum "full": sample covers the population -> exact total, se 0
      ("full", 1L, 10L), ("full", 2L, 20L), ("full", 3L, 30L),
      // stratum "const": any 2-sample of a constant extrapolates exactly
      ("const", 4L, 7L), ("const", 5L, 7L), ("const", 6L, 7L), ("const", 7L, 7L),
      // stratum "solo": a single row has no variance evidence
      ("solo", 8L, 99L)).toDF("s", "k", "v")
    val out = graft.operators.Mixing
      .horvitzThompson(df, "s", "v", "k", nPerStratum = 5L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getLong(5)))).toMap
    assert(out("full") == ((3L, 3L, 60L, Some(0L))))
    assert(out("solo") == ((1L, 1L, 99L, None)))
    val const2 = graft.operators.Mixing
      .horvitzThompson(df.where(col("s") === "const"), "s", "v", "k",
        nPerStratum = 2L).collect().head
    // est = 4 * 14 div 2 = 28 (the true total), se = 0 (s2num = 0)
    assert((const2.getLong(1), const2.getLong(2), const2.getLong(4),
      const2.getLong(5)) == ((4L, 2L, 28L, 0L)))
  }

  test("horvitzThompson: estimate matches the hand formula on the actual hash sample") {
    import spark.implicits._
    import graft.functions.TextHash.{spark => H, MixA, MixB, P}
    val df = (1L to 40L).map(k => ("s", k, k * 3L)).toDF("s", "k", "v")
    val r = graft.operators.Mixing
      .horvitzThompson(df, "s", "v", "k", nPerStratum = 10L).collect().head
    // independently recompute the deterministic bottom-10 sample
    val picked = df.withColumn("__h", expr(
        s"((${MixA}L * ${H.rollingHash("CAST(k AS STRING)")} + ${MixB}L) % ${P}L)"))
      .orderBy(col("__h"), col("k")).limit(10)
      .agg(sum(col("v"))).head.getLong(0)
    assert(r.getLong(3) == picked)
    assert(r.getLong(4) == 40L * picked / 10L)
  }

  test("ratioEstimator: proportional y/x extrapolates exactly; zero aux NULL") {
    import spark.implicits._
    // y = 3x everywhere: whatever sample the hash picks, the ratio
    // recovers the exact total 3 * X_total
    val df = (1L to 30L).map(k => ("s", k, k * 2L, k * 6L))
      .toDF("s", "k", "x", "y")
    val r = graft.operators.Mixing
      .ratioEstimator(df, "s", "y", "x", "k", nPerStratum = 7L)
      .collect().head
    assert(r.getLong(1) == 30L && r.getLong(2) == 7L)
    assert(r.getLong(6) == 3L * r.getLong(3))
    // all-zero auxiliary: no ratio evidence -> NULL
    val zx = Seq(("z", 1L, 0L, 5L), ("z", 2L, 0L, 7L)).toDF("s", "k", "x", "y")
    assert(graft.operators.Mixing
      .ratioEstimator(zx, "s", "y", "x", "k", nPerStratum = 2L)
      .collect().head.isNullAt(6))
  }

  test("ipfRaking: three iterations pull both margins toward uniform") {
    import spark.implicits._
    val df = (Seq.fill(5)(("r0", "c0")) ++ Seq(("r0", "c1")) ++
      Seq.fill(3)(("r1", "c1")) ++ Seq(("r1", "c0"))).toDF("r", "c")
    val out = graft.operators.Mixing.ipfRaking(df, "r", "c", iters = 3)
    val target = 10L * 1000000L / 2L // N·1e6 / R, R = C = 2
    val colSums = out.groupBy(col("col_key"))
      .agg(sum(expr("n * w_ppm")).as("x")).collect().map(_.getLong(1))
    // the final step scales columns exactly; rows were scaled one
    // half-step earlier and sit within 2% after three iterations
    colSums.foreach(x => assert(math.abs(x - target) <= target / 100,
      s"col margin $x vs $target"))
    val rowSums = out.groupBy(col("row_key"))
      .agg(sum(expr("n * w_ppm")).as("x")).collect().map(_.getLong(1))
    rowSums.foreach(x => assert(math.abs(x - target) <= target / 50,
      s"row margin $x vs $target"))
  }
  test("null keys survive the window-to-aggregate conversions (round-14 review regressions)") {
    import spark.implicits._
    // incrementalDedup: NULL-text rows are TAGGED, never dropped — the
    // sentinel groups them for the in-batch pick, and a NULL text is
    // nobody's corpus duplicate
    val batch = Seq((1L, Option("a")), (2L, Option.empty[String]),
      (3L, Option.empty[String])).toDF("doc_id", "text")
    val corpus = Seq((9L, Option("a")), (8L, Option.empty[String]))
      .toDF("doc_id", "text")
    val r = DedupOps.incrementalDedup(batch, corpus, "doc_id", "text")
    val tags = r.select(col("doc_id"), col("is_dup_in_batch"),
      col("is_dup_in_corpus"), col("accepted")).collect()
      .map(x => x.getLong(0) ->
        ((x.getBoolean(1), x.getBoolean(2), x.getBoolean(3)))).toMap
    assert(tags.size == 3, s"no row may vanish: $tags")
    assert(tags(1L) == ((false, true, false)), s"$tags")
    assert(tags(2L) == ((false, false, true)),
      s"first NULL-text row by id is the in-batch keeper: $tags")
    assert(tags(3L) == ((true, false, false)),
      s"later NULL-text rows are in-batch dups: $tags")
    // bloom variant stays byte-identical
    val rb = DedupOps.bloomIncrementalDedup(batch, corpus, "doc_id", "text")
    assertSameData(rb, r)
    // interleaveSources: NULL source and NULL text rows keep an epoch
    val docs = Seq((Option("s1"), Option("t1"), 1L),
      (Option.empty[String], Option("t2"), 2L),
      (Option("s1"), Option.empty[String], 3L))
      .toDF("source", "text", "doc_id")
    val ep = Mixing.interleaveSources(docs, "source", "text", "doc_id")
      .select(col("doc_id"), col("epoch")).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(ep.size == 3, s"no row may vanish: $ep")
    assert(ep(2L) == 1L, "a NULL source is its own group")
    assert(ep(3L) == 1L && ep(1L) == 2L,
      s"NULL text hashes first within its source (nulls-first): $ep")
    // quantileNormalize: NULL-group rows keep a qnorm
    val qdf = Seq((Option.empty[String], 1.0, 1L), (Option("g"), 2.0, 2L),
      (Option("g"), 3.0, 3L)).toDF("grp", "v", "id")
    assert(RobustStats.quantileNormalize(qdf, "v", "grp", "id")
      .count() == 3L, "NULL group rows must keep their rows")
    // capPerGroup / takeQuotas: NULL text always survives the prune
    val capDf = Seq((Option("t"), "g", 1L), (Option.empty[String], "g", 2L))
      .toDF("text", "source", "doc_id")
    assert(Mixing.capPerGroup(capDf, "text", "source", "doc_id", n = 1,
      prefilterAbove = 1L).collect().map(_.getLong(2)).toSeq == Seq(2L),
      "the NULL-text row ranks first and must not be pruned away")
    val q1 = Seq(("g", 1L)).toDF("source", "quota")
    assert(Mixing.takeQuotas(capDf, "text", "source", "doc_id", q1,
      prefilterAbove = 1L).collect().map(_.getLong(2)).toSeq == Seq(2L))
  }

  test("null/duplicate edges survive the round-15 window-to-aggregate conversions") {
    import spark.implicits._
    // dropNearDuplicates(keepBestBy): max ignores nulls, so a null
    // score loses to any real score (the window's desc-nulls-last);
    // an all-null cluster falls back to the min id
    val txtA = "the quick brown fox jumps over the lazy dog again and again"
    val txtB = "pack my box with five dozen liquor jugs every single day now"
    val df = Seq(
      (0L, txtA, Option(5L)), (1L, txtA, Option.empty[Long]),
      (10L, txtB, Option.empty[Long]), (11L, txtB, Option.empty[Long])
    ).toDF("doc_id", "text", "quality")
    val kept = DedupOps.dropNearDuplicates(df, "doc_id", "text",
      bands = 2, rowsPerBand = 4, minJaccard = 0.3, keepBestBy = Some("quality"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(0L, 10L),
      s"real score beats null; all-null cluster keeps min id: $kept")
    // curate: NULL-text rows ride the sentinel digest group without
    // crashing and (as before the conversion) fall to the token gate
    val nullDocs = Seq((1L, Option("one two three four five six")),
      (2L, Option.empty[String]), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val curated = operators.CurationPipeline.curate(nullDocs, "doc_id", "text",
      minTokens = 3, maxTokens = 100, minStopRatio = 0.0)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(curated == Seq(1L), s"null texts gate out, real doc survives: $curated")
  }

  test("takeQuotas/capPerGroup: duplicate-heavy groups take the exact path (distinct-hash gate)") {
    // 10k copies of ONE text = one hash value. The old row-count gate
    // fired the prune here and dropped the single hash wholesale
    // (bound ≈ hashMod·276/10000, P[hash above] ≈ 97%) — silently
    // returning zero rows. The distinct-hash gate sees 1 ≤ 100 and
    // selects exactly.
    val dup = spark.range(10000).selectExpr("id AS doc_id",
      "'the same viral boilerplate text repeated' AS text", "'g' AS source")
    val got = graft.operators.Mixing.capPerGroup(
      dup, "text", "source", "doc_id", n = 5, prefilterAbove = 100L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(0L, 1L, 2L, 3L, 4L),
      s"equal hashes tie-break to the 5 lowest ids: $got")
    import spark.implicits._
    val quotas = Seq(("g", 5L)).toDF("source", "quota")
    val gotQ = graft.operators.Mixing.takeQuotas(
      dup, "text", "source", "doc_id", quotas, prefilterAbove = 100L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(gotQ == Seq(0L, 1L, 2L, 3L, 4L), s"quota met exactly: $gotQ")
  }
}
