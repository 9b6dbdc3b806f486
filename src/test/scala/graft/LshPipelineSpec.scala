package graft

import graft.functions.TextHash.{spark => H}
import graft.operators.{DedupOps, TextOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The shared LSH pair pipeline against its per-band / exploded-join
  * renderings: the multi-band `(band, key)` candidate join must give
  * exactly the per-band union (salted sub-block splits included), and
  * the array-set shingle stats exactly the exploded two-way join, on
  * every public operator that reads them. */
class LshPipelineSpec extends SparkSpec {

  /** The sf0.001 documents fixture (the `SparkEntry.entry` corpus). */
  private def sfDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def sf = sfDocs.select("doc_id", "text")

  /** sf0.001 documents plus edge documents: NULL texts (shingle set
    * `[NULL]`, band keys `""` — they collide but must never pair),
    * empty and whitespace-only texts, texts under 3 tokens, and
    * verbatim copies of corpus documents. */
  private def edgeCorpus: DataFrame = {
    import spark.implicits._
    val edges = Seq[(Long, Option[String])](
      (9001L, None), (9002L, None), (9003L, None),
      (9010L, Some("")), (9011L, Some("")),
      (9020L, Some("   ")), (9021L, Some("   ")),
      (9030L, Some("short text")), (9031L, Some("short text")), (9032L, Some("solo")),
      (9040L, Some("two")), (9041L, Some("two words")))
      .toDF("doc_id", "text")
    val copies = sf.where(col("doc_id") < 20).select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    sf.unionByName(edges).unionByName(copies).localCheckpoint()
  }

  /** The per-band candidate rendering: one window, one self-join per
    * band, sub-blocks salted by the band literal, unioned. */
  private def perBandCandidates(df: DataFrame, bands: Int, rowsPerBand: Int,
                                maxBucketSize: Int): DataFrame = {
    val sigs = DedupOps.signatures(df, "doc_id", "text", bands, rowsPerBand)
    (0 until bands).map { b =>
      val banded = sigs.select(col("doc_id").as("id"), col(s"band$b").as("bk"))
        .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("bk"))))
        .withColumn("__sub", pmod(xxhash64(col("id"), lit(b)),
          expr(s"(__bn + ${maxBucketSize - 1}) div $maxBucketSize")))
      banded.select(col("id").as("a_id"), col("bk"), col("__sub"))
        .join(banded.select(col("id").as("b_id"), col("bk"), col("__sub")), Seq("bk", "__sub"))
        .where(col("a_id") < col("b_id"))
        .select("a_id", "b_id")
    }.reduce(_ unionAll _).distinct()
  }

  /** The exploded-join shingle stats: one row per (doc, distinct
    * shingle), the pair join on equal shingles, a count per pair, and
    * per-doc set sizes joined on each side. */
  private def explodedStats(df: DataFrame, pairs: DataFrame): DataFrame = {
    val candIds = pairs.select(col("a_id").as("__cand_id"))
      .unionAll(pairs.select(col("b_id").as("__cand_id"))).distinct()
    val pruned = df.join(candIds, col("doc_id") === col("__cand_id"), "left_semi")
    val sh = TextOps.withTokens(pruned, "text", "__toks")
      .select(col("doc_id").as("id"), explode(expr(H.shingles3("__toks", "text"))).as("sh"))
      .distinct()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    pairs
      .join(sh.select(col("id").as("a_id"), col("sh")), "a_id")
      .join(sh.select(col("id").as("b_id"), col("sh").as("sh2")), "b_id")
      .where(col("sh") === col("sh2"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("id").as("a_id"), col("n_sh").as("n_a")), "a_id")
      .join(sizes.select(col("id").as("b_id"), col("n_sh").as("n_b")), "b_id")
      .select("a_id", "b_id", "n_common", "n_a", "n_b")
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("multi-band candidate join equals the per-band union, salted sub-block splits included") {
    val boiler = spark.range(600).selectExpr("id AS doc_id",
      "'the same boilerplate wrapper text repeated verbatim' AS text")
    for (cap <- Seq(2, 64); bands <- Seq(2, 4)) {
      val got = pairSet(DedupOps.lshCandidatePairs(boiler, "doc_id", "text", bands, 2, cap))
      val want = pairSet(perBandCandidates(boiler, bands, 2, cap))
      assert(got.nonEmpty && got.size < 179700, s"cap $cap must split the hot bucket: ${got.size}")
      assert(got == want, s"cap $cap, $bands bands: ${got.size} pairs vs ${want.size} per band")
    }
    val docs = edgeCorpus
    val got = pairSet(DedupOps.lshCandidatePairs(docs, "doc_id", "text", 2, 4))
    assert(got == pairSet(perBandCandidates(docs, 2, 4, DedupOps.DefaultMaxBucketSize)))
    assert(got.contains((9001L, 9002L)), "NULL texts share the empty band key and collide")
  }

  test("array-set shingle stats equal the exploded join on every public pair operator") {
    val docs = edgeCorpus
    val cands = DedupOps.lshCandidatePairs(docs, "doc_id", "text", 2, 4)
    val ref = explodedStats(docs, cands).localCheckpoint()
    assertSameAnswer("pairShingleStats",
      DedupOps.pairShingleStats(docs, "doc_id", "text", cands)
        .select("a_id", "b_id", "n_common", "n_a", "n_b").orderBy("a_id", "b_id"),
      ref.orderBy("a_id", "b_id"))
    val ids = pairSet(ref).flatMap { case (a, b) => Seq(a, b) }
    assert(!ids.exists(i => i >= 9001L && i <= 9003L), "a NULL text never pairs")
    assert(pairSet(ref).contains((9010L, 9011L)) && pairSet(ref).contains((9020L, 9021L)) &&
      pairSet(ref).contains((9030L, 9031L)) && pairSet(ref).contains((0L, 10000L)),
      "empty, whitespace, short and verbatim copies pair")

    val union = col("n_a") + col("n_b") - col("n_common")
    assertSameAnswer("lshNearDupPairs",
      DedupOps.lshNearDupPairs(docs, "doc_id", "text", minJaccard = 0.2),
      ref.withColumn("jaccard", col("n_common").cast("double") / union)
        .where(col("jaccard") >= 0.2).select("a_id", "b_id", "jaccard").orderBy("a_id", "b_id"))
    assertSameAnswer("containmentPairs",
      DedupOps.containmentPairs(docs, "doc_id", "text", minContainment = 0.3),
      ref.select(col("a_id"), col("b_id"),
        (col("n_common").cast("double") / col("n_a")).as("containment_a"),
        (col("n_common").cast("double") / col("n_b")).as("containment_b"))
        .where(col("containment_a") >= 0.3 || col("containment_b") >= 0.3)
        .orderBy("a_id", "b_id"))
    assertSameAnswer("contrastivePairs",
      DedupOps.contrastivePairs(docs, "doc_id", "text"),
      ref.withColumn("label", when(col("n_common") * 2 >= union, lit("pos"))
        .when(col("n_common") * 5 <= union, lit("neg")))
        .where(col("label").isNotNull).orderBy("a_id", "b_id"))
    val sigs = DedupOps.signatures(docs, "doc_id", "text", 2, 4)
    def side(id: String, p: String) =
      sigs.select(col("doc_id").as(id) +: (0 until 8).map(i => col(s"m$i").as(s"$p$i")): _*)
    assertSameAnswer("minhashCalibration",
      DedupOps.minhashCalibration(docs, "doc_id", "text"),
      ref.join(side("a_id", "x"), "a_id").join(side("b_id", "y"), "b_id")
        .withColumn("n_matched",
          (0 until 8).map(i => when(col(s"x$i") === col(s"y$i"), 1).otherwise(0)).reduce(_ + _))
        .groupBy("n_matched")
        .agg(count(lit(1)).cast("bigint").as("n_pairs"),
          sum(when(col("n_common") * 2 >= union, 1L).otherwise(0L)).cast("bigint").as("n_true"))
        .withColumn("precision_ppm", expr("CAST((1000000 * n_true) div n_pairs AS BIGINT)"))
        .orderBy("n_matched"))
    val dropped = ref.where(col("n_common") * 3 >= col("n_a") * 2 && (col("n_a") < col("n_b") ||
        (col("n_a") === col("n_b") && col("a_id") > col("b_id")))).select(col("a_id").as("id"))
      .unionAll(ref.where(col("n_common") * 3 >= col("n_b") * 2 && (col("n_b") < col("n_a") ||
        (col("n_a") === col("n_b") && col("b_id") > col("a_id")))).select(col("b_id").as("id")))
      .collect().map(_.getLong(0)).toSet
    val kept = DedupOps.dropContained(docs, "doc_id", "text").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dropped.nonEmpty && kept == all -- dropped, "dropContained")
  }

  test("a candidate pair with no common shingle stays absent") {
    import spark.implicits._
    // same 5-char prefix block, disjoint 3-shingle sets
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta omega sigma"),
      (3L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a_id", "b_id")
    val got = DedupOps.pairShingleStats(docs, "doc_id", "text", pairs)
      .select("a_id", "b_id", "n_common", "n_a", "n_b").orderBy("a_id", "b_id").collect().toSeq
    assert(got == Seq(Row(1L, 3L, 2L, 2L, 2L)), s"only the sharing pair survives: $got")
    assert(got == explodedStats(docs, pairs).orderBy("a_id", "b_id").collect().toSeq)
    val blocked = DedupOps.blockedJaccardPairs(docs, "doc_id", "text", prefixLen = 5,
      minJaccard = 0.0).collect().toSeq
    assert(blocked == Seq(Row(1L, 3L, 1.0)), s"a zero-Jaccard block pair is not verified: $blocked")
  }

  test("keepBestBy's chained-aggregate pick equals the join-based max-score/min-id pick") {
    val base = sfDocs
    // copies make 3-member clusters; a coarse score with nulls makes ties
    val docs = (0 to 2).map(k => base.where(col("doc_id") < 100 || lit(k == 0))
        .withColumn("doc_id", col("doc_id") + k * 10000L))
      .reduce(_ unionByName _)
      .withColumn("q", when(col("doc_id") % 5 =!= 0, col("n_chars") % 3))
      .localCheckpoint()
    val pairs = DedupOps.lshNearDupPairs(docs, "doc_id", "text", 2, 4, 0.2)
    val members = graft.operators.Components.connectedComponents(pairs, "a_id", "b_id")
      .join(docs.select(col("doc_id").as("id"), col("q")), Seq("id"))
    val keep = members.groupBy("cluster_id").agg(max("q").as("__best"))
      .join(members, Seq("cluster_id")).where(col("q") <=> col("__best"))
      .groupBy("cluster_id").agg(min("id").as("__keep_id"))
    val dropped = members.join(keep, Seq("cluster_id")).where(!(col("id") <=> col("__keep_id")))
      .collect().map(_.getAs[Long]("id")).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = DedupOps.dropNearDuplicates(docs, "doc_id", "text", 2, 4, 0.2, keepBestBy = Some("q"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dropped.size >= 200 && kept == all -- dropped)
  }

  /** Both tiers of `dropNearDuplicates` on `df`, row for row: the
    * driver tier (the default budget) against budget 0, the
    * distributed pipeline. Each side must have taken its own tier:
    * the driver tier runs its one scan and answers with a filter, the
    * distributed one runs at least the candidate checkpoint and the
    * clustering's scan. */
  private def assertTiersAgree(df: DataFrame, what: String, idCol: String = "doc_id",
                               keepBestBy: Option[String] = None, minJaccard: Double = 0.3,
                               maxBucketSize: Int = DedupOps.DefaultMaxBucketSize): Unit = {
    def run(budget: Long) = DedupOps.dropNearDuplicatesImpl(df, idCol, "text", 2, 4,
      minJaccard, keepBestBy, budget, maxBucketSize)
    val (driverJobs, driver) = jobsOf(run(graft.util.DriverBudget.MaxBytes))
    val (distJobs, dist) = jobsOf(run(0L))
    val driverPlan = driver.queryExecution.executedPlan.toString
    assert(driverJobs == 1 && !driverPlan.contains("Join") && !driverPlan.contains("Exchange"),
      s"$what: the driver tier must scan once and answer with a filter ($driverJobs jobs):\n" +
        driverPlan)
    // (an empty corpus leaves the distributed tier a single job)
    assert(distJobs >= 2 || df.isEmpty,
      s"$what: budget 0 must run the distributed tier ($distJobs jobs)")
    assertSameAnswer(what, driver, dist, sorted = true)
  }

  test("dropNearDuplicates' driver tier equals the distributed tier on the corpora") {
    val docs = sfDocs.localCheckpoint()
    assertTiersAgree(docs, "sf0.001", minJaccard = 0.2)
    assertTiersAgree(docs, "sf0.001 keepBestBy", keepBestBy = Some("n_chars"), minJaccard = 0.2)
    assertTiersAgree(edgeCorpus, "edge corpus")
    // a bucket cap of 2 sub-blocks most buckets: the salted split must agree
    assertTiersAgree(edgeCorpus, "edge corpus, cap 2", maxBucketSize = 2)
    val boiler = spark.range(40).selectExpr("id AS doc_id",
      "'the same boilerplate wrapper text repeated verbatim' AS text", "id % 3 AS q")
    assertTiersAgree(boiler, "boilerplate, cap 8", keepBestBy = Some("q"), maxBucketSize = 8)
  }

  test("dropNearDuplicates' driver tier equals the distributed tier on edge inputs") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "pack my box with five dozen liquor jugs every single day now"
    val c = "sphinx of black quartz judge my vow and then judge it once more"
    assertTiersAgree(Seq.empty[(Long, String)].toDF("doc_id", "text"), "empty corpus")
    assertTiersAgree(Seq[(Long, Option[String])]((1L, None), (2L, None), (3L, None))
      .toDF("doc_id", "text"), "all-null text")
    // a null id never pairs, and the anti-join keeps it
    val nullId = Seq[(Option[Long], String)]((None, a), (Some(1L), a), (Some(2L), a),
      (None, b)).toDF("doc_id", "text")
    assertTiersAgree(nullId, "null id")
    assert(DedupOps.dropNearDuplicates(nullId, "doc_id", "text", minJaccard = 0.3)
      .where(col("doc_id").isNull).count() == 2, "null-id rows survive")
    val scored = Seq[(Long, String, Option[Long])](
      (0L, a, None), (1L, a, None), (2L, a, None),        // an all-null-score cluster
      (10L, b, Some(7L)), (11L, b, Some(9L)), (12L, b, Some(9L)), (13L, b, None), // a tie
      (20L, c, Some(1L)), (21L, "unrelated words entirely on their own here", Some(3L)))
      .toDF("doc_id", "text", "q")
    assertTiersAgree(scored, "null scores and ties", keepBestBy = Some("q"))
    assertTiersAgree(scored.withColumnRenamed("q", "id"), "score named id", keepBestBy = Some("id"))
    assertTiersAgree(scored.withColumnRenamed("q", "cluster_id"), "score named cluster_id",
      keepBestBy = Some("cluster_id"))
    assertTiersAgree(scored.drop("q").withColumnRenamed("doc_id", "id"), "the id as the score",
      idCol = "id", keepBestBy = Some("id"))
    // NaN is the greatest double and equals itself; -0.0 groups with 0.0
    val doubles = Seq[(Int, String, Option[Double])](
      (0, a, Some(Double.NaN)), (1, a, Some(5.0)), (2, a, Some(Double.NaN)),
      (10, b, Some(-0.0)), (11, b, Some(0.0)), (12, b, None),
      (20, c, Some(-1.0)), (21, c, Some(-0.0)))
      .toDF("doc_id", "text", "q")
    assertTiersAgree(doubles, "int ids, NaN and -0.0 scores", keepBestBy = Some("q"))
    assertTiersAgree(doubles.withColumn("q", col("q").cast("string")), "string scores",
      keepBestBy = Some("q"))
    // an id on several rows competes with each of its rows
    val dupIds = Seq((1L, a, 5L), (1L, b, 1L), (2L, a, 3L), (3L, b, 4L), (4L, b, 4L))
      .toDF("doc_id", "text", "q")
    assertTiersAgree(dupIds, "duplicate ids", keepBestBy = Some("q"))
    assertTiersAgree(dupIds, "duplicate ids, min id")
    val ansi = "spark.sql.ansi.enabled"
    val before = spark.conf.get(ansi)
    spark.conf.set(ansi, "false")
    try {
      assertTiersAgree(scored, "ansi off", keepBestBy = Some("q"))
      assertTiersAgree(nullId, "ansi off, null id")
    } finally spark.conf.set(ansi, before)
  }

  test("dropNearDuplicates runs the distributed tier when the candidate pairs outgrow the budget") {
    // 30 copies: 435 candidate pairs, over the 256 a 4 KiB budget holds
    // as (long, long) pairs, while the rows themselves fit
    val copies = spark.range(30).selectExpr("id AS doc_id",
      "'the same boilerplate wrapper text repeated verbatim' AS text")
    val (jobs, kept) = jobsOf(DedupOps.dropNearDuplicatesImpl(copies, "doc_id", "text", 2, 4,
      0.3, None, 4096L).collect().map(_.getLong(0)).toSeq)
    assert(kept == Seq(0L))
    assert(jobs > 2, s"expected the distributed tier after the scan, ran $jobs jobs")
  }

  // The driver tier's one scan plus the collect of its result. The
  // per-band pipeline with the join-based pick ran 28 jobs, the
  // distributed tier 16–17.
  test("dropNearDuplicates(keepBestBy) on sf0.001 runs 2 Spark jobs") {
    val docs = sfDocs.localCheckpoint()
    val (jobs, kept) = jobsOf(DedupOps.dropNearDuplicates(docs, "doc_id", "text",
      bands = 2, rowsPerBand = 4, minJaccard = 0.2, keepBestBy = Some("n_chars")).collect())
    assert(kept.nonEmpty)
    assert(jobs == 2, s"dropNearDuplicates(keepBestBy) and its collect ran $jobs jobs")
  }

  // 16 or 17 jobs, as AQE folds a stage into a concurrently submitted
  // job or not; the per-band pipeline with the join-based pick ran 28.
  test("dropNearDuplicates(keepBestBy) at budget 0: at most 17 jobs") {
    val docs = sfDocs.localCheckpoint()
    val (jobs, kept) = jobsOf(DedupOps.dropNearDuplicatesImpl(docs, "doc_id", "text",
      2, 4, 0.2, Some("n_chars"), 0L).collect())
    assert(kept.nonEmpty)
    assert(jobs <= 17, s"dropNearDuplicates(keepBestBy) at budget 0 ran $jobs jobs")
  }
}
