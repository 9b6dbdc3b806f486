package graft

import graft.operators.DedupOps
import graft.util.DriverBudget
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The driver tiers of `dedupSpans` and `prefixJaccardPairs` against
  * their distributed tiers (budget 0), row for row and schema for
  * schema, on the robustness edges; and their job counts. */
class DriverTextTiersSpec extends SparkSpec {

  /** The documents table of one scale factor of the oracle's test data. */
  private def documents(sf: String) = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")

  private def sfDocs = documents("sf0.001")

  /** `run` over `df` at the default budget and at budget 0: the first
    * must be the driver tier's one scan answering with a local
    * relation, the second the distributed plan, and both give the same
    * schema and rows. */
  private def assertTiersAgree(what: String, df: DataFrame, run: Long => DataFrame): Unit = {
    val (driverJobs, driver) = jobsOf {
      val d = run(DriverBudget.MaxBytes)
      d.collect()
      d
    }
    val dist = run(0L)
    val driverPlan = driver.queryExecution.executedPlan.toString
    assert(driverJobs <= 1 && driverPlan.contains("LocalTableScan") &&
      !driverPlan.contains("Exchange") && !driverPlan.contains("Join"),
      s"$what: the driver tier must scan once and answer locally ($driverJobs jobs):\n" +
        driverPlan)
    // (the optimizer folds an empty local input's plan to an empty relation)
    assert(dist.queryExecution.executedPlan.toString.contains("Exchange") || df.isEmpty,
      s"$what: budget 0 must run the distributed tier")
    assertSameAnswer(what, driver, dist, sorted = true)
  }

  private def spansAgree(df: DataFrame, what: String, spanTokens: Int = 2): Unit =
    assertTiersAgree(s"dedupSpans, $what", df, budget =>
      DedupOps.dedupSpansImpl(df, "doc_id", "text", spanTokens, hashKeys = false, budget))

  private def pairsAgree(df: DataFrame, what: String, tNum: Int = 1, tDen: Int = 2): Unit =
    assertTiersAgree(s"prefixJaccardPairs $tNum/$tDen, $what", df, budget =>
      DedupOps.prefixJaccardPairsImpl(df, "doc_id", "text", tNum, tDen, budget))

  private def bothAgree(df: DataFrame, what: String): Unit = {
    spansAgree(df, what)
    pairsAgree(df, what)
  }

  test("dedupSpans and prefixJaccardPairs: driver tier equals the distributed tier on the corpora") {
    val docs = sfDocs.select("doc_id", "text").localCheckpoint()
    spansAgree(docs, "sf0.001", spanTokens = 8)
    pairsAgree(docs, "sf0.001", 9, 10)
    val sf01 = documents("sf0.01").where(col("doc_id") < 600).select("doc_id", "text")
    spansAgree(sf01, "sf0.01 slice", spanTokens = 8)
    pairsAgree(sf01, "sf0.01 slice", 9, 10)
  }

  test("dedupSpans and prefixJaccardPairs: driver tier equals the distributed tier on edge inputs") {
    import spark.implicits._
    val shared = "the same opening words"
    bothAgree(Seq.empty[(Long, String)].toDF("doc_id", "text"), "empty corpus")
    bothAgree(Seq[(Long, Option[String])]((1L, None), (2L, None), (3L, None))
      .toDF("doc_id", "text"), "all-null text")
    // split("", ' ') is one empty token: one empty span, one shared token
    bothAgree(Seq((1L, ""), (2L, ""), (3L, "a"), (4L, " "), (5L, "a  b"))
      .toDF("doc_id", "text"), "empty text and empty tokens")
    bothAgree(Seq((1L, "größe ñandú 東京 タワー"), (2L, "東京 タワー größe x"),
      (3L, "emoji 🙂 🙂 tokens"), (4L, "größe ñandú 東京 タワー"))
      .toDF("doc_id", "text"), "non-ASCII text")
    // strings order by their UTF-8 bytes, not as UTF-16: 'ｚ' (U+FF5A,
    // 0xEF…) sorts before '🙂' (U+1F642, 0xF0…; a 0xD83D surrogate)
    bothAgree(Seq((1L, "ｚ 🙂 a"), (2L, "🙂 ｚ b"), (3L, "a b ｚ 🙂"), (7L, "🙂"), (7L, "ｚ"))
      .toDF("doc_id", "text"), "byte-ordered tokens")
    val nullId = Seq[(Option[Long], String)]((Some(1L), s"$shared tail one"),
      (None, s"$shared other"), (Some(2L), s"$shared tail two"), (None, "lonely null"))
      .toDF("doc_id", "text")
    bothAgree(nullId, "null id")
    // the null-id document owns the shared span and reads 0/0/""
    val spans = DedupOps.dedupSpans(nullId, "doc_id", "text", spanTokens = 2)
      .orderBy(col("doc_id").asc_nulls_first, col("n_spans")).collect()
    assert(spans.take(2).forall(r => r.isNullAt(0) && r.getLong(1) == 0L &&
      r.getLong(2) == 0L && r.getString(3) == ""))
    assert(spans.drop(2).map(_.getString(3)).toSeq == Seq("tail one", "tail two"))
    val dupIds = Seq((1L, "a b c d"), (1L, "c d e f"), (2L, "a b x y"), (2L, "a b c d"),
      (3L, "e f a b"), (3L, "x y"))
      .toDF("doc_id", "text")
    bothAgree(dupIds, "duplicate ids")
    val words = (1 to 12).map(i => (i, (0 until 6).map(j => s"w${(i * j * 7 + j) % 9}")
      .mkString(" ")))
    bothAgree(words.toDF("doc_id", "text"), "int ids")
    bothAgree(words.map { case (i, t) => (i.toShort, t) }.toDF("doc_id", "text"), "short ids")
    bothAgree(words.map { case (i, t) => (Option(i.toLong).filter(_ != 3L), t) }
      .toDF("doc_id", "text"), "nullable long ids")
    val ansi = "spark.sql.ansi.enabled"
    val before = spark.conf.get(ansi)
    spark.conf.set(ansi, "false")
    try {
      bothAgree(dupIds, "ansi off, duplicate ids")
      bothAgree(nullId, "ansi off, null id")
    } finally spark.conf.set(ansi, before)
  }

  test("prefixJaccardPairs: both tiers keep a pair at exactly J = t and drop one just below") {
    import spark.implicits._
    val common7 = (1 to 7).map(i => s"c$i").mkString(" ")
    val common9 = (1 to 9).map(i => s"c$i").mkString(" ")
    // 7/10: |∩| = 7, |∪| = 10; 9/10: |∩| = 9, |∪| = 10; each with a
    // second pair one token further from the threshold
    val docs = Seq(
      (1L, s"$common7 a1 a2"), (2L, s"$common7 b1"), (3L, s"$common7 d1 d2 d3 d4"),
      (11L, s"$common9 e1"), (12L, common9), (13L, s"$common9 f1 f2"))
      .toDF("doc_id", "text")
    pairsAgree(docs, "J = 7/10 boundary", 7, 10)
    pairsAgree(docs, "J = 9/10 boundary", 9, 10)
    def pairs(tNum: Int, tDen: Int) = DedupOps.prefixJaccardPairs(docs, "doc_id", "text", tNum, tDen)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(pairs(7, 10).contains((1L, 2L, 7L, 10L)) && !pairs(7, 10).exists(_._1 == 3L) &&
      !pairs(7, 10).exists(_._2 == 3L))
    assert(pairs(9, 10) == Set((11L, 12L, 9L, 10L)))
  }

  test("prefixJaccardPairs runs the distributed tier when the prefix fan-out outgrows the budget") {
    // 30 copies: 435 distinct pairs, over the 256 a 4 KiB budget holds
    // as (long, long) pairs, while the rows themselves fit
    val copies = spark.range(30).selectExpr("id AS doc_id", "'a b c d' AS text")
    val (jobs, pairs) = jobsOf(DedupOps.prefixJaccardPairsImpl(copies, "doc_id", "text", 1, 2,
      4096L).collect().map(_.toString).toSeq.sorted)
    assert(pairs.size == 435)
    assert(jobs > 2, s"expected the distributed tier after the scan, ran $jobs jobs")
    assert(pairs == DedupOps.prefixJaccardPairsImpl(copies, "doc_id", "text", 1, 2, 0L)
      .collect().map(_.toString).toSeq.sorted)
  }

  // sf0.001's clusters of near-identical documents share whole prefixes:
  // at 7/10 the prefix lists probe 666,050 pairs, over the 262,144 the
  // default budget holds, but only 123,811 of them are distinct
  test("prefixJaccardPairs on sf0.001 at 7/10 counts distinct candidates and stays on the driver") {
    val docs = sfDocs.select("doc_id", "text").localCheckpoint()
    val (jobs, _) = jobsOf(DedupOps.prefixJaccardPairs(docs, "doc_id", "text", 7, 10).collect())
    assert(jobs == 1, s"prefixJaccardPairs(7/10) and its collect ran $jobs jobs")
    pairsAgree(docs, "sf0.001", 7, 10)
  }

  // The driver tier's one scan; collecting its local relation runs no
  // job. The distributed tier, pinned below, runs 6 jobs each.
  test("dedupSpans and prefixJaccardPairs on sf0.001 run 1 Spark job each") {
    val docs = sfDocs.localCheckpoint()
    val (spanJobs, spans) = jobsOf(DedupOps.dedupSpans(docs, "doc_id", "text", 8).collect())
    assert(spans.length == 500)
    assert(spanJobs == 1, s"dedupSpans and its collect ran $spanJobs jobs")
    val (pairJobs, pairs) = jobsOf(
      DedupOps.prefixJaccardPairs(docs, "doc_id", "text", 9, 10).collect())
    assert(pairs.nonEmpty)
    assert(pairJobs == 1, s"prefixJaccardPairs and its collect ran $pairJobs jobs")
  }

  test("dedupSpans and prefixJaccardPairs at budget 0 on sf0.001: at most 6 jobs each") {
    val docs = sfDocs.localCheckpoint()
    val (spanJobs, _) = jobsOf(
      DedupOps.dedupSpansImpl(docs, "doc_id", "text", 8, hashKeys = false, 0L).collect())
    assert(spanJobs <= 6, s"dedupSpans at budget 0 ran $spanJobs jobs")
    val (pairJobs, _) = jobsOf(
      DedupOps.prefixJaccardPairsImpl(docs, "doc_id", "text", 9, 10, 0L).collect())
    assert(pairJobs <= 6, s"prefixJaccardPairs at budget 0 ran $pairJobs jobs")
  }
}
