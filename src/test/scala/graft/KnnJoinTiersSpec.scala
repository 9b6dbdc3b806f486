package graft

import graft.operators.{Components, SimilarityOps}
import graft.util.DriverBudget
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `knnJoin`'s driver tier against its distributed tier (budget 0),
  * rows in order and schema for schema, on the scoring and ranking
  * edges; the inputs that must fall back; and its job counts. */
class KnnJoinTiersSpec extends SparkSpec {
  import spark.implicits._

  private def embeddings = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** q41's split: the first 20 vectors query the rest. */
  private def q41(emb: DataFrame): (DataFrame, DataFrame) = (
    emb.where(col("vec_id") >= 20).select(col("vec_id").as("c_id"), col("embedding").as("cv")),
    emb.where(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("embedding").as("qv")))

  private def knn(corpus: DataFrame, queries: DataFrame, k: Int, budget: Long) =
    SimilarityOps.knnJoinImpl(corpus, "c_id", "cv", queries, "q_id", "qv", k, budget)

  /** The default budget must answer with a local relation after one
    * job, budget 0 must run the nested-loop plan, and the two must
    * agree row for row. */
  private def tiersAgree(what: String, corpus: DataFrame, queries: DataFrame, k: Int): Unit = {
    val (driverJobs, driver) = jobsOf {
      val d = knn(corpus, queries, k, DriverBudget.MaxBytes)
      d.collect()
      d
    }
    val driverPlan = driver.queryExecution.executedPlan.toString
    assert(driverJobs <= 1 && driverPlan.contains("LocalTableScan") &&
      !driverPlan.contains("Exchange") && !driverPlan.contains("Join"),
      s"$what: the driver tier must scan once and answer locally ($driverJobs jobs):\n$driverPlan")
    val dist = knn(corpus, queries, k, 0L)
    // (the optimizer folds an empty local input's plan to an empty relation)
    assert(dist.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin") ||
      corpus.isEmpty || queries.isEmpty, s"$what: budget 0 must run the distributed tier")
    assertSameAnswer(what, driver, dist)
  }

  private def f(xs: Float*): Seq[java.lang.Float] = xs.map(java.lang.Float.valueOf)

  private val corpus = Seq((1L, f(1f, 0f)), (2L, f(0f, 1f)), (3L, f(1f, 1f)), (4L, f(-1f, 0.5f)),
    (5L, f(0.25f, -2f))).toDF("c_id", "cv")
  private val queries = Seq((10L, f(1f, 0.1f)), (11L, f(-0.5f, 1f)), (12L, f(0.3f, 0.3f)))
    .toDF("q_id", "qv")

  test("knnJoin: driver tier equals the distributed tier on sf0.001's q41 split") {
    val (c, q) = q41(embeddings.localCheckpoint())
    tiersAgree("q41, k = 3", c, q, 3)
    tiersAgree("q41, k = 25", c, q, 25)
    // the whole table queried against itself
    tiersAgree("self join, k = 5", c, c.select(col("c_id").as("q_id"), col("cv").as("qv")), 5)
  }

  test("knnJoin: driver tier equals the distributed tier on edge inputs") {
    tiersAgree("empty corpus", corpus.where(lit(false)), queries, 2)
    tiersAgree("empty queries", corpus, queries.where(lit(false)), 2)
    tiersAgree("k = 1", corpus, queries, 1)
    tiersAgree("k larger than the corpus", corpus, queries, 9)
    tiersAgree("duplicate query ids", corpus,
      queries.union(Seq((10L, f(0f, 1f)), (12L, f(0.3f, 0.3f))).toDF("q_id", "qv")), 3)
    tiersAgree("a null query id", corpus,
      queries.union(Seq[(Option[Long], Seq[java.lang.Float])]((None, f(1f, 1f)),
        (None, f(-1f, 0f))).toDF("q_id", "qv")), 2)
    // a null vector, a null element and a length mismatch score null,
    // and a null sim ranks ahead of every number
    val odd = Seq[(Long, Seq[java.lang.Float])]((6L, null), (7L, Seq(1f, null)),
      (8L, f(1f, 0f, 0f))).toDF("c_id", "cv")
    tiersAgree("null vector, null element, length mismatch", corpus.union(odd), queries, 4)
    tiersAgree("a null query vector", corpus,
      Seq[(Long, Seq[java.lang.Float])]((1L, null), (2L, f(1f, 0f))).toDF("q_id", "qv"), 3)
    // NaN components score NaN, which ranks first
    val nan = Seq((6L, f(Float.NaN, 1f)), (7L, f(Float.PositiveInfinity, 0f))).toDF("c_id", "cv")
    tiersAgree("NaN and infinite components", corpus.union(nan), queries, 3)
    tiersAgree("a NaN query", corpus, Seq((1L, f(Float.NaN, 0f))).toDF("q_id", "qv"), 2)
    // equal sims rank by c_id. The fold starts at +0.0, so a sim is
    // never -0.0; orthogonal vectors score 0.0, whose ranking key is
    // -0.0, next to a tiny negative sim
    val ties = Seq((9L, f(2f, 0f)), (3L, f(1f, 0f)), (6L, f(0.5f, 0f)), (7L, f(0f, 1f)),
      (5L, f(0f, 3f)), (8L, f(-1e-30f, 1f)), (4L, f(-0f, 2f))).toDF("c_id", "cv")
    tiersAgree("ties by c_id and zero sims", ties, Seq((1L, f(1f, 0f))).toDF("q_id", "qv"), 7)
    tiersAgree("int corpus ids", corpus.withColumn("c_id", col("c_id").cast("int")), queries, 3)
    tiersAgree("string corpus ids", corpus.withColumn("c_id", concat(lit("doc-"), col("c_id"))),
      queries, 3)
    tiersAgree("string query ids", corpus, queries.withColumn("q_id", col("q_id").cast("string")), 2)
    tiersAgree("double query ids, -0.0 and NaN", corpus,
      Seq((0.0, f(1f, 0f)), (-0.0, f(0f, 1f)), (Double.NaN, f(1f, 1f)), (Double.NaN, f(1f, 2f)))
        .toDF("q_id", "qv"), 2)
    val ansi = "spark.sql.ansi.enabled"
    val before = spark.conf.get(ansi)
    spark.conf.set(ansi, "false")
    try {
      tiersAgree("ansi off, null vector", corpus.union(odd), queries, 4)
      // a zero norm divides by zero: a null sim with ANSI off
      tiersAgree("ansi off, a zero vector", corpus.union(Seq((6L, f(0f, 0f))).toDF("c_id", "cv")),
        queries, 6)
    } finally spark.conf.set(ansi, before)
  }

  test("knnJoin: a zero vector under ANSI raises DIVIDE_BY_ZERO on both tiers") {
    val ansi = "spark.sql.ansi.enabled"
    val before = spark.conf.get(ansi)
    spark.conf.set(ansi, "true")
    try {
      val zero = corpus.union(Seq((6L, f(0f, 0f))).toDF("c_id", "cv"))
      def condition(budget: Long): String = {
        val e = intercept[Exception](knn(zero, queries, 2, budget).collect())
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
          case t: SparkThrowable if t.getCondition != null => t.getCondition
        }.getOrElse(fail(s"no Spark error condition in $e"))
      }
      assert(condition(DriverBudget.MaxBytes) == "DIVIDE_BY_ZERO")
      assert(condition(0L) == "DIVIDE_BY_ZERO")
    } finally spark.conf.set(ansi, before)
  }

  test("knnJoin runs the distributed tier over the pair limit or the budget") {
    // 1,030 × 256 = 263,680 scored pairs, over DriverMaxEdges, while
    // the rows fit the budget
    val big = spark.range(1030).select(col("id").as("c_id"),
      array((col("id") % 7 + 1).cast("float"), (col("id") % 11 - 5).cast("float")).as("cv"))
    val many = spark.range(256).select(col("id").as("q_id"),
      array((col("id") % 5 - 2).cast("float"), (col("id") % 3 + 1).cast("float")).as("qv"))
    assert(1030L * 256 > Components.DriverMaxEdges)
    val (jobs, out) = jobsOf {
      val d = knn(big, many, 3, DriverBudget.MaxBytes)
      d.collect()
      d
    }
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    assert(jobs > 1, s"expected the distributed tier after the scan, ran $jobs jobs")
    assertSameAnswer("over the pair limit", out, knn(big, many, 3, 0L))
    // 1,030 corpus rows are over a 4 KiB budget
    val small = knn(big, many.where(col("q_id") < 4), 3, 4096L)
    assert(small.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    assertSameAnswer("over the budget", small, knn(big, many.where(col("q_id") < 4), 3, 0L))
  }

  test("knnJoin plan: the distributed tier broadcasts the queries and partial-aggregates a bottom-k") {
    val (c, q) = q41(embeddings)
    val dist = knn(c, q, 3, 0L).queryExecution.executedPlan.toString
    assert(dist.contains("BroadcastNestedLoopJoin") && dist.contains("partial_graft_bottom_k") &&
      !dist.contains("Window"), s"budget 0 must score a broadcast nested loop into bottom-k heaps:\n$dist")
    val driver = SimilarityOps.knnJoin(c, "c_id", "cv", q, "q_id", "qv", 3)
      .queryExecution.executedPlan.toString
    assert(driver.contains("LocalTableScan") && !driver.contains("Exchange") &&
      !driver.contains("Join"), s"the driver tier answers with a local relation:\n$driver")
  }

  // One job ships both sides as a union of two scans; collecting the
  // local relation runs none.
  test("knnJoin on sf0.001's q41 split runs 1 Spark job") {
    val (c, q) = q41(embeddings)
    val (jobs, rows) = jobsOf(SimilarityOps.knnJoin(c, "c_id", "cv", q, "q_id", "qv", 3).collect())
    assert(rows.length == 60)
    assert(jobs == 1, s"knnJoin and its collect ran $jobs jobs")
  }

  // The distributed tier's count before the driver tier existed.
  test("knnJoin at budget 0 on sf0.001's q41 split: at most 5 jobs") {
    val (c, q) = q41(embeddings)
    val (jobs, rows) = jobsOf(knn(c, q, 3, 0L).collect())
    assert(rows.length == 60)
    assert(jobs <= 5, s"knnJoin at budget 0 ran $jobs jobs")
  }
}
