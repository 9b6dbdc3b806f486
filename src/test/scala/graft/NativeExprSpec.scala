package graft

import graft.functions.{TextHash, VectorSql}
import org.apache.spark.sql.functions._

/** Bitwise parity of the native codegen expressions against the
  * pure-built-in HOF renderings of the same arithmetic (and therefore
  * against the DuckDB oracle, which mirrors the HOF form). */
class NativeExprSpec extends SparkSpec {

  import TextHash.{spark => H}
  import VectorSql.{spark => V}

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
  private def embs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)

  test("native rolling hash == HOF rolling hash on real text") {
    val diff = docs
      .withColumn("a", expr(H.rollingHash("text")))
      .withColumn("b", expr(H.rollingHashHof("text")))
      .where(col("a") =!= col("b") || col("a").isNull =!= col("b").isNull)
    assert(diff.count() == 0)
  }

  test("native shingles3 == HOF shingles3 on real text (incl. <3-token fallback, null tokens, null text)") {
    import spark.implicits._
    val extra = Seq((90001L, "one two"), (90002L, ""), (90003L, "a b c"),
      (90004L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val base = docs.select("doc_id", "text").unionAll(extra)
      // null token array exercises the CASE fallback on size(NULL)
      .withColumn("toks",
        when(col("doc_id") === 90003L, lit(null)).otherwise(expr(H.tokens("text"))))
    val diff = base
      .withColumn("a", expr(H.shingles3("toks", "text")))
      .withColumn("b", expr(H.shingles3Hof("toks", "text")))
      .where(col("a") =!= col("b") || col("a").isNull =!= col("b").isNull)
    assert(diff.count() == 0)
  }

  test("native char grams == HOF substring transform on real text (guarded length >= k)") {
    for (k <- Seq(3, 30)) {
      val diff = docs
        .where(length(col("text")) >= k)
        .withColumn("a", expr(s"graft_char_grams(text, $k)"))
        .withColumn("b", expr(
          s"transform(sequence(1, length(text) - ${k - 1}), i -> substring(text, i, $k))"))
        .where(col("a") =!= col("b") || col("a").isNull =!= col("b").isNull)
      assert(diff.count() == 0, s"k=$k")
    }
    // non-ASCII: code-point (not byte) gram boundaries
    import spark.implicits._
    val uni = Seq("héllo wörld ✓ déjà", "ααββγγ δδ").toDF("text")
    val diff = uni
      .withColumn("a", expr("graft_char_grams(text, 4)"))
      .withColumn("b", expr(
        "transform(sequence(1, length(text) - 3), i -> substring(text, i, 4))"))
      .where(col("a") =!= col("b"))
    assert(diff.count() == 0)
    // below-k contract: empty array, null propagates
    val edge = Seq(("ab", 1), (null.asInstanceOf[String], 2)).toDF("text", "id")
      .withColumn("g", expr("graft_char_grams(text, 3)"))
      .collect().sortBy(_.getInt(1))
    assert(edge(0).getSeq[String](2) == Seq.empty)
    assert(edge(1).isNullAt(2))
  }

  test("native kgram hashes == HOF kgram hashes on real text (guarded length >= k)") {
    val diff = docs
      .where(length(col("text")) >= 5)
      .withColumn("a", expr(H.kgramHashes("text", 5)))
      .withColumn("b", expr(H.kgramHashesHof("text", 5)))
      .where(col("a") =!= col("b") || col("a").isNull =!= col("b").isNull)
    assert(diff.count() == 0)
  }

  test("native hash array + seeded min == HOF pipeline on real shingles") {
    val (a0, b0) = TextHash.Seeds.head
    val base = docs
      .withColumn("toks", expr(H.tokens("text")))
      .withColumn("sh", expr(H.shingles3("toks", "text")))
    val diff = base
      .withColumn("hn", expr(H.hashArray("sh")))
      .withColumn("hh", expr(H.hashArrayHof("sh")))
      .withColumn("mn", expr(H.minhashFromHashes("hn", a0, b0)))
      .withColumn("mh", expr(H.minhashFromHashesHof("hh", a0, b0)))
      .where(col("hn") =!= col("hh") || col("mn") =!= col("mh"))
    assert(diff.count() == 0)
  }

  test("native winnow == HOF winnow chain on real text (incl. short-text fallback)") {
    import spark.implicits._
    // real docs plus forced short-text fallback rows and a null text
    val extra = Seq((90001L, "ab"), (90002L, ""), (90003L, "exactly8"),
      (90004L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val base = docs.select("doc_id", "text").unionAll(extra)
    val native = graft.operators.TextOps.withWinnowedFingerprints(base, "text")
      .select(col("doc_id"), col("fps"))
    val hof = graft.operators.TextOps.withWinnowedFingerprintsHof(base, "text")
      .select(col("doc_id"), col("fps"))
    assertSameData(native, hof)
  }

  test("native BPE apply == HOF BPE apply on real text (bitwise)") {
    import spark.implicits._
    val merges = Seq("t" -> "h", "th" -> "e", "a" -> "t", "e" -> "r",
      "o" -> "r", "a" -> "n", "an" -> "d", "in" -> "g")
    // real docs plus edge rows: empty text, single char, repeated
    // fusable runs, a non-ASCII token, and a null text
    val extra = Seq((90001L, ""), (90002L, "t"), (90003L, "tthhthth atat"),
      (90004L, "naïve café 日本語"), (90005L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val base = docs.select("doc_id", "text").unionAll(extra)
    val native = graft.operators.TextOps.applyBpeMerges(base, "text", merges)
      .select(col("doc_id"), col("pieces"))
    val hof = graft.operators.TextOps.applyBpeMergesHof(base, "text", merges)
      .select(col("doc_id"), col("pieces"))
    assertSameData(native, hof)
  }

  test("native dot product == HOF dot product on real embeddings (bitwise)") {
    val q = embs.limit(1).select(col("embedding").as("q"))
    val diff = embs.crossJoin(broadcast(q))
      .withColumn("a", expr(V.dot("embedding", "q")))
      .withColumn("b", expr(V.dotHof("embedding", "q")))
      // bitwise comparison, not approximate
      .where(col("a") =!= col("b"))
    assert(diff.count() == 0)
  }

  test("optimizer rule rewrites the HOF dot product to the native expression") {
    val q = embs.limit(1).select(col("embedding").as("q"))
    val df = embs.crossJoin(broadcast(q))
      .select(expr(V.dotHof("embedding", "q")).as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_dot_f32"),
      s"expected DotF32 after NativeExprRewrite; plan:\n$optimized")
    // and the rewritten plan still computes the same values
    val native = embs.crossJoin(broadcast(q)).select(expr(V.dot("embedding", "q")).as("d"))
    assertSameData(df, native)
  }

  test("rewrite rule does NOT fire on near-miss patterns (sum of squares)") {
    val q = embs.limit(1).select(col("embedding").as("q"))
    // (x, y) -> x*x — same shape as a dot product but not one
    val sumSq = "aggregate(zip_with(embedding, q, (x, y) -> cast(x as double) * cast(x as double)), cast(0 as double), (acc, v) -> acc + v)"
    val df = embs.crossJoin(broadcast(q)).select(expr(sumSq).as("d"))
    assert(!df.queryExecution.optimizedPlan.toString.contains("graft_dot_f32"),
      "sum-of-squares must not be rewritten to a dot product")
    // value check: equals dot(embedding, embedding), not dot(embedding, q)
    val expected = embs.select(expr(V.dot("embedding", "embedding")).as("d"))
    assertSameData(df, expected)
  }

  test("optimizer rule rewrites the HOF rolling hash to the native expression") {
    val df = docs.select(expr(H.rollingHashHof("text")).as("h"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_rolling_hash"),
      s"expected RollingHash after NativeExprRewrite; plan:\n$optimized")
    assertSameData(df, docs.select(expr(H.rollingHash("text")).as("h")))
  }

  test("native simhash == HOF simhash on real token hashes (16 and 30 bits)") {
    val base = docs
      .withColumn("toks", expr(H.tokens("text")))
      .withColumn("hs", expr(H.tokenHashes("toks", 30)))
      .withColumn("hs16", expr(H.tokenHashes("toks", 16)))
    val diff = base
      .withColumn("n30", expr(H.simhashN("hs", 30)))
      .withColumn("h30", expr(H.simhashNHof("hs", 30)))
      .withColumn("n16", expr(H.simhashN("hs16", 16)))
      .withColumn("h16", expr(H.simhashNHof("hs16", 16)))
      .where(col("n30") =!= col("h30") || col("n16") =!= col("h16"))
    assert(diff.count() == 0)
  }

  test("native wide simhash (graft_simhash64) == HOF simhash at 60 bits") {
    val base = docs
      .withColumn("toks", expr(H.tokens("text")))
      .withColumn("hs", expr(H.tokenHashesWide("toks", 60)))
    val diff = base
      .withColumn("n60", expr(H.simhashWide("hs", 60)))
      .withColumn("h60", expr(H.simhashNHof("hs", 60)))
      .where(col("n60") =!= col("h60"))
    assert(diff.count() == 0)
    // the high half must actually carry bits (wide hash is not just
    // the 30-bit hash zero-extended)
    val hi = base.select(expr("size(filter(hs, h -> h >= 1073741824)) > 0").as("hasHi"))
    assert(hi.where(!col("hasHi")).count() == 0)
  }

  test("null semantics match the HOF forms") {
    import spark.implicits._
    val df = Seq(
      (Some("abc"), Some(Seq("x", "y"))),
      (None, None)
    ).toDF("s", "arr")
    val r = df.select(
      expr(H.rollingHash("s")).as("h"),
      expr(H.hashArray("arr")).as("ha"),
      expr(H.minhashFromHashes(H.hashArray("arr"), 3L, 5L)).as("m")).collect()
    assert(!r(0).isNullAt(0) && !r(0).isNullAt(1) && !r(0).isNullAt(2))
    assert(r(1).isNullAt(0) && r(1).isNullAt(1) && r(1).isNullAt(2))
    // empty array -> null minhash, matching array_min(empty) = null
    val e = spark.sql(
      "SELECT graft_seeded_min(cast(array() as array<bigint>), 3L, 5L) AS m").collect()
    assert(e(0).isNullAt(0))
  }

  test("foldable NULL constant args fail analysis cleanly, never NPE") {
    // every expression that evals a foldable argument during
    // checkInputDataTypes must refuse a NULL constant with a type
    // check failure (AnalysisException), not dereference it
    val cases = Seq(
      "SELECT graft_bpe_apply(array('a'), cast(null as array<string>))",
      "SELECT graft_zvalue(array(1.0d), cast(null as array<double>), 4)",
      "SELECT graft_zvalue(array(1.0d), array(0.5d), cast(null as int))",
      "SELECT graft_pq_encode(array(float(1)), cast(null as array<double>), 1)",
      "SELECT graft_pq_encode(array(float(1)), array(0.5d), cast(null as int))",
      "SELECT graft_simhash(array(1L), cast(null as int))",
      "SELECT graft_simhash64(array(1L), cast(null as int))",
      "SELECT graft_winnow('abc', cast(null as int), 4)",
      "SELECT graft_winnow('abc', 5, cast(null as int))")
    cases.foreach { sql =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(sql).collect())
      assert(e.getMessage.toLowerCase.contains("null") ||
        e.getMessage.contains("DATATYPE_MISMATCH"),
        s"$sql must fail with a clean type-check message, got: ${e.getMessage}")
    }
  }
  test("native adjacent pairs == HOF zip_with/slice pairs (incl. null tokens, short arrays)") {
    import spark.implicits._
    def hof(maxDist: Int): String = (1 to maxDist).map { d =>
      s"zip_with(slice(toks, 1, greatest(size(toks) - $d, 0)), " +
        s"slice(toks, ${d + 1}, greatest(size(toks) - $d, 0)), " +
        "(x, y) -> struct(least(x, y) AS a, greatest(x, y) AS b))"
    }.mkString("concat(", ", ", ")")
    val extra = Seq(
      (90001L, Seq("one")), (90002L, Seq.empty[String]),
      (90003L, Seq("b", "a", "b")), (90004L, null.asInstanceOf[Seq[String]]),
      (90005L, Seq("x", null, "y", null))).toDF("doc_id", "toks")
    val base = docs.select(col("doc_id"), expr(H.tokens("text")).as("toks"))
      .unionByName(extra)
    for (maxDist <- Seq(1, 2, 3)) {
      val diff = base
        .withColumn("a", expr(s"graft_adjacent_pairs(toks, $maxDist)"))
        .withColumn("b", expr(hof(maxDist)))
        .where(col("a") =!= col("b") || col("a").isNull =!= col("b").isNull)
      assert(diff.count() == 0, s"maxDist=$maxDist")
    }
  }

  /** The bigram columns of `TextOps.withRepetitionStats` as they were
    * rendered before `graft_bigram_stats`: interpreted HOFs over the
    * bigram array `bg` of a token array `t`. */
  private def bigramsHof(t: String): String =
    s"CASE WHEN size($t) >= 2 THEN transform(sequence(1, size($t) - 1), " +
      s"bi -> concat(element_at($t, bi), ' ', element_at($t, bi + 1))) " +
      "ELSE CAST(array() AS array<string>) END"
  private val dupBigramsHof = "(size(bg) - size(array_distinct(bg)))"
  private val topBigramHof =
    "CASE WHEN size(bg) = 0 THEN CAST(0 AS BIGINT) " +
      "ELSE CAST(array_max(transform(array_distinct(bg), g -> size(filter(bg, x -> x = g)))) AS BIGINT) END"

  /** `withRepetitionStats` in full, with the HOF bigram columns. */
  private def repetitionStatsHof(df: org.apache.spark.sql.DataFrame, textCol: String) =
    df.withColumn("__toks", expr(H.tokens(textCol)))
      .withColumn("__bg", expr(bigramsHof("__toks")))
      .withColumn("n_toks", size(col("__toks")).cast("bigint"))
      .withColumn("n_dup_toks",
        (size(col("__toks")) - size(array_distinct(col("__toks")))).cast("bigint"))
      .withColumn("n_dup_bigrams", expr(dupBigramsHof.replace("bg", "__bg")).cast("bigint"))
      .withColumn("top_bigram_n", expr(topBigramHof.replace("bg", "__bg")))
      .withColumn("dup_tok_frac",
        when(col("n_toks") === 0, lit(0.0))
          .otherwise(col("n_dup_toks").cast("double") / col("n_toks").cast("double")))
      .withColumn("dup_bigram_frac",
        when(size(col("__bg")) === 0, lit(0.0))
          .otherwise(col("n_dup_bigrams").cast("double") / size(col("__bg")).cast("double")))
      .withColumn("top_bigram_frac",
        when(col("n_toks") === 0, lit(0.0))
          .otherwise(col("top_bigram_n").cast("double") * lit(2.0) / col("n_toks").cast("double")))
      .drop("__toks", "__bg")

  test("native bigram stats == HOF bigram counts (null array and elements, short arrays, joined keys)") {
    import spark.implicits._
    val extra = Seq(
      (90001L, null.asInstanceOf[Seq[String]]), (90002L, Seq("")), (90003L, Seq("one")),
      (90004L, Seq("a", "b", "a", "b", "a")), (90005L, Seq("x", null, "y", "x", null)),
      (90006L, Seq(null, null, null)), (90007L, Seq("a b", "c", "a", "b c"))).toDF("doc_id", "toks")
    val base = docs.select(col("doc_id"), expr(H.tokens("text")).as("toks"))
      .unionByName(extra)
      .withColumn("bg", expr(bigramsHof("toks")))
      .withColumn("k", expr("graft_bigram_stats(toks)"))
    val diff = base.where(
      col("k.n_bigrams") =!= size(col("bg")) ||
        col("k.n_dup_bigrams") =!= expr(dupBigramsHof) ||
        col("k.top_bigram_n") =!= expr(topBigramHof))
    assert(diff.count() == 0)
    val byId = base.where(col("doc_id") >= 90001L).select("doc_id", "k.*").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(byId(90001L) == ((0L, 0L, 0L)) && byId(90002L) == ((0L, 0L, 0L)))
    assert(byId(90003L) == ((0L, 0L, 0L)))
    assert(byId(90004L) == ((4L, 2L, 2L)))
    // null bigrams count once as distinct and never toward the top
    assert(byId(90005L) == ((4L, 2L, 1L)) && byId(90006L) == ((2L, 1L, 0L)))
    // "a b" + "c" and "a" + "b c" are the same key "a b c"
    assert(byId(90007L) == ((3L, 1L, 2L)))
  }

  test("withRepetitionStats == its HOF rendering, ANSI on and off") {
    import spark.implicits._
    val extra = Seq((90001L, null.asInstanceOf[String]), (90002L, ""), (90003L, "one"),
      (90004L, "a b a b a"), (90005L, "x  y  x")).toDF("doc_id", "text")
    val base = docs.select("doc_id", "text").unionAll(extra)
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      for (mode <- Seq("true", "false")) {
        spark.conf.set("spark.sql.ansi.enabled", mode)
        val native = graft.operators.TextOps.withRepetitionStats(base, "text")
        assert(!native.queryExecution.optimizedPlan.flatMap(_.expressions).exists(
          _.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.LambdaFunction])),
          "withRepetitionStats must not run interpreted lambdas")
        assertSameData(native, repetitionStatsHof(base, "text"))
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }
}
