package layerbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import graft.functions.TextHash.{spark => H}
import graft.functions.VectorSql.{spark => V}
import graft.operators.{DedupOps, Scoring, SimilarityOps, TextOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Curation {
  val Docs = 1200
  /** Tokens per document: MinTokens plus up to TokenSpread more. */
  val MinTokens = 8
  val TokenSpread = 17
  val Vocab = 4000
  /** Share of documents planted as a near-copy of an earlier one. */
  val NearDupRate = 0.08
  val BoilerplateRate = 0.05
  val PiiRate = 0.05
  val Dim = 32
  val Queries = 16
  val K = 10
  /** prefixJaccardPairs threshold, as tNum / tDen. */
  val TNum = 7
  val TDen = 10
  /** The native-expression pass (functions layer) runs over this many
    * copies of the corpus. */
  val FunctionCopies = 8
  /** dropNearDuplicates: MinHash bands and rows, verified Jaccard. */
  val Bands = 2
  val RowsPerBand = 4
  val MinJaccard = 0.2
  /** The chain's repetition and C4 gates and its span length. */
  val MaxDupBigramFrac = 0.2
  val MaxTopBigramFrac = 0.3
  val C4MinWords = 5
  val SpanTokens = 8

  val boilerplate = "click here to subscribe"

  def prepare(spark: SparkSession, seed: Long, dir: File): Curation = {
    val rnd = new Random(seed)
    val vocab = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < Vocab)
        seen += Iterator.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
      seen.toArray
    }
    // Zipf(1) token ranks
    val cdf = {
      val w = (1 to Vocab).map(1.0 / _)
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last).toArray
    }
    def token(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      vocab(if (i >= 0) i else math.min(-i - 1, Vocab - 1))
    }
    val n = Docs
    val toks = new Array[Array[String]](n)
    val planted = mutable.ArrayBuffer.empty[(Long, Long)]
    val copies = mutable.Set.empty[Int]
    var boiler = 0
    (0 until n).foreach { i =>
      if (i > 10 && rnd.nextDouble() < NearDupRate) {
        var j = rnd.nextInt(i)
        while (copies.contains(j)) j = rnd.nextInt(i)
        val t = toks(j).clone()
        t(rnd.nextInt(t.length)) = token()
        toks(i) = t
        planted += ((j.toLong, i.toLong))
        copies += i
      } else {
        val t = Array.fill(MinTokens + rnd.nextInt(TokenSpread))(token())
        toks(i) = if (rnd.nextDouble() < BoilerplateRate) {
          boiler += 1
          t ++ Array.fill(3)(boilerplate.split(' ')).flatten
        } else t
      }
    }
    // Vocabulary tokens are lowercase letters, so planted strings are
    // the only PII in the corpus.
    val docs = toks.indices.map { i =>
      val s = toks(i).mkString(" ")
      val pii =
        if (copies.contains(i) || rnd.nextDouble() >= PiiRate) None
        else Some(rnd.nextInt(3) match {
          case 0 => Pii("email", s"user$i@example.com")
          case 1 => Pii("phone", s"+1555${1000000 + rnd.nextInt(8999999)}")
          case _ => Pii("ipv4", s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}")
        })
      val text = pii.fold(s)(p => s"$s contact ${p.raw}")
      Doc(i.toLong, text, s"src${i % 6}", pii)
    }
    val emb = Array.fill(n)(Array.fill(Dim)(rnd.nextGaussian().toFloat))
    val queries = Array.fill(Queries)(Array.fill(Dim)(rnd.nextGaussian().toFloat))

    dir.mkdirs()
    val docsPath = new File(dir, "docs.parquet").getPath
    val embPath = new File(dir, "emb.parquet").getPath
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docRows = docs.map(d => Row(d.id, d.text, d.source, d.nChars))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 4), docSchema)
      .write.parquet(docsPath)
    val embSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    spark.createDataFrame(spark.sparkContext.parallelize(
      emb.indices.map(i => Row(i.toLong, emb(i).toSeq)), 4), embSchema)
      .write.parquet(embPath)

    val inputs = Map[String, Any](
      "rows" -> n, "vocab" -> Vocab, "token_law" -> "zipf(1)",
      "mean_tokens" -> docs.map(d => CurationReference.tokens(d.text).length).sum.toDouble / n,
      "near_dup_rate" -> planted.size.toDouble / n, "near_dup_pairs" -> planted.size,
      "boilerplate_docs" -> boiler, "pii_docs" -> docs.count(_.pii.isDefined),
      "embedding_dim" -> Dim, "queries" -> Queries, "k" -> K,
      "input_file_bytes" -> Storage.sizes(dir).values.sum)
    new Curation(spark, docs, planted.toSeq, emb, queries, docsPath, embPath, inputs)
  }

  def jaccardParts(a: Set[String], b: Set[String]): (Long, Long) = {
    val inter = a.count(b.contains).toLong
    (inter, a.size + b.size - inter)
  }

  /** Cosine as the program computes it: sequential double dot products. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    def dot(x: Array[Float], y: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i).toDouble * y(i).toDouble; i += 1 }
      s
    }
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }
}

final class Curation(spark: SparkSession, docs: IndexedSeq[Doc], planted: Seq[(Long, Long)],
                     emb: Array[Array[Float]], queries: Array[Array[Float]],
                     docsPath: String, embPath: String,
                     val inputs: Map[String, Any]) extends Workload {
  import Curation._
  import CurationReference._

  def inputRows: Long = docs.size.toLong

  /** Two iterations, so the run's median is the mean of a cold and a
    * warmer one: one alone spreads too much between runs. */
  override def minIters: Int = 2

  private val sets: IndexedSeq[Set[String]] = docs.map(d => tokens(d.text).toSet)

  private val queryDf: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(queries.indices.map(q => Row(q.toLong, queries(q).toSeq)), 1),
    StructType(Seq(StructField("q_id", LongType),
      StructField("q_vec", ArrayType(FloatType, containsNull = false)))))

  /** Exact top-K per query, computed on the driver. */
  private lazy val expectedKnn: Map[Long, Seq[Long]] = queries.indices.map { q =>
    q.toLong -> emb.indices.map(i => (-cosine(emb(i), queries(q)), i.toLong))
      .sorted.take(K).map(_._2)
  }.toMap

  /** Every pair whose exact distinct-token Jaccard reaches TNum/TDen. */
  private lazy val expectedPairs: Set[(Long, Long, Long, Long)] = jaccardPairs(sets, TNum, TDen)

  /** Planted pairs whose exact distinct-token Jaccard reaches TNum/TDen. */
  private lazy val expectedPlanted: Set[(Long, Long)] = planted.filter { case (a, b) =>
    val (i, u) = jaccardParts(sets(a.toInt), sets(b.toInt))
    TDen * i >= TNum * u
  }.toSet

  /** Each chain step's expected output rows, in the columns `step`
    * compares, from the driver-side renderings. */
  private lazy val expectedChain: Map[String, Set[Seq[Any]]] = {
    val unique = dropNearDuplicates(docs, Bands, RowsPerBand, MinJaccard)
    val kept = docs.filter(d => unique.contains(d.id))
    val gated = kept.filter(d => passesRepetition(d.text, MaxDupBigramFrac, MaxTopBigramFrac))
    val c4 = gated.filter(d => passesC4(d.text, C4MinWords))
    val spans = dedupSpans(c4.map(d => d.id -> d.cleanText), SpanTokens)
    val keptSpans = spans.map(s => s._1 -> s._3).toMap
    val scores = c4.groupBy(_.source).map { case (src, ds) =>
      Seq[Any](src, ds.size.toLong, ds.map(d => keptSpans(d.id)).sum, ds.count(_.pii.isDefined).toLong,
        ds.map(d => rollingHash(d.cleanText) % 1000).sum)
    }
    def piiCount(d: Doc, c: String): Long = if (d.pii.exists(_.category == c)) 1L else 0L
    Map(
      "drop_near_duplicates" -> kept.map(d => Seq[Any](d.id, d.text, d.source, d.nChars)).toSet,
      "repetition_stats" -> gated.map(d => Seq[Any](d.id, d.text, d.source)).toSet,
      "c4_flags" -> c4.map(d => Seq[Any](d.id, d.text, d.source)).toSet,
      "redact_pii" -> c4.map(d => Seq[Any](d.id, d.text, d.source, d.cleanText,
        piiCount(d, "email"), piiCount(d, "ipv4"), 0L, piiCount(d, "phone"))).toSet,
      "dedup_spans" -> spans.map(s => Seq[Any](s._1, s._2, s._3, s._4)).toSet,
      "model_score" -> scores.toSet)
  }

  override def expectedOutputs: Map[String, Any] =
    expectedChain.map { case (step, rows) => s"${step}_rows" -> rows.size } ++ Map(
      "planted_pairs_reaching_threshold" -> expectedPlanted.size,
      "pairs_reaching_threshold" -> expectedPairs.size)

  def iteration(ctx: Ctx): Unit = {
    val docsDf = spark.read.parquet(docsPath)

    // The SparkEntry.entry text chain, each step's output materialised
    // once so every operator is timed on its own.
    val unique = step(ctx, "drop_near_duplicates", Seq("doc_id", "text", "source", "n_chars"))(
      DedupOps.dropNearDuplicates(docsDf, "doc_id", "text", Bands, RowsPerBand, MinJaccard,
        keepBestBy = Some("n_chars")))
    val gated = step(ctx, "repetition_stats", Seq("doc_id", "text", "source"))(
      TextOps.withRepetitionStats(unique, "text")
        .where(col("dup_bigram_frac") <= MaxDupBigramFrac && col("top_bigram_frac") <= MaxTopBigramFrac)
        .select("doc_id", "text", "source"))
    val c4 = step(ctx, "c4_flags", Seq("doc_id", "text", "source"))(
      TextOps.withC4Flags(gated, "text", C4MinWords)
        .where(!col("f_min_words") && !col("f_long_word") && !col("f_word_len"))
        .select("doc_id", "text", "source"))
    val scrubbed = step(ctx, "redact_pii", Seq("doc_id", "text", "source", "clean_text",
        "n_email", "n_ipv4", "n_id", "n_phone"))(
      TextOps.redactPii(c4, "text", "clean_text"))
    val deduped = step(ctx, "dedup_spans", Seq("doc_id", "n_spans", "n_kept", "kept_text"))(
      DedupOps.dedupSpans(scrubbed.select(col("doc_id"), col("clean_text").as("text"), col("source")),
        "doc_id", "text", SpanTokens))
    step(ctx, "model_score", Seq("source", "n_docs", "kept_spans", "pii_hits", "sum_score_permille"))(
      Scoring.withModelScore(scrubbed.join(deduped, "doc_id"), "doc_id", "clean_text")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_kept")).as("kept_spans"),
          sum(col("n_email") + col("n_ipv4") + col("n_id") + col("n_phone")).as("pii_hits"),
          sum(col("score_permille")).as("sum_score_permille")))

    val pairs = ctx.op("prefix_jaccard_pairs")(
      DedupOps.prefixJaccardPairs(docsDf, "doc_id", "text", TNum, TDen)) { df =>
      df.select("a_id", "b_id", "n_inter", "n_union", "jac_ppm").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    }
    if (ctx.traced) ctx.add("operators.prefix_jaccard_pairs.pairs_out", pairs.length)
    val found = pairs.map(p => (p._1, p._2)).toSet
    ctx.check("every planted near-duplicate pair is found")(expectedPlanted.subsetOf(found))
    ctx.check("pairs equal every pair reaching the threshold, with exact overlaps") {
      pairs.length == expectedPairs.size &&
        pairs.forall { case (a, b, i, u, ppm) =>
          expectedPairs.contains((a, b, i, u)) && ppm == (BigInt(1000000) * i / u).toLong
        }
    }
    ctx.checkStable("prefix_jaccard_pairs result", pairs.sorted.mkString(","))

    val knn = ctx.op("knn_join")(SimilarityOps.knnJoin(spark.read.parquet(embPath),
        "doc_id", "embedding", queryDf, "q_id", "q_vec", K)) { df =>
      df.select("q_id", "c_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    }
    val knnCheck = "knn neighbours equal the exact top-k"
    ctx.check(knnCheck) {
      ctx.tamper(knnCheck, knn)(k => k.updated(0, (k(0)._1, -1L, k(0)._3)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq } == expectedKnn
    }
  }

  /** One chain step: operator call plus terminal materialisation. Its
    * output rows (in `cols`) must equal the driver-side rendering of the
    * chain up to this step, and its checksum must repeat in every
    * iteration. */
  private def step(ctx: Ctx, name: String, cols: Seq[String])(build: => DataFrame): DataFrame = {
    val (out, sum) = ctx.op(name)(build)(ctx.materialize)
    ctx.checkStable(s"$name output", sum)
    val what = s"$name output equals the driver-side rendering"
    ctx.check(what) {
      val got = out.select(cols.map(c => col(c)): _*).collect().map(_.toSeq).toSeq
      val rows = ctx.tamper(what, got)(_.drop(1))
      rows.size == expectedChain(name).size && rows.toSet == expectedChain(name)
    }
    out
  }

  /** functions layer: a projection-only pass of each native expression
    * against its built-in rendering (the pairs NativeExprSpec proves
    * bitwise-equal), with the native rewrite switched off for the
    * built-in side. */
  override def afterTracedRun(ctx: Ctx): Map[String, Double] = {
    val a0 = graft.functions.TextHash.Seeds.head._1
    val b0 = graft.functions.TextHash.Seeds.head._2
    val base = ctx.materialize(spark.read.parquet(docsPath)
      .join(spark.read.parquet(embPath), "doc_id")
      .crossJoin(spark.range(FunctionCopies))
      .select(col("text"), col("embedding"))
      .withColumn("toks", expr(H.tokens("text")))
      .withColumn("sh", expr(H.shingles3("toks", "text")))
      .withColumn("hs", expr(H.hashArray("sh")))
      .crossJoin(broadcast(queryDf.where(col("q_id") === 0).select(col("q_vec")))))._1
    val rows = base.count().toDouble
    val cases = Seq(
      "graft_rolling_hash" -> (H.rollingHash("text"), H.rollingHashHof("text")),
      "graft_shingles3" -> (H.shingles3("toks", "text"), H.shingles3Hof("toks", "text")),
      "graft_hash_array" -> (H.hashArray("sh"), H.hashArrayHof("sh")),
      "graft_seeded_min" -> (H.minhashFromHashes("hs", a0, b0), H.minhashFromHashesHof("hs", a0, b0)),
      "graft_dot_f32" -> (V.dot("embedding", "q_vec"), V.dotHof("embedding", "q_vec")))
    val rewrite = graft.plans.NativeExprRewrite
    def pass(e: String): (Double, String) = {
      val df = base.select(xxhash64(expr(e)).cast("decimal(38,0)").as("h")).agg(sum("h"))
      val times = (1 to 3).map { _ =>
        val t = Clock.now(); val v = df.head().get(0); ((Clock.now() - t) / 1e9, String.valueOf(v))
      }
      (times.map(_._1).min, times.head._2)
    }
    val out = cases.flatMap { case (fn, (native, builtin)) =>
      val (tn, vn) = pass(native)
      val saved = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations = saved.filterNot(_ == rewrite)
      val (tb, vb) = try pass(builtin) finally spark.experimental.extraOptimizations = saved
      ctx.check(s"$fn equals its built-in rendering")(vn == vb)
      Seq(s"functions.$fn.rows_per_s" -> rows / tn, s"functions.$fn.builtin_rows_per_s" -> rows / tb)
    }.toMap
    ctx.release()
    out
  }
}
