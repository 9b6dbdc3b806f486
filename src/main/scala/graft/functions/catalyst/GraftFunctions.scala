package graft.functions.catalyst

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Registration of graft's native expressions as SQL functions.
  *
  * Two entry points:
  *  - [[GraftFunctions.register]] — imperative, for an existing
  *    session (used by GraftSession / Verify / Bench);
  *  - [[GraftExtensions]] — a `SparkSessionExtensions` injector for
  *    `spark.sql.extensions=graft.functions.catalyst.GraftExtensions`,
  *    the deployment-grade path on a shared cluster.
  */
object GraftFunctions {

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_rolling_hash",
      info("graft_rolling_hash", "polynomial rolling hash (mod 1e9+7) of a string"),
      (args: Seq[Expression]) => RollingHash(args.head)),
    ("graft_hash_array",
      info("graft_hash_array", "rolling hash of every element of array<string>"),
      (args: Seq[Expression]) => HashArray(args.head)),
    ("graft_seeded_min",
      info("graft_seeded_min", "min of (a*h+b) mod P over array<bigint> — minhash component"),
      (args: Seq[Expression]) => SeededMin(args(0), args(1), args(2))),
    ("graft_dot_f32",
      info("graft_dot_f32", "strict sequential dot product of two array<float> in double"),
      (args: Seq[Expression]) => DotF32(args(0), args(1))),
    ("graft_simhash",
      info("graft_simhash", "single-pass N-bit simhash over array<bigint>"),
      (args: Seq[Expression]) => Simhash(args(0), args(1))),
    ("graft_simhash64",
      info("graft_simhash64", "single-pass wide (up to 63-bit) simhash over array<bigint>"),
      (args: Seq[Expression]) => Simhash64(args(0), args(1))),
    ("graft_winnow",
      info("graft_winnow", "winnowed (MOSS) fingerprint set of a string: min k-gram hash per w-window, distinct, sorted"),
      (args: Seq[Expression]) => Winnow(args(0), args(1), args(2))),
    ("graft_mg_topk",
      info("graft_mg_topk", "Misra-Gries heavy-hitters summary: capacity-bounded (item, count_lo) array, mergeable under any partitioning"),
      (args: Seq[Expression]) => MisraGriesTopK(args(0), args(1))),
    // SQL-surface wrappers over Spark's OWN runtime-filter bloom
    // expressions (not graft code): the optimizer only injects them
    // inside InjectRuntimeFilter, so exposing them as functions lets
    // operators build an explicit bloom-semi-join when the build side
    // is a different query stage than the optimizer can see (e.g.
    // DedupOps.bloomIncrementalDedup's batch-vs-corpus prune).
    ("graft_bpe_apply",
      info("graft_bpe_apply", "BPE merge application over array<string> tokens -> flattened piece array (args: toks, merges_flat)"),
      (args: Seq[Expression]) => BpeApply(args(0), args(1))),
    ("graft_zvalue",
      info("graft_zvalue", "Morton z-order value from per-column quantile buckets (args: vals, bounds_flat, per_col)"),
      (args: Seq[Expression]) => ZValue(args(0), args(1), args(2))),
    ("graft_pq_encode",
      info("graft_pq_encode", "product-quantization encode: nearest codebook centroid per subspace (args: vec, cb_flat, m)"),
      (args: Seq[Expression]) => PqEncode(args(0), args(1), args(2))),
    ("graft_bloom_agg",
      info("graft_bloom_agg", "bloom-filter aggregate over xxhash64 longs -> binary sketch (args: xx, est_items, num_bits)"),
      (args: Seq[Expression]) => new BloomFilterAggregate(args(0), args(1), args(2))),
    ("graft_bloom_might_contain",
      info("graft_bloom_might_contain", "membership probe of a graft_bloom_agg sketch (args: bloom, xx)"),
      (args: Seq[Expression]) => new BloomFilterMightContain(args(0), args(1))),
    ("graft_cms_query",
      info("graft_cms_query", "point query (estimated count) of a count_min_sketch binary (args: sketch, item)"),
      (args: Seq[Expression]) => CmsQuery(args(0), args(1))),
    ("graft_shingles3",
      info("graft_shingles3", "3-token shingles of array<string> with whole-text fallback below 3 tokens (args: toks, fallback_text)"),
      (args: Seq[Expression]) => Shingles3(args(0), args(1))),
    ("graft_char_grams",
      info("graft_char_grams", "all k-char grams of a string, one per start position; empty below k chars (args: text, k)"),
      (args: Seq[Expression]) => CharGrams(args(0), args(1))),
    ("graft_kgram_hashes",
      info("graft_kgram_hashes", "rolling hash of every k-char gram of a string; empty below k chars (args: text, k)"),
      (args: Seq[Expression]) => KgramHashes(args(0), args(1))),
    ("graft_adjacent_pairs",
      info("graft_adjacent_pairs", "canonicalized (a<=b) token pairs within maxDist positions of array<string> (args: toks, max_dist)"),
      (args: Seq[Expression]) => AdjacentPairs(args(0), args(1))),
    ("graft_bigram_stats",
      info("graft_bigram_stats", "one-pass bigram repetition counts of array<string> -> struct<n_bigrams, n_dup_bigrams, top_bigram_n> (zeros for a null array)"),
      (args: Seq[Expression]) => BigramStats(args.head)),
    ("graft_bottom_k",
      info("graft_bottom_k", "bounded bottom-k of any orderable value: k-heap per partition, merged per group — array<typeof(value)> sorted ascending (args: value, k)"),
      (args: Seq[Expression]) => BottomK(args(0), args(1))),
    ("graft_cms_merge",
      info("graft_cms_merge", "aggregate union of count_min_sketch binaries -> one sketch (counters sum exactly)"),
      (args: Seq[Expression]) => CmsMerge(args(0))))

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[HashOps.type].getName, null, name, usage, "")

  def register(spark: SparkSession): Unit = {
    functions.foreach { case (name, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), inf, builder)
    }
    // The function registry alone leaves the HOF-form dot product /
    // rolling hash running as interpreted lambdas; every entry point
    // that registers the functions should also get the native-codegen
    // rewrite (NativeExprSpec proves the two paths bitwise-equal).
    // GraftExtensions installs it through the session extensions;
    // this covers every other session, GraftSession.local included.
    if (!spark.experimental.extraOptimizations.contains(graft.plans.NativeExprRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.NativeExprRewrite
  }
}

/** `spark.sql.extensions` injector: functions + optimizer rewrites. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach { case (name, inf, builder) =>
      ext.injectFunction((FunctionIdentifier(name), inf, builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.NativeExprRewrite)
  }
}
