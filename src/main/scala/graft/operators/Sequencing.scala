package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Sequence assembly for LLM training: packing short documents into
  * fixed token budgets and chunking long documents into overlapping
  * context windows.
  *
  * Not in the reference (polario is dataset I/O only — SURVEY.md §0);
  * first-class LLM-pipeline extensions.
  *
  * Scale design (100 TB): packing needs a running token count, which
  * is inherently sequential — so it runs PER SHARD (`shardCol`):
  * each shard's window is one sorted partition, shards run in
  * parallel, and the shard key (language, source, date bucket, hash
  * bucket) bounds the sequential region. Never pack over an
  * unpartitioned window — that is a single-reducer sort at any scale.
  * Chunking is per-row (explode of window starts), shuffle-free.
  */
object Sequencing {

  /** Assign each document a `pack_id` within its shard: documents are
    * taken in `idCol` order and a pack boundary falls every `budget`
    * tokens (running-sum division — the deterministic streaming-pack
    * approximation; fragmentation at pack tails is the accepted cost
    * of one-pass packing). Output adds `pack_id` (0-based within
    * shard). */
  def packGreedy(df: DataFrame, idCol: String, tokenCountCol: String,
                 shardCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val reserved = Set("__cum", "pack_id")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"packGreedy reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(col(tokenCountCol).cast("bigint")).over(w))
      .withColumn("pack_id", expr(s"(__cum - $tokenCountCol) div ${budget}L"))
      .drop("__cum")
  }

  /** Few-shot prompt assembly: per group, concatenate documents in
    * CONTENT-HASH order (reproducible, version-stable — the
    * weightedSample/takeQuotas discipline) while the cumulative
    * character count stays within `charBudget`, emitting one row per
    * group with the shot count, total characters, and the assembled
    * prompt — the exemplar-selection verb of k-shot eval pipelines.
    * Separator is a single newline; the content-hash order makes the
    * prompt a pure function of the corpus.
    *
    * Scale shape: one group-keyed window (cumulative chars in hash
    * order) + one group aggregate with an ordered in-group concat;
    * per-group shot lists are budget-bounded by construction, so the
    * collect_list payload is capped at `charBudget` characters. */
  def assemblePrompts(df: DataFrame, groupCol: String, idCol: String,
                      textCol: String, charBudget: Long): DataFrame = {
    require(charBudget >= 1, "charBudget must be positive")
    import graft.functions.TextHash.{spark => H}
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(groupCol), col(idCol), col(textCol),
      expr(H.rollingHash(textCol)).as("__h"))
      .withColumn("__cum",
        sum(length(col(textCol)).cast("long")).over(w))
      .where(col("__cum") <= charBudget)
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).cast("bigint").as("n_shots"),
        max(col("__cum")).cast("bigint").as("n_chars"),
        expr(s"array_join(transform(sort_array(collect_list(" +
          s"struct(__h, $idCol, $textCol))), x -> x.$textCol), '\\n')")
          .as("prompt"))
  }

  /** Power-of-two padding buckets: `bucket_len` = the smallest
    * power of two ≥ the row's token count (floored at `minBucket`) —
    * the batch-shape planning behind length-bucketed training
    * batches: fixed shapes per bucket (compiler/XLA-friendly) with
    * padding waste bounded at <50% per row. log2 WITHOUT libm: the
    * bit length of `n−1` (`length(bin(n−1))`), portable and exact.
    * Null/negative counts raise. */
  def withPaddedBucket(df: DataFrame, tokenCountCol: String,
                       minBucket: Int = 16,
                       out: String = "bucket_len"): DataFrame = {
    require(minBucket >= 1 && (minBucket & (minBucket - 1)) == 0,
      "minBucket must be a positive power of two")
    require(!df.columns.contains(out), s"withPaddedBucket reserves $out")
    df.withColumn(out, expr(
      s"CASE WHEN $tokenCountCol IS NULL OR $tokenCountCol < 0 THEN " +
        s"raise_error('withPaddedBucket: null/negative $tokenCountCol') " +
        s"WHEN $tokenCountCol <= $minBucket THEN CAST($minBucket AS BIGINT) " +
        s"ELSE shiftleft(CAST(1 AS BIGINT), length(bin($tokenCountCol - 1))) END"))
  }

  /** Packing-efficiency report over [[packGreedy]]: per shard, how
    * many bins the greedy pass used and the exact fill rate
    * `fill_ppm = 1e6·Σtokens div (bins·budget)` — the waste metric
    * that decides whether to re-sort before packing (a fill rate far
    * under 1e6 means oversized documents are fragmenting bins).
    * Integer throughout; one group-bounded aggregate on top of the
    * packing window. */
  def packingReport(df: DataFrame, idCol: String, tokenCountCol: String,
                    shardCol: String, budget: Long): DataFrame = {
    packGreedy(df, idCol, tokenCountCol, shardCol, budget)
      .groupBy(col(shardCol))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        (max(col("pack_id")) + 1L).cast("bigint").as("n_bins"),
        sum(col(tokenCountCol)).cast("bigint").as("sum_tokens"))
      .withColumn("fill_ppm", expr(
        s"(CAST(1000000 AS DECIMAL(38,0)) * sum_tokens) div (n_bins * ${budget}L)")
        .cast("bigint"))
      .orderBy(col(shardCol))
  }

  /** Explode each document into overlapping token windows of
    * `chunkSize` tokens advancing by `chunkSize - overlap`: one row
    * per (doc, chunk) with `chunk_idx` (0-based), `chunk_len`, and the
    * chunk text re-joined with single spaces. Tail chunks may be
    * shorter, but a tail start past `n - overlap` is skipped: such a
    * window lies entirely inside the previous chunk's overlap region,
    * so emitting it would double-count its tokens in training data.
    * Pure per-row explode — no shuffle. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "need chunkSize > 0 and 0 <= overlap < chunkSize")
    val reserved = Set("__toks", "__n", "__start", "chunk_idx", "chunk_len", "chunk_text")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"chunkTokens reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val stride = chunkSize - overlap
    df.withColumn("__toks", split(col(textCol), " "))
      .withColumn("__n", size(col("__toks")))
      .select(col(idCol), col("__toks"), col("__n"),
        posexplode(expr(s"sequence(1, __n, $stride)")).as(Seq("chunk_idx", "__start")))
      // A window starting at s covers [s, min(n, s + chunkSize - 1)];
      // for s > n - overlap that range sits fully inside the previous
      // window [s - stride, s + overlap - 1]. Starts increase, so the
      // kept set is a dense prefix and chunk_idx stays 0..k gap-free.
      .where(col("chunk_idx") === 0 || col("__start") <= col("__n") - overlap)
      .withColumn("chunk_len", least(lit(chunkSize), col("__n") - col("__start") + 1))
      .withColumn("chunk_text",
        concat_ws(" ", expr(s"slice(__toks, __start, $chunkSize)")))
      .select(col(idCol), col("chunk_idx"), col("chunk_len"), col("chunk_text"))
  }

  /** Token-budget corpus selection: keep the maximal best-first
    * prefix — documents taken in (`scoreCol` desc, `idCol`) order
    * while the running token total stays ≤ `budget`. The "fill a
    * 10B-token training budget with the highest-quality documents"
    * verb. Adds `cum_tokens` (the running total INCLUDING the row).
    *
    * A naive global cumulative sum is a Window with no partition —
    * one reducer holding the whole corpus. Instead the global order
    * is decomposed deterministically:
    *
    *  1. score quantile boundaries (one `approxQuantile` pass,
    *     `buckets`−1 doubles to the driver) define range buckets that
    *     are a PURE FUNCTION of the score — unlike
    *     `spark_partition_id()` after `repartitionByRange`, whose
    *     sampled boundaries are not stable across the two jobs below;
    *  2. one aggregation computes per-bucket token totals
    *     (`buckets` rows to the driver) → exclusive prefix offsets,
    *     and buckets whose offset already exceeds the budget are
    *     dropped BEFORE the shuffle — at 100 TB with a tight budget
    *     almost the whole corpus is pruned at the scan;
    *  3. a per-bucket window (parallel across buckets) adds the
    *     bucket offset to the within-bucket running sum.
    *
    * Null/negative tokens and null scores raise (a silent 0/last
    * placement would corrupt the budget or the order). Scores above
    * 2^53 would lose precision against the double boundaries —
    * rescale such scores first. */
  /** Dense global ordinals 1..n in (`orderCol` asc, `idCol`) order
    * WITHOUT a single-partition window — the same deterministic
    * quantile-range-bucket decomposition as [[selectUnderBudget]]
    * (boundaries are a pure function of the data, so bucket
    * assignment is stable across the two jobs), with driver-side
    * cumulative ROW COUNTS as bucket offsets. Adds `out` (bigint).
    * Null order values raise loudly (their global position would be
    * engine-defined). */
  /** Balanced output-shard assignment over a total order:
    * `shard = floor(ordinal · nShards / total)` on the
    * [[withGlobalOrdinals]] position (0-based), so shard sizes differ
    * by AT MOST one row and shard boundaries respect the global sort
    * (shard i holds a contiguous ordinal range) — the write-planning
    * verb for "exactly N equal sorted output files", where
    * `repartitionByRange` alone gives only approximate, sampled,
    * non-reproducible splits. Pure integer arithmetic on the
    * ordinal: deterministic and partitioning-invariant.
    *
    * Output: input + `out` (0-based shard id). Write with
    * `.repartition(col(out))` + in-partition sort for exactly one
    * file per shard. */
  def withShardAssignment(df: DataFrame, orderCol: String, idCol: String,
                          nShards: Int, out: String = "shard",
                          buckets: Int = 32): DataFrame = {
    require(nShards >= 1, "nShards must be positive")
    require(!df.columns.contains(out),
      s"withShardAssignment reserves column name $out")
    val withOrd = withGlobalOrdinals(df, orderCol, idCol, "__shard_ord", buckets)
    val total = withOrd.agg(count(lit(1)).as("__tot"))
    withOrd.crossJoin(broadcast(total))
      .withColumn(out,
        expr(s"CAST(((__shard_ord - 1) * ${nShards}L) div __tot AS INT)"))
      .drop("__shard_ord", "__tot")
  }

  /** SIZE-balanced output-shard assignment over a total order:
    * `shard = floor(cum_weight_before · nShards / total_weight)` in
    * `(orderCol, idCol)` order — [[withShardAssignment]] generalized
    * from row counts to a weight column (bytes, token counts), the
    * real write-planning verb when row sizes vary by 1000×: every
    * shard's weight lands within one max-row-weight of the ideal
    * `total/nShards`, and shards stay contiguous in the global sort.
    *
    * Same decomposition as [[withGlobalOrdinals]]: quantile range
    * buckets on `orderCol` (boundaries a pure function of the data —
    * stable across jobs), per-bucket weight sums collected to the
    * driver as offsets, one bucket-partitioned window for the
    * intra-bucket running weight — never a single-partition window.
    * Products ride DECIMAL(38,0) (exabyte-safe). Null/negative
    * weights and null order keys raise loudly.
    *
    * Output: input + `out` (0-based shard id, INT). */
  def withWeightedShardAssignment(df: DataFrame, orderCol: String,
                                  idCol: String, weightCol: String,
                                  nShards: Int, out: String = "shard",
                                  buckets: Int = 32): DataFrame = {
    require(nShards >= 1, "nShards must be positive")
    val reserved = Set("__wg", "__cum___wg", out)
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"withWeightedShardAssignment reserves ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val guarded = df.withColumn("__wg", expr(
      s"CASE WHEN $weightCol IS NULL OR $weightCol < 0 " +
        s"THEN raise_error('withWeightedShardAssignment: null/negative $weightCol') " +
        s"ELSE CAST($weightCol AS BIGINT) END"))
    val (cum, totals) = runningTotalsBefore(guarded, orderCol, idCol,
      Seq("__wg"), buckets, "withWeightedShardAssignment")
    val total = totals("__wg")
    cum
      .withColumn(out,
        if (total == 0L) lit(0) // all-zero weights: everything in shard 0
        else expr(s"CAST((CAST(__cum___wg AS DECIMAL(38,0)) * ${nShards}L) div ${total}L AS INT)"))
      .drop("__wg", "__cum___wg")
  }

  /** Shared scale-safe cumulative-sum decomposition: for each row,
    * the running total of every `weightCols` column over all rows
    * STRICTLY BEFORE it in global `(orderCol, idCol)` order —
    * without a single-partition window. Quantile range buckets on
    * `orderCol` (boundaries a pure function of the data — stable
    * across jobs), per-bucket sums collected to the driver as
    * offsets, one bucket-partitioned window for the intra-bucket
    * part. Backs [[withWeightedShardAssignment]],
    * [[graft.operators.RobustStats.ksStatistic]], and
    * [[graft.operators.RobustStats.weightedPercentiles]].
    *
    * Weight columns must be non-null integral (callers guard);
    * null order keys raise. Returns the frame with `__cum_<w>`
    * appended per weight column plus each column's grand total. */
  private[operators] def runningTotalsBefore(df: DataFrame, orderCol: String,
      idCol: String, weightCols: Seq[String], buckets: Int,
      caller: String): (DataFrame, Map[String, Long]) = {
    require(buckets >= 1, "buckets must be positive")
    require(weightCols.nonEmpty, "weightCols must be non-empty")
    val guarded = df.withColumn("__ordg", expr(
      s"CASE WHEN $orderCol IS NULL " +
        s"THEN raise_error('$caller: null $orderCol has no global position') " +
        s"ELSE $orderCol END"))
    val bounds =
      if (buckets == 1) Array.empty[Double]
      else guarded.stat.approxQuantile(orderCol,
        (1 until buckets).map(_.toDouble / buckets).toArray, 0.001).distinct.sorted
    val bktExpr = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col("__ordg") > lit(b), 1).otherwise(0)
    }
    val withB = guarded.withColumn("__bkt", bktExpr)
    val sumExprs = weightCols.map(w => sum(col(w)).as(s"__s_$w"))
    val sums = withB.groupBy(col("__bkt"))
      .agg(sumExprs.head, sumExprs.tail: _*)
      .collect()
      .map(r => r.getInt(0) -> weightCols.indices.map(i => r.getLong(i + 1)))
      .toMap
    val zero = weightCols.map(_ => 0L)
    val offsets = (0 to bounds.length).scanLeft(zero) { (acc, b) =>
      val s = sums.getOrElse(b, zero)
      acc.zip(s).map { case (a, x) => a + x }
    }.init.zipWithIndex.map { case (offs, b) => Row.fromSeq(b +: offs) }
    val totals = weightCols.indices.map { i =>
      weightCols(i) -> sums.values.map(_(i)).sum
    }.toMap
    val spark = df.sparkSession
    val offSchema = StructType(
      StructField("__bkt", IntegerType, nullable = false) +:
        weightCols.map(w => StructField(s"__boff_$w", LongType, nullable = false)))
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsets.toSeq, 1), offSchema)
    val w = Window.partitionBy(col("__bkt")).orderBy(col("__ordg"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = weightCols.foldLeft(withB.join(broadcast(offDf), Seq("__bkt"))) {
      (acc, wc) =>
        acc.withColumn(s"__cum_$wc",
          coalesce(sum(col(wc)).over(w), lit(0L)) + col(s"__boff_$wc"))
    }.drop("__bkt" +: "__ordg" +: weightCols.map(w2 => s"__boff_$w2"): _*)
    (cum, totals)
  }

  def withGlobalOrdinals(df: DataFrame, orderCol: String, idCol: String,
                         out: String = "ordinal", buckets: Int = 32): DataFrame = {
    require(buckets >= 1, "buckets must be positive")
    val reserved = Set("__bkt", "__off", "__ordg", out)
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"withGlobalOrdinals reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    // guard wraps the order key ITSELF (used by the bucket agg AND
    // the window) — a side assertion column would be pruned
    val guarded = df.withColumn("__ordg", expr(
      s"CASE WHEN $orderCol IS NULL " +
        s"THEN raise_error('withGlobalOrdinals: null $orderCol has no global position') " +
        s"ELSE $orderCol END"))
    val bounds =
      if (buckets == 1) Array.empty[Double]
      else guarded.stat.approxQuantile(orderCol,
        (1 until buckets).map(_.toDouble / buckets).toArray, 0.001).distinct.sorted
    // ascending: bucket = #boundaries strictly BELOW the value —
    // monotone non-decreasing, so (bucket, order, id) is the global
    // (order, id) order; equal values share a bucket.
    val bktExpr = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col("__ordg") > lit(b), 1).otherwise(0)
    }
    val withB = guarded.withColumn("__bkt", bktExpr)
    val counts = withB.groupBy(col("__bkt")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 to bounds.length).scanLeft(0L) {
      (acc, b) => acc + counts.getOrElse(b, 0L)
    }.init.zipWithIndex.map { case (off, b) => (b, off) }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.toDF("__bkt", "__off")
    val w = Window.partitionBy(col("__bkt")).orderBy(col("__ordg"), col(idCol))
    withB.join(broadcast(offDf), Seq("__bkt"))
      .withColumn(out, row_number().over(w).cast("bigint") + col("__off"))
      .drop("__bkt", "__off", "__ordg")
  }

  def selectUnderBudget(df: DataFrame, idCol: String, tokenCountCol: String,
                        scoreCol: String, budget: Long,
                        buckets: Int = 32): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(buckets >= 1, "buckets must be positive")
    val reserved = Set("__tok", "__bkt", "__off", "cum_tokens")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"selectUnderBudget reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val guarded = df
      .withColumn("__tok", expr(
        s"CASE WHEN $tokenCountCol IS NULL OR $tokenCountCol < 0 OR $scoreCol IS NULL " +
          s"THEN raise_error('selectUnderBudget: null score or null/negative token count') " +
          s"ELSE CAST($tokenCountCol AS BIGINT) END"))
    val bounds =
      if (buckets == 1) Array.empty[Double]
      else guarded.stat.approxQuantile(scoreCol,
        (1 until buckets).map(_.toDouble / buckets).toArray, 0.001).distinct.sorted
    // bucket = #boundaries strictly above the score: monotone
    // non-increasing in score, so (bucket asc, score desc, id) is the
    // global (score desc, id) order; equal scores share a bucket.
    val bktExpr = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col(scoreCol) < lit(b), 1).otherwise(0)
    }
    val withB = guarded.withColumn("__bkt", bktExpr)
    val totals = withB.groupBy(col("__bkt")).agg(sum(col("__tok")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 to bounds.length).scanLeft(0L) {
      (acc, b) => acc + totals.getOrElse(b, 0L)
    }.init.zipWithIndex.map { case (off, b) => (b, off) }
    val usable = offsets.filter(_._2 <= budget) // bucket 0 (offset 0) always survives
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = usable.toDF("__bkt", "__off")
    val w = Window.partitionBy(col("__bkt"))
      .orderBy(col(scoreCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB
      .join(broadcast(offDf), Seq("__bkt")) // inner join = pre-shuffle bucket prune
      .withColumn("cum_tokens", sum(col("__tok")).over(w) + col("__off"))
      .where(col("cum_tokens") <= budget)
      .drop("__tok", "__bkt", "__off")
  }

  /** Morton/Z-order clustering key: interleave the bits of two
    * non-negative int columns (each masked to 31 bits) into one
    * BIGINT whose sort order clusters rows that are close on BOTH
    * dimensions — the Delta/Iceberg `ZORDER BY` layout primitive.
    * Sorting or range-partitioning the table by `out` before writing
    * gives every output file a TIGHT min/max envelope on both
    * columns simultaneously, so single-dim zone-map skipping (the
    * `q20`-style partition-prune or parquet row-group stats) works
    * for predicates on either column, where a plain sort helps only
    * its leading column.
    *
    * Bit-spreading is the binary-magic-numbers ladder (five
    * shift-or-mask steps per column, pure BIGINT ops — codegen'd,
    * portable, bitwise-identical in any engine). Values outside
    * [0, 2^31) are masked, not raised: the key is a LAYOUT hint, and
    * callers z-ordering on hashes want the cheap wrap.
    *
    * Scale shape: per-row expression, no shuffle of its own; the
    * follow-up `repartitionByRange(out)` + write is the same single
    * sort any clustered write pays. */
  /** Hilbert-curve clustering key — [[withZValue]]'s
    * better-locality sibling: the Hilbert walk visits every cell of
    * the 2^bits × 2^bits grid in a Hamiltonian path of UNIT steps
    * (consecutive keys are spatially adjacent — spec-pinned over the
    * full grid), where the Z curve takes long diagonal jumps at
    * every block boundary. Data files range-clustered on `hval`
    * therefore cover compact blobs of (x, y) space, and a 2-D range
    * predicate touches fewer files than under Z-order — the layout
    * lever behind Hilbert-mode OPTIMIZE in public lakehouse engines.
    *
    * Classic bit-level transform (Wikipedia `xy2d`): per level
    * `s = 2^i` from the top bit down, quadrant
    * `q = (3·rx) XOR ry` (rendered as the branch-free CASE
    * `rx=0 → ry | rx=1 → 3−ry`), `d += s²·q`, then the
    * reflect-and-swap rotation. Expressed as ONE `aggregate` fold
    * over the bit levels with the `(d, x, y)` state PACKED into a
    * single BIGINT (`d·4^bits + x·2^bits + y` — the [[TimeSeries
    * .debounceCounts]] packed-scalar discipline, so an independent
    * engine's `list_reduce` evaluates the identical fold). Pure
    * per-row integer arithmetic — codegen'd, shuffle-free,
    * bitwise-portable. Inputs outside `[0, 2^bits)` raise. */
  def withHilbertValue(df: DataFrame, xCol: String, yCol: String,
                       bits: Int = 14, out: String = "hval"): DataFrame = {
    require(bits >= 1 && bits <= 15, "bits must be in [1, 15] (packed state)")
    require(!df.columns.contains(out),
      s"withHilbertValue reserves column name $out")
    val P = 1L << bits
    val n1 = P - 1L
    def xOf(acc: String) = s"(($acc div ${P}L) % ${P}L)"
    def yOf(acc: String) = s"($acc % ${P}L)"
    def dOf(acc: String) = s"($acc div ${P * P}L)"
    val s_ = "shiftleft(CAST(1 AS BIGINT), i)"
    val X = xOf("acc"); val Y = yOf("acc"); val D = dOf("acc")
    val rx = s"(($X div $s_) % 2L)"
    val ry = s"(($Y div $s_) % 2L)"
    val quad = s"(CASE WHEN $rx = 0L THEN $ry ELSE 3L - $ry END)"
    val d2 = s"($D + $s_ * $s_ * $quad)"
    val xr = s"(CASE WHEN $rx = 1L THEN ${n1}L - $X ELSE $X END)"
    val yr = s"(CASE WHEN $rx = 1L THEN ${n1}L - $Y ELSE $Y END)"
    val newx = s"(CASE WHEN $ry = 0L THEN $yr ELSE $X END)"
    val newy = s"(CASE WHEN $ry = 0L THEN $xr ELSE $Y END)"
    val body = s"(($d2 * ${P}L + $newx) * ${P}L + $newy)"
    def guard(c: String) =
      s"(CASE WHEN $c IS NULL OR $c < 0 OR $c >= ${P}L THEN " +
        s"raise_error('withHilbertValue: $c outside [0, 2^$bits)') " +
        s"ELSE CAST($c AS BIGINT) END)"
    df.withColumn(out, expr(
      s"aggregate(sequence(${bits - 1}, 0, -1), " +
        s"${guard(xCol)} * ${P}L + ${guard(yCol)}, " +
        s"(acc, i) -> $body, acc -> ${dOf("acc")})"))
  }

  def withZValue(df: DataFrame, xCol: String, yCol: String,
                 out: String = "zval"): DataFrame = {
    require(!df.columns.contains(out),
      s"withZValue reserves column name $out")
    def spread(c: Column): Column =
      Seq(16 -> 0x0000FFFF0000FFFFL, 8 -> 0x00FF00FF00FF00FFL,
          4 -> 0x0F0F0F0F0F0F0F0FL, 2 -> 0x3333333333333333L,
          1 -> 0x5555555555555555L)
        .foldLeft(c.cast("long").bitwiseAND(lit(0x7FFFFFFFL))) {
          case (x, (s, m)) => x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(m))
        }
    df.withColumn(out,
      spread(col(xCol)).bitwiseOR(shiftleft(spread(col(yCol)), 1)))
  }

  /** Run-length statistics of categorical columns under a physical
    * row order — the storage-layout diagnostic behind encoding
    * choices: a column whose values arrive in long runs RLE/dict-
    * encodes to almost nothing, a shuffled one doesn't; compare
    * against clustered layouts ([[graft.sources.DeltaDataset.zorder]]
    * rewrites). For each
    * column: total rows, run count (`1 + adjacent-pairs-that-differ`,
    * null-safe equality), and mean run length
    * `avg_run_ppm = (1e6 · n_rows) div n_runs`. Output one row per
    * column: `(column_name, n_rows, n_runs, avg_run_ppm)`, ordered by
    * name.
    *
    * Scale shape: adjacency comes from [[withGlobalOrdinals]]
    * (quantile-bucket decomposition — NO single-reducer window over
    * the global order) and one ordinal-shifted self-equi-join; all
    * columns count their boundaries in the same single join pass,
    * then one 1-row aggregate fans out to per-column rows.
    */
  def runLengthStats(df: DataFrame, orderCol: String, idCol: String,
                     valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "need at least one value column")
    val keep = (Seq(orderCol, idCol) ++ valueCols).distinct
    val ord = withGlobalOrdinals(df.select(keep.map(col): _*), orderCol, idCol)
    val nxt = ord.select(
      (col("ordinal").as("__o2") +:
        valueCols.map(c => col(c).as(s"__nx_$c"))): _*)
    val joined = ord.join(nxt, col("__o2") === col("ordinal") + 1, "left")
    val aggs = count(lit(1)).cast("bigint").as("__n") +:
      valueCols.map(c =>
        sum(when(col("__o2").isNotNull &&
          !(col(c) <=> col(s"__nx_$c")), 1L).otherwise(0L))
          .cast("bigint").as(s"__b_$c"))
    val one = joined.agg(aggs.head, aggs.tail: _*)
    // fan the single agg row out per column INSIDE one plan (a
    // union of selects over `one` would re-run the join per column)
    val perCol = valueCols.map(c =>
      s"struct('$c' AS column_name, __n AS n_rows, " +
        s"CASE WHEN __n = 0 THEN 0L ELSE 1L + __b_$c END AS n_runs)")
    one.select(explode(expr(perCol.mkString("array(", ", ", ")"))).as("__r"))
      .select(col("__r.column_name"), col("__r.n_rows"), col("__r.n_runs"))
      .withColumn("avg_run_ppm",
        expr("CASE WHEN n_runs = 0 THEN NULL ELSE (1000000L * n_rows) div n_runs END"))
      .orderBy(col("column_name"))
  }
}
