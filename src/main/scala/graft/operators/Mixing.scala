package graft.operators

import graft.functions.TextHash
import graft.util.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic data-mixture sampling: keep each document with a
  * per-source rate — the step that turns curated corpora plus a
  * mixture recipe ("20% web, 60% code, ...") into a training set.
  *
  * Not in the reference (polario is dataset I/O only — SURVEY.md §0).
  *
  * Determinism contract (same as the hash train/val split): the keep
  * decision hashes the CONTENT, not a random number — re-runs,
  * retries, and partial recomputes pick the same documents, and the
  * expected rate is exact in distribution over content hashes.
  *
  * Scale shape: `weights` is a source-cardinality dim table —
  * validated on the driver (it is bounded by construction) and
  * broadcast into the scan; the corpus is filtered in place with zero
  * shuffles. An unknown source fails the JOB loudly (a silently
  * dropped source is a corrupted mixture). */
object Mixing {

  import TextHash.{spark => H}

  /** Keep rows where `rollingHash(textCol) % 1000 < permille` for the
    * row's source. `weights` must have columns `(sourceCol,
    * permille)` with integer per-mille rates in [0, 1000], one row
    * per source. */
  def weightedSample(df: DataFrame, textCol: String, sourceCol: String,
                     weights: DataFrame): DataFrame = {
    require(weights.columns.toSet == Set(sourceCol, "permille"),
      s"weights must have exactly columns ($sourceCol, permille), got ${weights.columns.toSeq}")
    require(!df.columns.contains("__permille"), "weightedSample reserves __permille")
    // Dim-table validation on the driver: bounded by source count.
    val rows = weights.select(col(sourceCol), col("permille").cast("long")).collect()
    require(rows.map(_.get(0)).distinct.length == rows.length,
      "weights must have one row per source")
    rows.foreach { r =>
      require(!r.isNullAt(1) && r.getLong(1) >= 0 && r.getLong(1) <= 1000,
        s"permille for source '${r.get(0)}' must be in [0, 1000], got ${r.get(1)}")
    }
    // The join side is rebuilt FROM the validated snapshot — joining
    // the original plan would evaluate `weights` a second time, and a
    // nondeterministic source could pass validation yet join
    // different (even out-of-range) rates.
    val validated = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(sourceCol,
          weights.schema(sourceCol).dataType),
        org.apache.spark.sql.types.StructField("__permille",
          org.apache.spark.sql.types.LongType))))
    df.join(broadcast(validated), Seq(sourceCol), "left")
      // The guard wraps the rate column itself — an asserted side
      // column would be pruned by the optimizer (repo-wide pattern).
      .withColumn("__permille", expr(
        s"CASE WHEN __permille IS NOT NULL THEN __permille " +
          s"ELSE raise_error('weightedSample: no mixture rate for source ' || $sourceCol) END"))
      .where(expr(H.rollingHash(textCol)) % 1000 < col("__permille"))
      .drop("__permille")
  }

  /** Per-source EPOCH replay — materialize a "web × 1.0, wiki × 3.3"
    * data recipe (the published LLM-pretraining practice of running
    * high-quality sources for multiple epochs) as actual repeated
    * rows: each document gets `⌊epochs⌋` copies, plus one extra copy
    * iff its content hash falls under the fractional part — so a
    * 3.3-epoch source replays every document 3 times and a
    * deterministic, content-keyed 30% of documents a 4th time.
    * Re-runs, retries, and partial recomputes materialize the SAME
    * copies ([[weightedSample]]'s determinism contract; no rand()).
    *
    * `recipe` must have columns `(sourceCol, epochs_permille)` — 3300
    * = 3.3 epochs, 0 drops the source — one row per source, validated
    * on the driver and re-built from the validated snapshot (the
    * [[weightedSample]] double-evaluation guard). An input source
    * missing from the recipe fails the JOB loudly.
    *
    * Output: the input columns plus `copy` (0-based replica index).
    * Scale shape: broadcast recipe join + one `explode(sequence)` —
    * zero shuffles; output volume is the recipe-weighted corpus size,
    * exactly what a downstream shuffle-free writer wants. */
  def replayEpochs(df: DataFrame, textCol: String, sourceCol: String,
                   recipe: DataFrame): DataFrame = {
    require(recipe.columns.toSet == Set(sourceCol, "epochs_permille"),
      s"recipe must have exactly columns ($sourceCol, epochs_permille), " +
        s"got ${recipe.columns.toSeq}")
    require(!df.columns.contains("copy") && !df.columns.contains("__ep"),
      "replayEpochs reserves copy, __ep")
    val rows = recipe.select(col(sourceCol), col("epochs_permille").cast("long"))
      .collect()
    require(rows.map(_.get(0)).distinct.length == rows.length,
      "recipe must have one row per source")
    rows.foreach { r =>
      require(!r.isNullAt(1) && r.getLong(1) >= 0,
        s"epochs_permille for source '${r.get(0)}' must be >= 0, got ${r.get(1)}")
    }
    val validated = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(sourceCol,
          recipe.schema(sourceCol).dataType),
        org.apache.spark.sql.types.StructField("__ep",
          org.apache.spark.sql.types.LongType))))
    df.join(broadcast(validated), Seq(sourceCol), "left")
      .withColumn("__ep", expr(
        s"CASE WHEN __ep IS NOT NULL THEN __ep " +
          s"ELSE raise_error('replayEpochs: no epoch rate for source ' || $sourceCol) END"))
      .withColumn("copy", expr(
        s"explode(CASE WHEN __ep div 1000 + " +
          s"IF(${H.rollingHash(textCol)} % 1000 < __ep % 1000, 1, 0) >= 1 " +
          s"THEN sequence(0, CAST(__ep div 1000 + " +
          s"IF(${H.rollingHash(textCol)} % 1000 < __ep % 1000, 1, 0) AS INT) - 1) " +
          "ELSE CAST(array() AS array<int>) END)"))
      .drop("__ep")
  }

  /** Temperature-scale a mixture's per-mille weights:
    * `permille'_i = round(1000 · w_i^τ / Σ_j w_j^τ)` with
    * `τ = tauNum / tauDen` — τ < 1 flattens a head-heavy mixture
    * toward uniform (the standard multilingual/source rebalancing
    * knob), τ > 1 sharpens it. Zero-weight sources stay zero.
    *
    * `tauDen` must be 1 or 2: powers are computed as exact-rounded
    * IEEE chains (integer exponents by repeated multiplication,
    * halves via `sqrt` — an IEEE-core correctly-rounded op), NOT via
    * `pow`, whose libm results differ across engines; the whole
    * transform is bitwise-reproducible and oracle-checkable. Runs
    * in-plan on the (source-cardinality) weights frame so it composes
    * with [[weightedSample]]. */
  def reweightTemperature(weights: DataFrame, sourceCol: String,
                          tauNum: Int, tauDen: Int): DataFrame = {
    require(tauNum >= 1, "tauNum must be positive")
    require(tauDen == 1 || tauDen == 2, "tauDen must be 1 (integer τ) or 2 (half-integer τ)")
    require(weights.columns.toSet == Set(sourceCol, "permille"),
      s"weights must have exactly columns ($sourceCol, permille), got ${weights.columns.toSeq}")
    val baseSql = if (tauDen == 2) "sqrt(CAST(permille AS DOUBLE))" else "CAST(permille AS DOUBLE)"
    val powSql = Seq.fill(tauNum)(s"($baseSql)").mkString(" * ")
    val powed = weights.withColumn("__wt", expr(powSql))
    val total = powed.groupBy().agg(sum(col("__wt")).as("__tot"))
    powed.crossJoin(broadcast(total))
      .withColumn("permille",
        round(lit(1000.0) * col("__wt") / col("__tot")).cast("long"))
      .drop("__wt", "__tot")
  }

  /** Deterministic per-group quota: keep at most `n` rows per
    * `groupCol`, chosen in content-hash order (`rollingHash(textCol)`,
    * `idCol` tiebreak) — "cap every source at N documents" with the
    * same determinism contract as [[weightedSample]]: re-runs and
    * retries pick the same rows, no `rand()` anywhere.
    *
    * Scale shape: the exact cap is a per-group window (one shuffle on
    * the group key) — but a window over a 10B-row source is a huge
    * per-group sort, so groups with more than `prefilterAbove`
    * DISTINCT content hashes are first PRUNED map-side to the hash
    * range expected to hold ~`4n + 256` distinct hashes (group
    * distinct-counts are a broadcast dim table). The window then
    * sorts only the pruned survivors. The prune is probabilistically
    * safe: a shortfall below `n` needs a Binomial(nDistinct, p) with
    * mean `4n + 256` to land under `n` — P < e^−95 even at n = 1 —
    * survivors carry at least one row per surviving hash and form a
    * PREFIX of the `(hash, id)` total order the window uses, so
    * prune + window ≡ window alone (spec-pinned). Gating on DISTINCT
    * hashes keeps duplicate-heavy groups on the exact path: a group
    * of 10⁹ copies of one text has ONE hash value and never
    * qualifies for the prune (a row-count gate would drop that hash
    * wholesale). NULL texts always survive the prune (they rank
    * first). */
  def capPerGroup(df: DataFrame, textCol: String, groupCol: String,
                  idCol: String, n: Int,
                  prefilterAbove: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, "n must be positive")
    require(prefilterAbove > 0, "prefilterAbove must be positive")
    val reserved = Set("__h", "__rn", "__cnt", "__cg")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"capPerGroup reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val hashed = df.withColumn("__h", expr(H.rollingHash(textCol)))
    val counts = hashed.groupBy(col(groupCol))
      .agg(countDistinct(col("__h")).as("__cnt"))
      .withColumnRenamed(groupCol, "__cg")
    val hashMod = 1000000007L // rollingHash range
    val target = 4L * n + 256L
    // NULL-SAFE counts join: a NULL group is a normal window partition
    // and must keep its rows (an inner equi-join would drop them)
    val withH = hashed
      .join(broadcast(counts), col(groupCol) <=> col("__cg"))
      // NULL hashes (null text) rank FIRST in the window's nulls-first
      // order, so the prune must always keep them
      .where(col("__cnt") <= prefilterAbove || col("__h").isNull ||
        col("__h") < ceil(lit(hashMod.toDouble) * lit(target.toDouble) / col("__cnt")).cast("long"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__h"), col(idCol))
    withH.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= n)
      .drop("__h", "__rn", "__cnt", "__cg")
  }

  /** Round-robin source interleaving for training order: every row
    * gets an `epoch` = its position within its source (content-hash
    * order, `idCol` tiebreak — deterministic, no `rand()`), so
    * sorting by `(epoch, source, id)` yields
    * `src_a[0] src_b[0] … src_a[1] src_b[1] …` — each training
    * window sees every source before any source repeats, the
    * standard guard against source-ordering curricula the model
    * never chose.
    *
    * `epoch` is BIGINT (since the two-phase rank conversion: rank +
    * bucket offset, values unchanged) — callers that pinned the
    * pre-conversion IntegerType schema should widen; a 100 TB source
    * overflows int32 positions anyway.
    *
    * Scale shape: the per-source rank is TWO-PHASE — the content
    * hash is uniform on [0, P), so fixed-width hash buckets split
    * every source into `buckets` ranges whose counts give exact
    * per-bucket rank offsets (a dim-sized prefix sum, no
    * approxQuantile pass); the rank window then partitions by
    * (source, bucket) and sorts only a 1/buckets slice. A plain
    * per-source window would funnel each source — a handful of
    * values over a 100 TB corpus — through ONE reducer's sort.
    * Bucketing by a monotone function of the sort key keeps the
    * assignment EXACTLY the plain window's (spec-pinned).
    * Materializing the interleaved order afterwards is
    * `repartitionByRange(epoch, source)` + in-partition sort — or
    * feed `epoch` to
    * [[graft.operators.Sequencing.withGlobalOrdinals]] when a dense
    * global position is required. */
  def interleaveSources(df: DataFrame, sourceCol: String, textCol: String,
                        idCol: String, buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!df.columns.contains("epoch"),
      "interleaveSources reserves column name epoch")
    require(buckets >= 1 && buckets <= (1 << 20),
      "buckets must be in [1, 2^20]")
    val reserved = Set("__h", "__bkt", "__c", "__off", "__osrc", "__obkt")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"interleaveSources reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val hashMod = 1000000007L // rollingHash range
    // bucket = floor(h·B/P): monotone in h, so (bucket, h, id) is the
    // (h, id) order and two-phase rank ≡ the plain per-source window.
    // A NULL text hashes NULL → bucket -1, BEFORE every real bucket —
    // the window's nulls-first order; the offsets join is NULL-SAFE
    // on the source so a NULL source group keeps its rows (an inner
    // equi-join would silently drop them).
    val withB = df.withColumn("__h", expr(H.rollingHash(textCol)))
      .withColumn("__bkt", coalesce(
        (col("__h") * lit(buckets.toLong) / lit(hashMod)).cast("int"),
        lit(-1)))
    val offsets = withB
      .groupBy(col(sourceCol), col("__bkt"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off",
        sum(col("__c")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(sourceCol)).orderBy(col("__bkt"))) - col("__c"))
      .select(col(sourceCol).as("__osrc"), col("__bkt").as("__obkt"),
        col("__off"))
    val w = Window.partitionBy(col(sourceCol), col("__bkt"))
      .orderBy(col("__h"), col(idCol))
    withB.join(broadcast(offsets),
        col(sourceCol) <=> col("__osrc") && col("__bkt") <=> col("__obkt"))
      .withColumn("epoch",
        (row_number().over(w).cast("bigint") + col("__off")).cast("bigint"))
      .drop("__h", "__bkt", "__off", "__osrc", "__obkt")
  }

  /** Largest-remainder (Hamilton) budget apportionment: split an
    * integer token `budget` across keys proportionally to `countCol`,
    * exactly — `quota = floor(B·n/N)` plus one extra for the `R`
    * largest remainders (deterministic key tie-break), so quotas sum
    * to EXACTLY `B` and each is within 1 of proportional. The
    * mixing planner's missing piece between [[classWeights]] (rates)
    * and [[weightedSample]] (row selection): how many tokens each
    * source actually gets.
    *
    * All arithmetic is exact: products as DECIMAL(38,0) (a 100 TB
    * corpus at 1e14 tokens × a 1e12 budget overflows int64 —
    * decimals don't), quotient via integral `div`. The remainder
    * ranking windows over the KEY-cardinality frame (a dim table,
    * never corpus rows).
    *
    * Output: `(keyCol, countCol, quota)`. */
  def allocateBudget(counts: DataFrame, keyCol: String, countCol: String,
                     budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 0, "budget must be non-negative")
    val tot = counts.agg(
      sum(col(countCol).cast("decimal(38,0)")).as("__N"))
    val base = counts.crossJoin(broadcast(tot))
      .withColumn("__p", col(countCol).cast("decimal(38,0)") * lit(budget))
      .withColumn("__qf", expr("__p div __N"))
      .withColumn("__rem", col("__p") - col("__qf").cast("decimal(38,0)") * col("__N"))
    val leftover = base.agg((lit(budget) - sum(col("__qf"))).as("__R"))
    base.crossJoin(broadcast(leftover))
      .withColumn("__rk",
        row_number().over(Window.orderBy(col("__rem").desc, col(keyCol))))
      .withColumn("quota",
        // an all-zero counts frame makes __N = 0 and every __qf NULL;
        // allocate nothing rather than emit NULL quotas
        coalesce(
          (col("__qf") + when(col("__rk") <= col("__R"), 1L).otherwise(0L))
            .cast("long"),
          lit(0L)))
      .select(col(keyCol), col(countCol), col("quota"))
  }

  /** Execute a quota plan: keep the first `quota` rows of each group
    * in content-hash order (`rollingHash(textCol)`, `idCol`
    * tiebreak) — [[allocateBudget]]'s execution half, generalizing
    * [[capPerGroup]] from one static cap to per-group quotas. The
    * same determinism contract: re-runs and retries select identical
    * rows, no rand().
    *
    * Scale shape: quotas are a broadcast dim; the selection is one
    * group-keyed window. Groups with more than `prefilterAbove`
    * DISTINCT content hashes are first PRUNED map-side to the hash
    * range expected to hold ~`4·quota + 256` distinct hashes
    * ([[capPerGroup]]'s bound, quota in place of n — same e^−95
    * shortfall probability; survivors are a PREFIX of the `(hash,
    * id)` total order and carry at least one row per surviving hash,
    * so prune + window ≡ window alone); the window then sorts only
    * the pruned survivors, never a whole corpus-sized group. Gating
    * on DISTINCT hashes (not row count) keeps duplicate-heavy groups
    * on the exact path automatically: a group of 10⁹ copies of one
    * boilerplate text has ONE hash value, never qualifies for the
    * prune, and selects exactly — a row-count gate would drop that
    * single hash wholesale with probability ~1 − quota/count. NULL
    * texts always survive the prune. */
  def takeQuotas(df: DataFrame, textCol: String, groupCol: String,
                 idCol: String, quotas: DataFrame,
                 prefilterAbove: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(quotas.columns.toSet == Set(groupCol, "quota"),
      s"quotas must have exactly columns ($groupCol, quota), got ${quotas.columns.toSeq}")
    require(prefilterAbove > 0, "prefilterAbove must be positive")
    val reserved = Set("__h", "__rn", "__cnt", "quota", "__cg", "__qg")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"takeQuotas reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val hashed = df.withColumn("__h", expr(H.rollingHash(textCol)))
    // __cnt = DISTINCT hash count (exact, partial-aggregated): both
    // the prefilter gate and the range bound's denominator — the
    // uniform-hash shortfall analysis is over distinct values, and
    // the gate must not fire on duplicate-heavy groups
    val counts = hashed.groupBy(col(groupCol))
      .agg(countDistinct(col("__h")).as("__cnt"))
      .withColumnRenamed(groupCol, "__cg")
    val quotasR = quotas.withColumnRenamed(groupCol, "__qg")
    val hashMod = 1000000007L // rollingHash range
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__h"), col(idCol))
    // NULL-SAFE quota/counts joins: a NULL group with a NULL-key
    // quota row selects like any other group (equi-joins would drop
    // it); groups ABSENT from the quota plan still drop — that is
    // the plan's meaning
    hashed
      .join(broadcast(quotasR), col(groupCol) <=> col("__qg"))
      .join(broadcast(counts), col(groupCol) <=> col("__cg"))
      .where(col("__cnt") <= prefilterAbove || col("__h").isNull ||
        col("__h") < ceil(lit(hashMod.toDouble) *
          (lit(4.0) * col("quota") + lit(256.0)) / col("__cnt"))
          .cast("long"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= col("quota"))
      .drop("__h", "__rn", "__cnt", "quota", "__cg", "__qg")
  }

  /** Top-p (nucleus) selection per group: keep each group's
    * highest-`massCol` rows until their cumulative mass first reaches
    * `pPermille`/1000 of the group's total — "the best documents
    * carrying half of every source's tokens", the mass-targeted
    * cousin of [[capPerGroup]]'s count cap (a count cap keeps 1000
    * docs whether they hold 1% or 90% of the tokens; a mass cap keeps
    * exactly the share the token budget means). A row is kept iff
    * `1000·(mass strictly before it) < p·total` in the pinned
    * `(mass desc, id)` order — exact integer cross-multiplication, no
    * float thresholds, so selection is engine/partitioning/retry
    * invariant. All-zero-mass groups keep nothing (0 < 0 fails);
    * null/negative mass raises loudly.
    *
    * Scale shape: one group-keyed shuffle feeding two windows over
    * the same partitioning (running strict-before sum + group total)
    * — the sessionize shape; nothing global, nothing collected. */
  def takeTopShare(df: DataFrame, groupCol: String, massCol: String,
                   idCol: String, pPermille: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pPermille >= 1 && pPermille <= 1000,
      s"pPermille must be in [1, 1000], got $pPermille")
    val reserved = Set("__m", "__cumb", "__tot")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"takeTopShare reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val guarded = df.withColumn("__m", expr(
      s"CASE WHEN $massCol IS NULL OR $massCol < 0 " +
        s"THEN raise_error('takeTopShare: null/negative $massCol') " +
        s"ELSE CAST($massCol AS BIGINT) END"))
    val wOrd = Window.partitionBy(col(groupCol))
      .orderBy(col("__m").desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col(groupCol))
    guarded
      .withColumn("__cumb", coalesce(sum(col("__m")).over(wOrd), lit(0L)))
      .withColumn("__tot", sum(col("__m")).over(wAll))
      .where(expr(s"CAST(1000 AS DECIMAL(38,0)) * __cumb " +
        s"< CAST($pPermille AS DECIMAL(38,0)) * __tot"))
      .drop("__m", "__cumb", "__tot")
  }

  /** Target-distribution downsample (histogram matching): keep the
    * LARGEST subset of `df` whose `bucketCol` histogram matches the
    * target shares exactly (up to integral-divide floors) — the
    * "rebalance this corpus to 40% en / 20% de / ..." step, where
    * [[weightedSample]] scales each source by an absolute rate but
    * cannot promise the OUTPUT proportions. Water-filling: the kept
    * total is `T = min over buckets of (n_b·1000 div p_b)` (the
    * first bucket to run dry sets the level) and each bucket keeps
    * `T·p_b div 1000` rows in content-hash order via [[takeQuotas]]
    * — deterministic, no rand(), retry-stable.
    *
    * `target` must be exactly `(bucketCol, target_permille)` with
    * shares summing to 1000; it is collect()-validated and the join
    * side rebuilt from the validated snapshot (the [[weightedSample]]
    * discipline). A df bucket missing from the target fails the job
    * loudly; a target bucket absent from df makes that distribution
    * unmatchable → T = 0 → empty result (documented, not an error —
    * the caller asked for a share of something that isn't there).
    *
    * Scale shape: counts are one bucket-keyed aggregation; the level
    * and quotas live on bucket-cardinality frames; selection is
    * [[takeQuotas]]'s one group-keyed window. */
  def matchDistribution(df: DataFrame, textCol: String, bucketCol: String,
                        idCol: String, target: DataFrame): DataFrame = {
    require(target.columns.toSet == Set(bucketCol, "target_permille"),
      s"target must have exactly columns ($bucketCol, target_permille), " +
        s"got ${target.columns.toSeq}")
    val rows = target.select(col(bucketCol), col("target_permille").cast("long")).collect()
    require(rows.map(_.get(0)).distinct.length == rows.length,
      "target must have one row per bucket")
    rows.foreach { r =>
      require(!r.isNullAt(1) && r.getLong(1) >= 0 && r.getLong(1) <= 1000,
        s"target_permille for bucket '${r.get(0)}' must be in [0, 1000], got ${r.get(1)}")
    }
    require(rows.map(_.getLong(1)).sum == 1000L,
      s"target shares must sum to 1000, got ${rows.map(_.getLong(1)).sum}")
    val validated = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(bucketCol,
          target.schema(bucketCol).dataType),
        org.apache.spark.sql.types.StructField("__tp",
          org.apache.spark.sql.types.LongType))))
    val counts = df.groupBy(col(bucketCol))
      .agg(count(lit(1)).cast("decimal(38,0)").as("__n"))
    // FULL join: df buckets missing from the target must raise (below),
    // target buckets missing from df must count as n = 0 (they pull
    // the water level to 0 — absent mass is unmatchable).
    val joined = counts.join(validated, Seq(bucketCol), "full")
      .withColumn("__tp", expr(
        s"CASE WHEN __tp IS NOT NULL THEN __tp " +
          s"ELSE raise_error('matchDistribution: no target share for bucket ' " +
          s"|| CAST($bucketCol AS STRING)) END"))
      .withColumn("__n", coalesce(col("__n"), lit(0).cast("decimal(38,0)")))
    val level = joined.where(col("__tp") > 0)
      .agg(min(expr("(__n * 1000) div __tp")).as("__T"))
    val quotas = joined.crossJoin(broadcast(level))
      .withColumn("quota", expr(
        "coalesce((CAST(__T AS DECIMAL(38,0)) * __tp) div 1000, 0)"))
      .select(col(bucketCol), col("quota"))
    takeQuotas(df, textCol, bucketCol, idCol, quotas)
  }

  /** Per-source label purity: each source's dominant class and its
    * share — the mixing-QA check that a "books" source really is
    * books (a low-purity source is mislabeled or needs re-routing
    * before its weight means anything). Argmax via ordered-struct
    * max (one aggregate, deterministic highest-label tie-break —
    * labels may be any orderable type, so no negation trick);
    * `purity = n_top / n_docs` is one exact-integer division.
    *
    * Output: `(source, n_docs, top_label, purity)`. */
  def sourcePurity(df: DataFrame, sourceCol: String, labelCol: String): DataFrame =
    df.groupBy(col(sourceCol).as("source"), col(labelCol).as("__lab"))
      .agg(count(lit(1)).cast("bigint").as("__n"))
      .groupBy(col("source"))
      .agg(
        sum(col("__n")).cast("bigint").as("n_docs"),
        max(struct(col("__n").as("n"), col("__lab").as("lab"))).as("__m"))
      .select(col("source"), col("n_docs"),
        col("__m.lab").as("top_label"),
        (col("__m.n").cast("double") / col("n_docs").cast("double")).as("purity"))

  /** Inverse-frequency class weights — `n_total / (k · n_class)` per
    * class (sklearn's "balanced" convention: weights average to 1
    * over the corpus) — the loss-reweighting / oversampling dual of
    * [[weightedSample]]. One aggregation pass for the class counts;
    * the totals frame is a broadcast scalar; the single division is
    * exact-rounded IEEE, bitwise across engines.
    *
    * Output: `(class, n_class, weight)`. */
  def classWeights(df: DataFrame, classCol: String): DataFrame = {
    val c = df.groupBy(col(classCol).as("class"))
      .agg(count(lit(1)).cast("bigint").as("n_class"))
    val t = c.agg(sum(col("n_class")).cast("bigint").as("n_total"),
      count(lit(1)).cast("bigint").as("k"))
    c.crossJoin(broadcast(t))
      .withColumn("weight",
        col("n_total").cast("double") / (col("k") * col("n_class")).cast("double"))
      .select(col("class"), col("n_class"), col("weight"))
  }

  /** Capped (water-filling) budget allocation — [[allocateBudget]]'s
    * missing constraint: proportional shares can EXCEED what a small
    * source has. Here each group holds `availCol` units and the
    * budget fills groups to a common LEVEL: groups with less than the
    * level give everything, the rest take the level (+1 unit for the
    * first `remainder` of them in key order) — the classic
    * water-filling solution, so no group exceeds its availability and
    * the totals match the budget exactly (or Σavail when the budget
    * exceeds supply).
    *
    * Exactness: pivot search, level, and remainder are pure integer
    * arithmetic over the availability-sorted profile — no float water
    * level, deterministic and engine-portable.
    *
    * Scale shape: the solve runs on the collected GROUP table
    * (dimension-sized by contract — the same assumption behind
    * [[allocateBudget]]'s leftover window); the corpus itself never
    * moves, and the quota map joins back as a broadcast.
    * Null/negative availabilities raise.
    *
    * Output: `(keyCol, availCol, quota)`. */
  def allocateCapped(counts: DataFrame, keyCol: String, availCol: String,
                     budget: Long): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val spark = counts.sparkSession
    import spark.implicits._
    // The group table is dimension-sized by contract (the same
    // assumption as allocateBudget's leftover window): collect the
    // sorted availability profile and solve the level exactly on the
    // driver — integer arithmetic, no float water level.
    val rows = counts.select(col(keyCol).cast("string"),
      col(availCol).cast("long")).collect()
      .map { r =>
        require(!r.isNullAt(1) && r.getLong(1) >= 0,
          s"allocateCapped: null/negative $availCol for key ${r.getString(0)}")
        (r.getString(0), r.getLong(1))
      }
      .sortBy { case (k, a) => (a, k) }
    val supply = rows.map(_._2).sum
    val quotas: Map[String, Long] =
      if (budget >= supply) rows.toMap
      else {
        val n = rows.length
        var j = 0
        var pj = 0L // availability consumed by the j fully-drained groups
        while (j < n && pj + (n - j).toLong * rows(j)._2 < budget) {
          pj += rows(j)._2; j += 1
        }
        val m = (n - j).toLong
        val level = (budget - pj) / m
        val extra = (budget - pj) % m
        val full = rows.take(j).toMap
        val levelKeys = rows.drop(j).map(_._1).sorted // +1 by key order
        full ++ levelKeys.zipWithIndex.map { case (k, idx) =>
          k -> (level + (if (idx < extra) 1L else 0L))
        }
      }
    val qDf = quotas.toSeq.toDF("__k", "quota")
    counts.select(col(keyCol), col(availCol))
      .join(broadcast(qDf), col(keyCol).cast("string") === col("__k"))
      .drop("__k")
  }

  /** Deterministic k-fold assignment for cross-validation splits:
    * `fold = rollingHash(textCol) % k` — content-addressed like every
    * graft split (q52's two-way hash split generalized), so folds are
    * stable across re-runs, engines, and corpus re-partitioning, and
    * a document always lands in the same fold even when the corpus
    * around it changes. Per-row expression, no shuffle. */
  def withFold(df: DataFrame, textCol: String, k: Int,
               out: String = "fold"): DataFrame = {
    require(k >= 2, "k must be at least 2")
    require(!df.columns.contains(out), s"withFold reserves $out")
    import graft.functions.TextHash.{spark => H}
    df.withColumn(out, (expr(H.rollingHash(textCol)) % k).cast("int"))
  }

  /** Lorenz curve of mass concentration over entities: entities
    * ranked ascending by their total mass, cut into `nBuckets`
    * equal-population buckets, each reporting its entity count, mass,
    * and the CUMULATIVE mass share `cum_share_ppm` — the classic
    * inequality curve ([[groupGini]] is its scalar area; the curve
    * shows WHERE the skew lives: "the top decile of users carries 61%
    * of traffic"). Bucket `b` of entity rank `r` (1-based, of `n`) is
    * `((r−1)·nBuckets) div n`. Integer-exact end to end.
    *
    * Scale shape: per-entity mass is one keyed aggregation; entity
    * ranking rides [[Sequencing.withGlobalOrdinals]] (bucket
    * decomposition, no single-reducer window over entities); the
    * cumulative share is a window over the `nBuckets`-row bucket
    * table only.
    */
  def lorenzCurve(df: DataFrame, entityCol: String, massCol: String,
                  nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, "nBuckets must be at least 2")
    val mass = df.groupBy(col(entityCol).as("__e"))
      .agg(sum(col(massCol)).cast("bigint").as("__m"))
    val ranked = graft.operators.Sequencing.withGlobalOrdinals(
      mass, "__m", "__e")
    val tot = mass.agg(count(lit(1)).cast("bigint").as("__n"),
      sum(col("__m")).cast("bigint").as("__t"))
    val buckets = ranked.crossJoin(broadcast(tot))
      .withColumn("bucket", expr(s"((ordinal - 1L) * ${nBuckets}L) div __n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("bigint").as("n_entities"),
        sum(col("__m")).cast("bigint").as("mass"),
        first(col("__t")).as("__t"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    buckets
      .withColumn("__cum", sum(col("mass")).over(w))
      // decimal headroom: 1e6 × a corpus-scale mass total overflows
      // a BIGINT long before the share itself does
      .withColumn("cum_share_ppm", expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * __cum) div __t AS BIGINT)"))
      .select(col("bucket"), col("n_entities"), col("mass"),
        col("cum_share_ppm"))
      .orderBy(col("bucket"))
  }

  /** Herfindahl–Hirschman concentration of `subCol` within each
    * `groupCol`: `hhi_ppm = (1e6 · Σ_s n_s²) div N²` — 1e6 means one
    * sub-group owns everything, `1e6/k` means k equal sub-groups. The
    * per-group scalar complement of [[lorenzCurve]]; the standard
    * "is this language served by one source?" diversity gauge.
    * One (group, sub) count + one group fold — all map-side
    * combinable, dimension-sized output. */
  def concentrationIndex(df: DataFrame, groupCol: String,
                         subCol: String): DataFrame =
    df.groupBy(col(groupCol), col(subCol))
      .agg(count(lit(1)).cast("bigint").as("__n"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("bigint").as("n_subgroups"),
        sum(col("__n")).cast("bigint").as("n_rows"),
        sum(expr("CAST(__n AS DECIMAL(38,0)) * __n")).as("__sq"))
      .withColumn("hhi_ppm", expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * __sq) div " +
          "(CAST(n_rows AS DECIMAL(38,0)) * n_rows) AS BIGINT)"))
      .select(col(groupCol), col("n_subgroups"), col("n_rows"), col("hhi_ppm"))

  /** GROUP-aware train/eval split: every row of a group lands in the
    * same split, decided by the portable rolling hash of the group
    * key's string form (`hash(group) mod 1000 < trainPermille` →
    * "train", else "eval"). This is the leakage-safe sibling of
    * [[withFold]]: splitting documents of one author / sessions of
    * one user independently leaks near-duplicate context across the
    * boundary; hashing the GROUP makes the split a pure function of
    * the entity. Deterministic, engine-reproducible, no shuffle —
    * one per-row scalar hash (the split needs no coordination
    * precisely because it is a function of the key).
    */
  def groupSplit(df: DataFrame, groupCol: String, trainPermille: Int,
                 out: String = "split"): DataFrame = {
    require(trainPermille >= 1 && trainPermille <= 999,
      "trainPermille must be in [1, 999]")
    require(!df.columns.contains(out), s"groupSplit reserves $out")
    import graft.functions.TextHash.{spark => H, MixA, MixB, P}
    // seeded remix after the rolling hash: raw hashes of SHORT keys
    // (small integer ids as strings) are numerically tiny and mod-1000
    // biased — the same short-token bias tokenHashesWide documents;
    // the affine map mod P uniformizes the low digits.
    val h = H.rollingHash(s"CAST($groupCol AS STRING)")
    df.withColumn(out,
      when(expr(s"((${MixA}L * $h + ${MixB}L) % ${P}L) % 1000L")
        < trainPermille, "train").otherwise("eval"))
  }

  /** Gini coefficient of the group-size distribution — the mixture-
    * balance scalar (0 = perfectly even groups, → 1 = one group
    * dominates): computed EXACTLY on sorted counts,
    * `gini_ppm = 1e6 · Σᵢ (2i − n − 1)·cᵢ  div  (n · Σc)` with `i`
    * the 1-based ascending rank — integer arithmetic end to end, no
    * float sum. Group table is dimension-sized, so the rank window
    * over it is bounded; output one row `(n_groups, n_rows,
    * gini_ppm)`. */
  def groupGini(df: DataFrame, groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = df.groupBy(col(groupCol)).agg(count(lit(1)).cast("bigint").as("__c"))
    val ranked = c.withColumn("__i",
      row_number().over(Window.orderBy(col("__c"), col(groupCol))).cast("long"))
    ranked.agg(
      count(lit(1)).cast("bigint").as("n_groups"),
      sum(col("__c")).cast("bigint").as("n_rows"),
      sum((lit(2L) * col("__i")).cast("decimal(38,0)") * col("__c")).as("__a"),
      sum(col("__c").cast("decimal(38,0)")).as("__s"))
      .withColumn("gini_ppm", expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * (__a - (n_groups + 1) * __s)) " +
          "div (n_groups * __s) AS BIGINT)"))
      .select(col("n_groups"), col("n_rows"), col("gini_ppm"))
  }

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling — Xie et al., NeurIPS 2023): score every document by
    * how much its hashed-n-gram profile looks like a TARGET
    * distribution rather than the raw pool it sits in. Features are
    * whitespace unigrams + bigrams hashed into `buckets` buckets;
    * with add-1 smoothing, a document's log importance weight is
    * `Σ_features [log p_target(b) − log p_raw(b)]`. The classic use:
    * rank a 100 TB crawl by resemblance to a curated target corpus
    * and keep the top mass.
    *
    * Cross-engine exactness: libm `log` is not bitwise-portable
    * (oracle rule), so each log2 is the INTEGER bit-length surrogate
    * `length(bin(x))` = ⌊log2 x⌋ + 1, applied per factor —
    * `w(b) = L(c_tgt(b)+1) − L(c_raw(b)+1) + L(N_raw+B) − L(N_tgt+B)`
    * — factor-of-2 resolution, monotone in each count, exact 64-bit
    * integer math in both engines, and (unlike `L((c+1)·(N+B))`)
    * free of the product overflow that would cap corpus size at ~2³¹
    * features. Scores are integers; ties break on the caller's id.
    *
    * Scale shape (100 TB): one explode over the feature stream, then
    * a `(id, bucket)` partial-aggregated groupBy; bucket statistics
    * reduce THAT table (distinct-(doc,bucket)-bounded, not
    * feature-stream-bounded) to `buckets` rows; the weight dim is
    * `buckets`-sized and broadcast, so scoring adds no shuffle of the
    * big side beyond the final id-keyed aggregation. The per-doc
    * count table feeds THREE consumers (totals, the weight dim, the
    * scoring join), so it is localCheckpointed: one tokenize pass
    * over the wide text column, and every re-read touches only the
    * (doc, bucket)-bounded count frame.
    *
    * Output: `(idCol, iw_score, n_feats)` — one row per input row
    * (empty text still has the one `''` unigram, so `n_feats >= 1`).
    * `targetCol` must be a non-null boolean column marking the target
    * sample. */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  targetCol: String, buckets: Int = 512): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      "buckets must be in [2, 2^20]")
    val reserved = Set("__toks", "__bg", "__tgt", "__b", "__c", "__cq",
      "__cp", "__nq", "__np", "__w", "iw_score", "n_feats")
    val collisions = df.columns.toSet.intersect(reserved - targetCol)
    require(collisions.isEmpty,
      s"dsirWeights reserves ${reserved.mkString(", ")}; rename: ${collisions.mkString(", ")}")
    val feats = df
      .withColumn("__toks", split(col(textCol), " "))
      // sequence(1, 0) would step BACKWARD, so n < 2 short-circuits
      // to a typed empty array (repo-wide bigram idiom).
      .withColumn("__bg", expr(
        "CASE WHEN size(__toks) >= 2 THEN transform(sequence(1, size(__toks) - 1), " +
          "bi -> concat(element_at(__toks, bi), ' ', element_at(__toks, bi + 1))) " +
          "ELSE CAST(array() AS array<string>) END"))
      .select(col(idCol), col(targetCol).as("__tgt"),
        explode(expr(
          s"transform(concat(${H.hashArray("__toks")}, ${H.hashArray("__bg")}), " +
            s"h -> h % $buckets)")).as("__b"))
    val perDoc = feats.groupBy(col(idCol), col("__tgt"), col("__b"))
      .agg(count(lit(1)).cast("bigint").as("__c"))
      // three consumers (totals, dim, scoring join) would otherwise
      // re-run the tokenize+hash+explode over the WIDE text column
      // three times; the checkpointed frame is (doc, bucket)-bounded —
      // far narrower than the corpus it digests
      .localCheckpoint()
    val bucketStats = perDoc.groupBy(col("__b"))
      .agg(sum(col("__c")).cast("bigint").as("__cq"),
        sum(when(col("__tgt"), col("__c")).otherwise(0L)).cast("bigint").as("__cp"))
    val totals = bucketStats
      .agg(sum(col("__cq")).cast("bigint").as("__nq"),
        sum(col("__cp")).cast("bigint").as("__np"))
    val dim = bucketStats.crossJoin(broadcast(totals))
      .withColumn("__w", expr(
        s"CAST(length(bin(__cp + 1)) - length(bin(__cq + 1)) " +
          s"+ length(bin(__nq + $buckets)) - length(bin(__np + $buckets)) AS BIGINT)"))
      .select(col("__b"), col("__w"))
    perDoc.join(broadcast(dim), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum(col("__c") * col("__w")).cast("bigint").as("iw_score"),
        sum(col("__c")).cast("bigint").as("n_feats"))
  }

  /** Deterministic weighted priority sample: the global bottom-`k`
    * rows by the integer surrogate priority
    * `floor(u(text) · 10^6 / w)` with `u(text)` a seeded content hash
    * in `[0, P)` and `w = weightCol` a positive integer weight —
    * the exact-arithmetic stand-in for priority/A-ES weighted
    * reservoir sampling (Efraimidis & Spirakis 2006: draw `u^(1/w)`;
    * here larger weight ⇒ strictly non-increasing priority ⇒
    * monotonically more likely to make the cut, and the whole
    * selection is reproducible and engine-portable because it is
    * integer math on a content hash, not an RNG).
    *
    * Ties break on `(priority, idCol)`, so the selected set is a
    * total-order prefix — stable under partitioning, re-runs, and
    * engines.
    *
    * Scale shape (100 TB): per-row hash arithmetic inside whole-stage
    * codegen, then ONE global top-k (TakeOrderedAndProject: each
    * partition keeps its local k, the driver merges `partitions × k`
    * rows — never a full sort). `u·10^6 < (10^9+7)·10^6 ≈ 2^60`, no
    * 64-bit overflow.
    *
    * Output: input columns + `priority`, ordered `(priority, idCol)`.
    */
  def prioritySample(df: DataFrame, idCol: String, textCol: String,
                     weightCol: String, k: Int,
                     seedA: Long = 179424673L,
                     seedB: Long = 961748941L): DataFrame = {
    require(k >= 1, "k must be positive")
    require(seedA > 0 && seedA < TextHash.P && seedB >= 0 && seedB < TextHash.P,
      s"seeds must lie in (0, P) / [0, P), P = ${TextHash.P}")
    require(!df.columns.contains("priority"),
      "prioritySample reserves the column name 'priority'")
    // The guard wraps the weight itself so the optimizer cannot prune
    // it (repo-wide pattern): a null or non-positive weight raises
    // rather than silently producing a garbage priority.
    val guarded = s"CASE WHEN $weightCol IS NOT NULL AND $weightCol >= 1 " +
      s"THEN CAST($weightCol AS BIGINT) " +
      s"ELSE raise_error('prioritySample: weight must be a positive " +
      s"integer, got ' || coalesce(CAST($weightCol AS STRING), 'NULL')) END"
    val u = H.seeded(H.rollingHash(textCol), seedA, seedB)
    df.withColumn("priority", expr(s"($u * 1000000L) div ($guarded)"))
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  /** Neyman (variance-optimal) stratified sampling allocation: the
    * budget splits ∝ `N_h·S_h` — size × spread — which minimizes the
    * stratified mean's variance at fixed total n (the survey-
    * sampling optimum; [[allocateBudget]] alone is proportional
    * allocation, the S_h ≡ const special case). `S_h` is the
    * nearest-floor sample SD via the [[graft.util.ExactMath]] isqrt
    * of the exact integer variance quotient
    * `(nΣx² − (Σx)²) div (n(n−1))`; singleton or constant strata get
    * weight 0 (no spread — one sample tells you everything, and any
    * minimum-per-stratum floor is a policy knob applied downstream).
    * Rounding to integer quotas reuses [[allocateBudget]]'s
    * largest-remainder apportionment, so quotas sum to the budget
    * EXACTLY. Output: `(stratum, n_rows, sd_floor, weight, quota)`.
    *
    * Scale shape (100 TB): one map-side-combinable moment aggregate
    * per stratum; everything after runs on the stratum-cardinality
    * dimension frame (DECIMAL moments hold ~10¹² rows of ~10⁹-unit
    * values). */
  def neymanAllocation(df: DataFrame, stratumCol: String,
                       valueCol: String, budget: Long): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val d38 = "decimal(38,0)"
    val g = df.select(col(stratumCol).as("stratum"),
        col(valueCol).cast("bigint").as("__v"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).cast("bigint").as("n_rows"),
        sum(col("__v").cast(d38)).as("__s"),
        sum(expr(s"cast(__v as $d38) * __v")).as("__ss"))
      .withColumn("__varnum", expr("cast(n_rows as decimal(38,0)) * __ss - __s * __s"))
      .withColumn("__vden", expr("nullif(cast(n_rows as decimal(38,0)) * (n_rows - 1), 0)"))
      // exact DECIMAL floor division: (a - a % b) / b (graft pattern)
      .withColumn("__x", expr("(__varnum - __varnum % __vden) / __vden"))
      .transform(graft.util.ExactMath.withIsqrt(_, "__x", "__sd"))
      .withColumn("sd_floor", coalesce(col("__sd").cast("bigint"), lit(0L)))
      .withColumn("weight", expr("n_rows * sd_floor").cast("bigint"))
      .select(col("stratum"), col("n_rows"), col("sd_floor"), col("weight"))
    g.join(
      allocateBudget(g.select(col("stratum"), col("weight")),
        "stratum", "weight", budget).select(col("stratum"), col("quota")),
      Seq("stratum"))
  }

  /** Exact Shapley attribution of vocabulary coverage to k source
    * buckets — "which slice of the mixture actually contributes the
    * distinct tokens?", the fair-division answer (marginal counts
    * over every join order, not just first/last-in). `playerCol` must
    * be an integer bucket in [0, k); utility v(S) = number of
    * distinct tokens covered by the union of buckets in S. Output one
    * row per bucket: `(player, phi_xkfact, solo_coverage,
    * marginal_vs_rest)` where `phi_xkfact` = k!·φ_player — an exact
    * integer (Σ over players = k!·v(full set), the efficiency axiom,
    * assert-friendly); `solo_coverage` = v({i}); `marginal_vs_rest` =
    * v(N) − v(N∖{i}) (tokens ONLY this bucket has).
    *
    * Scale shape (100 TB): ONE corpus-sized aggregation (token →
    * presence bitmask via bit_or) collapses everything to ≤ 2^k−1
    * mask counts; the subset enumeration (2^k rows) and the Shapley
    * sum (k·2^k rows) are driver-sized broadcast crosses. k is
    * capped at 20 so masks fit comfortably and 2^k stays a dimension.
    */
  def vocabShapley(df: DataFrame, playerCol: String, textCol: String,
                   k: Int): DataFrame = {
    require(k >= 2 && k <= 20, "vocabShapley needs 2 <= k <= 20 buckets")
    def fact(n: Int): Long = (1 to n).foldLeft(1L)(_ * _)
    // |S|!·(k−1−|S|)! lookup spliced as a CASE on bit_count(S)
    val wCase = (0 until k).map(s =>
      s"WHEN ${s}L THEN ${fact(s) * fact(k - 1 - s)}L").mkString(" ")
    val guarded =
      s"""CASE WHEN CAST(`$playerCol` AS BIGINT) >= 0
         |       AND CAST(`$playerCol` AS BIGINT) < ${k}L
         |     THEN CAST(`$playerCol` AS BIGINT)
         |     ELSE raise_error(concat('vocabShapley: $playerCol out of [0, $k): ',
         |       coalesce(CAST(`$playerCol` AS STRING), 'NULL'))) END""".stripMargin
    val masks = df
      .select(expr(guarded).as("__p"),
        explode(expr(graft.functions.TextHash.spark.tokens(textCol))).as("__w"))
      .groupBy(col("__w"))
      .agg(expr("bit_or(shiftleft(1L, cast(__p as int)))").as("__m"))
      .groupBy(col("__m"))
      .agg(count(lit(1)).cast("bigint").as("__cm"))
    val subsets = masks.sparkSession.range(0, 1L << k).select(col("id").as("__S"))
    // v(S) per subset: tiny broadcast cross (2^k × ≤2^k−1 rows)
    val v = subsets.crossJoin(broadcast(masks))
      .groupBy(col("__S"))
      .agg(sum(when(expr("(__m & __S) != 0"), col("__cm")).otherwise(0L))
        .cast("bigint").as("__v"))
    val players = masks.sparkSession.range(0, k.toLong).select(col("id").as("__i"))
    // subsets NOT containing i, joined to v(S) and v(S ∪ {i})
    players.crossJoin(broadcast(v.select(col("__S"), col("__v").as("__vS"))))
      .where(expr("(shiftleft(1L, cast(__i as int)) & __S) = 0"))
      .withColumn("__Si", expr("__S | shiftleft(1L, cast(__i as int))"))
      .join(broadcast(v.select(col("__S").as("__Si"), col("__v").as("__vSi"))),
        Seq("__Si"))
      .groupBy(col("__i"))
      .agg(sum(expr(s"(CASE bit_count(__S) $wCase END) * (__vSi - __vS)"))
        .cast("bigint").as("phi_xkfact"))
      .join(broadcast(v.select(col("__S"), col("__v"))
        .withColumnRenamed("__v", "__solo")), // v({i})
        expr("__S = shiftleft(1L, cast(__i as int))"))
      .join(broadcast(v.select(col("__S").as("__Srest"), col("__v").as("__vrest"))),
        expr(s"__Srest = ${(1L << k) - 1}L - shiftleft(1L, cast(__i as int))"))
      .join(broadcast(v.select(col("__S").as("__Sfull"), col("__v").as("__vfull"))),
        expr(s"__Sfull = ${(1L << k) - 1}L"))
      .select(col("__i").as("player"), col("phi_xkfact"),
        col("__solo").cast("bigint").as("solo_coverage"),
        (col("__vfull") - col("__vrest")).cast("bigint").as("marginal_vs_rest"))
  }

  /** Horvitz–Thompson stratified total estimate with a standard
    * error — the ESTIMATION third of the survey-sampling pipeline
    * (allocation: [[neymanAllocation]]; selection: hash samples;
    * this: what the full total IS, and how sure we are). The sample
    * is deterministic bottom-`nPerStratum` by the remixed content
    * hash of `keyCol` (rerun/retry-stable, the [[groupSplit]] remix
    * discipline); per stratum the estimate is the exact floored
    * `N_h·Σsample div n_h` and the SE is
    * `isqrt(N_h·(N_h−n_h)·s²_num div (n_h·(n_h−1)·n_h))` with
    * `s²_num = n_h·Σv² − (Σv)²` on DECIMAL(38,0) — finite-population
    * corrected, integer-exact, engine-agnostic. Strata with fewer
    * than 2 sampled rows report NULL SE (no variance evidence). One
    * row per stratum: `(stratum, n_pop, n_sample, sum_sample,
    * est_total, se)` — all in `valueCol`'s own integer units.
    *
    * Scale shape (100 TB): the sample is a TWO-PHASE bottom-k — a
    * k-bounded heap per map partition per stratum
    * (`graft_bottom_k`, partial-aggregated), merged per stratum — so
    * only k·strata·partitions summary rows ever shuffle and no task
    * sorts a stratum. (The previous per-stratum rank window funneled
    * each stratum through ONE reducer's sort: strata scale out, but a
    * ~10-value stratum key scales each stratum UP into one task.)
    * Population counts and sample moments stay keyed map-side
    * aggregations. Nothing global. */
  def horvitzThompson(df: DataFrame, stratumCol: String, valueCol: String,
                      keyCol: String, nPerStratum: Long): DataFrame = {
    import graft.functions.TextHash.{spark => H, MixA, MixB, P}
    require(nPerStratum >= 2 && nPerStratum <= (1L << 22),
      "nPerStratum must be in [2, 2^22]")
    val h = s"((${MixA}L * ${H.rollingHash(s"CAST(`$keyCol` AS STRING)")} " +
      s"+ ${MixB}L) % ${P}L)"
    val base = df.select(col(stratumCol).as("__s"),
      col(valueCol).cast("bigint").as("__v"),
      expr(h).as("__h"), col(keyCol).as("__key"))
    val pop = base.groupBy(col("__s"))
      .agg(count(lit(1)).cast("bigint").as("__np"))
    // bottom-k by (__h, __key) with __v riding along in the struct;
    // __key is unique per row (the sample contract), so the struct
    // order ≡ the rank-window order and the kept set is identical
    val moments = base
      .groupBy(col("__s"))
      .agg(expr(s"graft_bottom_k(struct(__h, __key, __v), ${nPerStratum}L)")
        .as("__smp"))
      .select(col("__s"), explode(col("__smp.__v")).as("__v"))
      .groupBy(col("__s"))
      .agg(count(lit(1)).cast("bigint").as("__n"),
        sum(col("__v")).cast("bigint").as("__sum"),
        sum(expr("cast(__v as decimal(38,0)) * __v")).as("__ss"))
    moments.join(broadcast(pop), Seq("__s"))
      .withColumn("__est", expr(
        """CASE WHEN cast(__np as decimal(38,0)) * __sum >= 0
          |  THEN cast((cast(__np as decimal(38,0)) * __sum) div __n as bigint)
          |  ELSE -cast((cast(__np as decimal(38,0)) * -__sum) div __n as bigint)
          |END""".stripMargin))
      .withColumn("__s2num", expr(
        "cast(__n as decimal(38,0)) * __ss " +
          "- cast(__sum as decimal(38,0)) * __sum"))
      .withColumn("__q", expr(
        """CASE WHEN __n >= 2 AND __np > __n THEN
          |  (cast(__np as decimal(38,0)) * (__np - __n) * __s2num)
          |    div (cast(__n as decimal(38,0)) * (__n - 1) * __n)
          |ELSE cast(0 as decimal(38,0)) END""".stripMargin))
      .transform(graft.util.ExactMath.withIsqrt(_, "__q", "__se"))
      .select(col("__s").as("stratum"), col("__np").as("n_pop"),
        col("__n").as("n_sample"), col("__sum").as("sum_sample"),
        col("__est").as("est_total"),
        expr("CASE WHEN __n < 2 THEN NULL ELSE cast(__se as bigint) END")
          .cast("bigint").as("se"))
  }

  /** Ratio estimator of a stratified total — when an AUXILIARY
    * variable `x` is cheap to total over the whole population
    * (bytes, event counts) but the TARGET `y` is only known on the
    * sample, `est = X_total · Σy_s div Σx_s` beats plain
    * extrapolation whenever y tracks x (the classic survey
    * estimator; exact floored integers, sign-split on DECIMAL).
    * Sample = the same deterministic bottom-n remixed-hash selection
    * as [[horvitzThompson]]. One row per stratum: `(stratum, n_pop,
    * n_sample, x_pop_total, sum_x_sample, sum_y_sample, est_total)`;
    * a zero sampled auxiliary mass yields NULL (no ratio evidence).
    *
    * Scale shape (100 TB): identical to [[horvitzThompson]] — keyed
    * aggregations + a two-phase `graft_bottom_k` sample (k-bounded
    * heaps partial-aggregated per partition, merged per stratum; no
    * per-stratum sort ever runs in one task). */
  def ratioEstimator(df: DataFrame, stratumCol: String, yCol: String,
                     xCol: String, keyCol: String,
                     nPerStratum: Long): DataFrame = {
    import graft.functions.TextHash.{spark => H, MixA, MixB, P}
    require(nPerStratum >= 1 && nPerStratum <= (1L << 22),
      "nPerStratum must be in [1, 2^22]")
    val h = s"((${MixA}L * ${H.rollingHash(s"CAST(`$keyCol` AS STRING)")} " +
      s"+ ${MixB}L) % ${P}L)"
    val base = df.select(col(stratumCol).as("__s"),
      col(yCol).cast("bigint").as("__y"), col(xCol).cast("bigint").as("__x"),
      expr(h).as("__h"), col(keyCol).as("__key"))
    val pop = base.groupBy(col("__s"))
      .agg(count(lit(1)).cast("bigint").as("__np"),
        sum(col("__x")).cast("bigint").as("__xt"))
    base
      .groupBy(col("__s"))
      .agg(expr(s"graft_bottom_k(struct(__h, __key, __x, __y), " +
        s"${nPerStratum}L)").as("__smp"))
      .select(col("__s"), explode(col("__smp")).as("__r"))
      .groupBy(col("__s"))
      .agg(count(lit(1)).cast("bigint").as("__n"),
        sum(col("__r.__x")).cast("bigint").as("__sx"),
        sum(col("__r.__y")).cast("bigint").as("__sy"))
      .join(broadcast(pop), Seq("__s"))
      .select(col("__s").as("stratum"), col("__np").as("n_pop"),
        col("__n").as("n_sample"), col("__xt").as("x_pop_total"),
        col("__sx").as("sum_x_sample"), col("__sy").as("sum_y_sample"),
        expr(
          """CASE WHEN __sx <= 0 THEN NULL
            |WHEN cast(__xt as decimal(38,0)) * __sy >= 0
            |  THEN cast((cast(__xt as decimal(38,0)) * __sy) div __sx as bigint)
            |ELSE -cast((cast(__xt as decimal(38,0)) * -__sy) div __sx as bigint)
            |END""".stripMargin).cast("bigint").as("est_total"))
  }

  /** Iterative proportional fitting (raking) of a two-way
    * contingency to UNIFORM margins — the classic survey-calibration
    * step, here the mixture-rebalancing answer to "what per-cell
    * weights make every source and every language carry equal mass?"
    * Weights live in ppm integers (start 10⁶); each of `iters` full
    * iterations applies the row scaling then the column scaling,
    * every update one floored integer division
    * `w' = (w·T) div X` with `T = (10⁶·N) div R` the uniform margin
    * target (ppm-count) and `X = Σ cnt·w` the current weighted
    * margin. Deterministic to the last ppm on any engine; floors lose
    * < 1 ppm per step (documented quantization, `iters` is typically
    * ≤ 5 — IPF converges geometrically).
    *
    * Output: one row per observed cell `(row_key, col_key, n,
    * w_ppm)`.
    *
    * Scale shape (100 TB): the corpus collapses to the R×C cell
    * frame in one map-side-combinable aggregation; every scaling
    * step is a margin aggregation + broadcast join on that
    * dimension-sized frame. Nothing unit-level ever reshuffles.
    * Each iteration's cell frame is localCheckpointed: a scale step
    * references its input TWICE (margin aggregate + join back), so a
    * lazy fold doubles the plan per step — 4^iters copies of the
    * cell scan by the end (q370's physical plan carried 632
    * Exchanges before the conversion). One R×C-bounded
    * materialization job per iteration keeps the plan linear; spent
    * intermediates are freed eagerly (the hits()/labelPropagation
    * pattern), cells0 stays live because every step's broadcast
    * `tot` scans it. */
  def ipfRaking(df: DataFrame, rowCol: String, colCol: String,
                iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 10, "iters must be in [1, 10]")
    val cells0 = df.groupBy(col(rowCol).as("row_key"), col(colCol).as("col_key"))
      .agg(count(lit(1)).cast("bigint").as("n"))
      .withColumn("w_ppm", lit(1000000L))
      .localCheckpoint()
    val tot = cells0.agg(sum(col("n")).cast("bigint").as("__N"),
      countDistinct(col("row_key")).cast("bigint").as("__R"),
      countDistinct(col("col_key")).cast("bigint").as("__C"))
    def scale(cells: DataFrame, key: String, denomKey: String): DataFrame = {
      val margin = cells.groupBy(col(key))
        .agg(sum(expr("n * w_ppm")).cast("bigint").as("__X"))
      cells.join(broadcast(margin), Seq(key))
        .crossJoin(broadcast(tot))
        .withColumn("w_ppm", expr(
          s"(w_ppm * ((1000000L * __N) div $denomKey)) div __X"))
        .select(col("row_key"), col("col_key"), col("n"), col("w_ppm"))
    }
    val spent = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val out = (1 to iters).foldLeft(cells0) { (cells, it) =>
      val next = scale(scale(cells, "row_key", "__R"), "col_key", "__C")
      // The LAST iteration stays lazy: its plan reads the previous
      // checkpoint four times (two shallow scale steps) — two cheap
      // re-reads beat one more materialization job.
      if (it == iters) next
      else {
        val ck = next.localCheckpoint()
        if (cells ne cells0) spent += cells
        ck
      }
    }
    spent.foreach(Checkpoints.free(_))
    out
  }
}
