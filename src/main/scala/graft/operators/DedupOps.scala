package graft.operators

import graft.functions.TextHash
import graft.util.{Checkpoints, DriverBudget}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Deduplication operators (exact + near-dup) for document corpora.
  *
  * Scale design (100 TB): every technique here is
  * blocking/bucketing-based so the candidate-pair space is bounded by
  * bucket sizes, never the full n² cross join:
  *
  *  - exact: hash-groupBy on a content digest (one shuffle on the
  *    digest — the minimum possible);
  *  - MinHash+LSH: shingle → signature (per-row, codegen'd) → band
  *    keys → ONE self-join on (band, band key) for all bands
  *    (candidate pairs only within identical-band buckets, the standard
  *    LSH guarantee), then exact Jaccard verification restricted to
  *    candidates;
  *  - blocked Jaccard: equality-blocking on a cheap prefix key.
  *
  * AQE's skew-join splitting handles a pathological hot bucket at
  * runtime; at cluster scale the band-key join would also be salted.
  */
object DedupOps {

  import TextHash.{spark => H}

  /** Per-group exact-duplicate stats: rows vs distinct content digests. */
  def exactDupStats(df: DataFrame, textCol: String, groupCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col(textCol))).as("n_unique"))
      .orderBy(col(groupCol))

  /** Exact dedup that PRESERVES provenance instead of dropping it:
    * one row per distinct content digest with the keep-min-id
    * representative, the copy count, and the sorted distinct source
    * list — the dedup verb when downstream mixing still needs to know
    * how often (and where) a text occurred (duplication count is a
    * quality/weighting signal: Lee et al. 2022).
    *
    * Scale shape: ONE digest-keyed aggregation (map-side combined;
    * min/count/collect_set all partial-aggregate); the source-set
    * payload is bounded by the source-domain size, not the copy
    * count. No window, no join.
    *
    * Output: `(keep_id, n_copies, sources, textCol)` — `sources`
    * comma-joined ascending for a stable rendering. */
  def mergeDuplicates(df: DataFrame, idCol: String, textCol: String,
                      sourceCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("__digest"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).cast("bigint").as("n_copies"),
        concat_ws(",",
          array_sort(collect_set(col(sourceCol)))).as("sources"),
        min(col(textCol)).as(textCol)) // all values equal within a digest
      .drop("__digest")

  /** Incremental exact dedup: annotate an `incoming` batch against an
    * `existing` corpus — the standard ingest flow (dedup each new
    * crawl against everything already accepted). Flags:
    *  - `is_dup_in_batch`: not the first occurrence (by id) of its
    *    content digest WITHIN the batch;
    *  - `is_dup_in_corpus`: digest already present in the corpus;
    *  - `accepted`: neither.
    * Cost: one partial-aggregated min per digest + its co-keyed join
    * (NOT a digest window: a groupBy(min) map-side-combines, so 10⁹
    * copies of one boilerplate text collapse to one row per
    * partition before the shuffle, where a rank window would funnel
    * them through one reducer's sort) + one join against the
    * corpus's distinct digests (at scale: a bucketed digest table, so
    * the join is co-located and the corpus is never rescanned).
    * Ids are assumed row-unique (the dedup-family contract): two
    * FULLY identical rows (same id, same text) both tag non-dup —
    * only a rank could arbitrate between indistinguishable rows. */
  def incrementalDedup(incoming: DataFrame, existing: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val corpusDigests = existing
      .select(md5(col(textCol)).as("__digest")).distinct()
      .withColumn("__in_corpus", lit(1))
    // NULL text ⇒ NULL digest: keep those rows groupable for the
    // in-batch pick via a sentinel key (md5 is 32 hex chars, no
    // collision possible) — but join the corpus on the RAW digest, so
    // NULL never matches there (a NULL text is nobody's duplicate)
    val batch = incoming.withColumn("__digest", md5(col(textCol)))
      .withColumn("__dg", coalesce(col("__digest"), lit("∅")))
    // struct min: a NULL id sorts before every real id — the same
    // keeper the window's nulls-first orderBy picked
    val firsts = batch.groupBy(col("__dg"))
      .agg(min(struct(col(idCol))).as("__m"))
      .select(col("__dg"), col("__m").getField(idCol).as("__first_id"))
    batch
      .join(firsts, Seq("__dg"))
      .withColumn("is_dup_in_batch", !(col(idCol) <=> col("__first_id")))
      .join(corpusDigests, Seq("__digest"), "left")
      .withColumn("is_dup_in_corpus", col("__in_corpus").isNotNull)
      .withColumn("accepted", !col("is_dup_in_batch") && !col("is_dup_in_corpus"))
      .drop("__digest", "__dg", "__in_corpus", "__first_id")
  }

  /** Bloom-pruned incremental exact dedup — byte-identical OUTPUT to
    * [[incrementalDedup]], different SCALE SHAPE. The standard ingest
    * asymmetry is a small batch against a huge corpus; the plain
    * digest join still has to distinct + shuffle every corpus digest.
    * Here the corpus is instead pruned MAP-SIDE: a bloom filter is
    * built over the batch's digests (one aggregation of the SMALL
    * side, collected as one binary sketch), shipped as a literal into
    * a filter directly over the corpus scan, and only the surviving
    * candidates (≈ |batch ∩ corpus| + fpp·|corpus|) are distinct'd
    * and joined. The corpus is scanned once and never shuffled — at
    * 100 TB that converts the dominant cost from a full-corpus
    * exchange to a codegen'd scan predicate. False positives only
    * admit extra candidate rows into the (exact) digest equi-join, so
    * the result is exact for any fpp.
    *
    * Uses Spark's own runtime-filter expressions
    * (`BloomFilterAggregate` / `BloomFilterMightContain`, the pair
    * `InjectRuntimeFilter` plants for selective shuffle joins)
    * exposed via graft's function registry — the optimizer can't
    * inject them here on its own because the build side (the batch)
    * is a different frame than the probe join's build side.
    *
    * Sizing: `numBits = -n·ln(fpp)/ln²2` from `expectedBatchDocs`;
    * with the defaults (4.2M docs, 1% fpp) the sketch is ~5 MB. Spark
    * caps the expression at `spark.sql.optimizer.runtime.bloomFilter.
    * maxNumBits` (default 64Mbit) — raise both for larger batches, or
    * split the batch.
    *
    * Same row-unique-id CONTRACT as [[incrementalDedup]]: two FULLY
    * identical rows (same id, same text) both tag non-dup — only a
    * rank could arbitrate between indistinguishable rows. Verify with
    * `count(*) = count(distinct id)` upstream if ids are untrusted. */
  def bloomIncrementalDedup(incoming: DataFrame, existing: DataFrame,
                            idCol: String, textCol: String,
                            expectedBatchDocs: Long = 1L << 22,
                            fpp: Double = 0.01): DataFrame = {
    require(expectedBatchDocs > 0, "expectedBatchDocs must be positive")
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val numBits = math.ceil(
      -expectedBatchDocs * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val bloomRow = incoming.select(
      call_function("graft_bloom_agg", xxhash64(md5(col(textCol))),
        lit(expectedBatchDocs), lit(numBits)).as("bf")).head
    // Empty batch (or all-null text) → null sketch → no candidates.
    val candidates =
      if (bloomRow.isNullAt(0))
        existing.select(md5(col(textCol)).as("__digest")).limit(0)
      else existing
        .where(call_function("graft_bloom_might_contain",
          lit(bloomRow.getAs[Array[Byte]](0)), xxhash64(md5(col(textCol)))))
        .select(md5(col(textCol)).as("__digest"))
    val corpusDigests = candidates.distinct().withColumn("__in_corpus", lit(1))
    // same partial-aggregated min-per-digest shape as
    // [[incrementalDedup]] (byte-identical output, no digest window);
    // NULL digests ride the same sentinel for the in-batch pick and
    // the raw digest for the corpus join
    val batch = incoming.withColumn("__digest", md5(col(textCol)))
      .withColumn("__dg", coalesce(col("__digest"), lit("∅")))
    val firsts = batch.groupBy(col("__dg"))
      .agg(min(struct(col(idCol))).as("__m"))
      .select(col("__dg"), col("__m").getField(idCol).as("__first_id"))
    batch
      .join(firsts, Seq("__dg"))
      .withColumn("is_dup_in_batch", !(col(idCol) <=> col("__first_id")))
      .join(corpusDigests, Seq("__digest"), "left")
      .withColumn("is_dup_in_corpus", col("__in_corpus").isNotNull)
      .withColumn("accepted", !col("is_dup_in_batch") && !col("is_dup_in_corpus"))
      .drop("__digest", "__dg", "__in_corpus", "__first_id")
  }

  /** CCNet-style sub-document (span-level) dedup: split every
    * document into non-overlapping `spanTokens`-token windows, drop
    * every span whose exact text already occurred earlier in the
    * corpus (first occurrence by `(idCol, span_idx)` wins — the
    * keep-first policy), and rebuild the cleaned text from the kept
    * spans in order. This removes boilerplate repeated ACROSS
    * documents that whole-document dedup can't touch.
    *
    * Output: `(idCol, n_spans, n_kept, kept_text)` — one row per
    * input document (fully-deduplicated documents keep the row with
    * `n_kept = 0`, `kept_text = ''`; a null-text or zero-span
    * document keeps its row with `n_spans = 0` — it does NOT silently
    * vanish).
    *
    * Scale shape, in two tiers split by the shared driver budget
    * ([[graft.util.DriverBudget.MaxBytes]]), as for
    * [[dropNearDuplicates]]:
    *
    *  - Driver tier, for integral ids and string text. A zero-job
    *    pre-check on the size estimate of `(id, text)`, then ONE scan
    *    that ships those columns to the driver, which tokenizes, owns
    *    and rebuilds the spans with the plan's semantics
    *    ([[DriverText.dedupSpans]]) and answers with a local relation
    *    of the distributed tier's schema: one Spark job, no Exchange.
    *  - Distributed tier, above the budget (the scan then ships
    *    nothing, at most one job more): one explode (span rows bounded
    *    by corpus token count / spanTokens), one PARTIAL-AGGREGATED min
    *    per span (the map-side combine collapses repeated boilerplate
    *    spans before the shuffle — no span-keyed rank window, no
    *    per-reducer sort), one groupBy on the doc id whose
    *    collect_list is bounded by document length. `hashKeys = true`
    *    prepends `xxhash64(span)` to the group key so the aggregate
    *    hashes/compares an 8-byte prefix before the raw string —
    *    IDENTICAL results (the span stays in the key, so a hash
    *    collision can never merge two distinct spans; spec-pinned mode
    *    agreement). Default off only to keep the oracle-witnessed plan
    *    minimal; the driver tier has no use for it. */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
                 spanTokens: Int = 8, hashKeys: Boolean = false): DataFrame =
    dedupSpansImpl(df, idCol, textCol, spanTokens, hashKeys, DriverBudget.MaxBytes)

  /** [[dedupSpans]] with the driver budget as a parameter: specs pass
    * 0 to force the distributed tier, the parity reference for the
    * driver tier. */
  private[graft] def dedupSpansImpl(df: DataFrame, idCol: String, textCol: String,
                                    spanTokens: Int, hashKeys: Boolean,
                                    driverMaxBytes: Long): DataFrame = {
    require(spanTokens >= 1, "spanTokens must be positive")
    val reserved = Set("__toks", "span_idx", "span", "__rn", "n_spans", "n_kept", "kept_text")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"dedupSpans reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val shipped = df.select(col(idCol), col(textCol))
    val Array(id, text) = shipped.schema.fields
    val local =
      if (!DriverText.supports(id.dataType, text.dataType)) None
      else DriverBudget.collectWithin(shipped, driverMaxBytes)
    local match {
      case Some(rows) =>
        // the distributed tier's schema: the input id, non-null counts and text
        val schema = StructType(Seq(id, StructField("n_spans", LongType, nullable = false),
          StructField("n_kept", LongType, nullable = false),
          StructField("kept_text", StringType, nullable = false)))
        localFrame(df, DriverText.dedupSpans(rows, id.dataType, spanTokens), schema)
      case None => distributedDedupSpans(df, idCol, textCol, spanTokens, hashKeys)
    }
  }

  /** `rows` as a local relation of `schema` in `like`'s session. */
  private def localFrame(like: DataFrame, rows: Seq[Row], schema: StructType): DataFrame =
    like.sparkSession.createDataFrame(rows.asJava, schema)

  /** [[dedupSpans]]' distributed tier. */
  private def distributedDedupSpans(df: DataFrame, idCol: String, textCol: String,
                                    spanTokens: Int, hashKeys: Boolean): DataFrame = {
    val spans = explodeSpans(df, idCol, textCol, spanTokens)
    val spanKey: Seq[org.apache.spark.sql.Column] =
      if (hashKeys) Seq(xxhash64(col("span")), col("span")) else Seq(col("span"))
    // first (id, span_idx) per span via a partial-aggregated struct
    // min, NOT a span-keyed rank window: the groupBy map-side-combines
    // duplicate spans per partition, so a boilerplate span repeated
    // 10⁹ times collapses before the shuffle instead of riding one
    // reducer's sort. Struct min sorts a NULL id first — the same
    // keeper the window's nulls-first orderBy picked.
    val kept = spans.groupBy(spanKey: _*)
      .agg(min(struct(col(idCol), col("span_idx"))).as("__m"))
      .select(col("span"), col("__m").getField(idCol).as(idCol),
        col("__m").getField("span_idx").as("span_idx"))
    val nSpans = spans.groupBy(col(idCol)).agg(count(lit(1)).as("n_spans"))
    val recon = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ",
        expr("transform(array_sort(collect_list(struct(span_idx, span))), kv -> kv.span)"))
        .as("kept_text"))
    // Anchor on the INPUT ids: a null-text document produces no span
    // rows (NULL token array → empty explode) and would otherwise
    // drop out of the output entirely.
    df.select(col(idCol))
      .join(nSpans, Seq(idCol), "left")
      .join(recon, Seq(idCol), "left")
      .withColumn("n_spans", coalesce(col("n_spans"), lit(0L)))
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
      .withColumn("kept_text", coalesce(col("kept_text"), lit("")))
      .select(col(idCol), col("n_spans"), col("n_kept"), col("kept_text"))
  }

  /** Non-overlapping `spanTokens`-token windows of every document:
    * `(idCol, span_idx, span)` rows. Integer span count (ceil
    * division) — no double math; empty token arrays short-circuit
    * (`sequence` would step backward); null text explodes to no rows
    * (callers re-anchor on the input ids). */
  private def explodeSpans(df: DataFrame, idCol: String, textCol: String,
                           spanTokens: Int): DataFrame =
    explodeSpansCarry(df, Seq(idCol), textCol, spanTokens)

  /** [[explodeSpans]] carrying arbitrary key columns instead of one id. */
  private def explodeSpansCarry(df: DataFrame, carryCols: Seq[String],
                                textCol: String, spanTokens: Int): DataFrame =
    TextOps.withTokens(df, textCol, "__toks")
      .select(carryCols.map(col) :+ posexplode(expr(
        s"CASE WHEN size(__toks) = 0 THEN CAST(array() AS array<string>) " +
          s"ELSE transform(sequence(0, (size(__toks) + ${spanTokens - 1}) div $spanTokens - 1), " +
          s"sp -> concat_ws(' ', slice(__toks, sp * $spanTokens + 1, $spanTokens))) END"))
        .as(Seq("span_idx", "span")): _*)

  /** Document-frequency boilerplate removal (the CCNet/RefinedWeb
    * paragraph-df filter, over fixed token spans): a span whose text
    * occurs in at least `max(minDf, ceil(maxDocFrac · nDocs))`
    * DISTINCT documents is boilerplate (headers, footers, cookie
    * banners, license blurbs) and is stripped from EVERY document —
    * unlike [[dedupSpans]]' keep-first policy, no occurrence
    * survives. Rebuilds cleaned text from the surviving spans.
    *
    * Output: `(idCol, n_spans, n_kept, kept_text)`, one row per input
    * document (null-text/zero-span documents keep their row).
    *
    * Scale shape: one explode; ONE span-keyed aggregation
    * (`countDistinct(id)` per span — partial-aggregated map-side);
    * the doc-count threshold is a single-row broadcast; the
    * boilerplate span set (tiny by construction — only spans above
    * the df threshold) joins back against the span rows on the span
    * key, and reconstruction is the same id-keyed groupBy as
    * [[dedupSpans]]. No window over raw span text is needed at all,
    * so this is CHEAPER than dedupSpans at scale. */
  def stripBoilerplateSpans(df: DataFrame, idCol: String, textCol: String,
                            spanTokens: Int = 8, maxDocFrac: Double = 0.001,
                            minDf: Int = 3): DataFrame = {
    require(spanTokens >= 1, "spanTokens must be positive")
    require(maxDocFrac > 0 && maxDocFrac <= 1, "maxDocFrac must be in (0, 1]")
    require(minDf >= 2, "minDf must be at least 2 (df 1 would strip every span)")
    val reserved = Set("__toks", "span_idx", "span", "__df", "__n_docs", "__bp",
      "n_spans", "n_kept", "kept_text")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"stripBoilerplateSpans reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val spans = explodeSpans(df, idCol, textCol, spanTokens)
    val totals = df.groupBy().agg(count(lit(1)).as("__n_docs"))
    val boilerplate = spans.groupBy(col("span"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .crossJoin(broadcast(totals))
      .where(col("__df") >= greatest(
        lit(minDf.toLong),
        ceil(lit(maxDocFrac) * col("__n_docs")).cast("long")))
      .select(col("span"), lit(1).as("__bp"))
    val kept = spans.join(boilerplate, Seq("span"), "left")
      .where(col("__bp").isNull)
    val nSpans = spans.groupBy(col(idCol)).agg(count(lit(1)).as("n_spans"))
    val recon = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ",
        expr("transform(array_sort(collect_list(struct(span_idx, span))), kv -> kv.span)"))
        .as("kept_text"))
    df.select(col(idCol))
      .join(nSpans, Seq(idCol), "left")
      .join(recon, Seq(idCol), "left")
      .withColumn("n_spans", coalesce(col("n_spans"), lit(0L)))
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
      .withColumn("kept_text", coalesce(col("kept_text"), lit("")))
      .select(col(idCol), col("n_spans"), col("n_kept"), col("kept_text"))
  }

  /** EXACT set-similarity self-join via prefix filtering (the
    * AllPairs/PPJoin candidate principle — Bayardo et al., WWW 2007;
    * Xiao et al., WWW 2008): ALL pairs of documents whose
    * distinct-token Jaccard reaches `tNum/tDen`, with no LSH
    * false-negative risk — the exactness complement of
    * [[lshNearDupPairs]] (banding trades recall for speed; this
    * trades a freq-ordered prefix join for a guarantee).
    *
    * Candidate rule: order each doc's distinct tokens rarest-first
    * (global df asc, token asc — one shared total order), take the
    * first `n − ceil(t·n) + 1` as its prefix; any pair with
    * `J ≥ t` MUST share a prefix token (prefix-filter lemma), so the
    * token-keyed prefix self-join loses nothing. Verification is the
    * exact integer compare `tDen·|∩| ≥ tNum·|∪|` — no floats
    * anywhere; `jac_ppm` is the scaled-integer Jaccard.
    *
    * Scale shape, in two tiers split by the shared driver budget
    * ([[graft.util.DriverBudget.MaxBytes]]), as for
    * [[dropNearDuplicates]]:
    *
    *  - Driver tier, for integral ids and string text. A zero-job
    *    pre-check on the size estimate of `(id, text)`, then ONE scan
    *    that ships those columns to the driver, which runs the df
    *    count, the ordering, the prefix index and the exact
    *    verification with the plan's semantics
    *    ([[DriverText.prefixJaccardPairs]]) and answers with a local
    *    relation of the distributed tier's schema: one Spark job, no
    *    Exchange. It applies only while the distinct candidate pairs
    *    fit the budget as `(long, long)` pairs (at most
    *    [[Components.DriverMaxEdges]]) and counting them takes at most
    *    four probes per pair allowed.
    *  - Distributed tier, above the budget or the candidate guard (the scan
    *    then ships nothing, or its rows are dropped: at most one job
    *    more). df table = one token-keyed count; ordering = one
    *    doc-keyed sort-collect; candidates = equi-join on prefix
    *    tokens, whose fan-out the rarest-first order actively
    *    minimizes (a stop-word lands in a prefix only for docs where
    *    nothing rarer exists); verification joins move (id,
    *    ordered-set) pairs for CANDIDATES only. PPJoin's length and
    *    position filters would prune these candidates further.
    *
    * Null-text docs have no tokens and never pair. */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         tNum: Int, tDen: Int): DataFrame =
    prefixJaccardPairsImpl(df, idCol, textCol, tNum, tDen, DriverBudget.MaxBytes)

  /** [[prefixJaccardPairs]] with the driver budget as a parameter:
    * specs pass 0 to force the distributed tier, the parity reference
    * for the driver tier, and a small budget to reach the candidate
    * guard. */
  private[graft] def prefixJaccardPairsImpl(df: DataFrame, idCol: String, textCol: String,
                                            tNum: Int, tDen: Int,
                                            driverMaxBytes: Long): DataFrame = {
    require(tNum >= 1 && tDen >= 1 && tNum <= tDen,
      s"threshold tNum/tDen must be in (0, 1], got $tNum/$tDen")
    val reserved = Set("__tk", "__df", "__ord", "__n", "__plen", "__ptk",
      "a_id", "b_id", "n_inter", "n_union", "jac_ppm")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"prefixJaccardPairs reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val shipped = df.select(col(idCol), col(textCol))
    val Array(id, text) = shipped.schema.fields
    val local =
      if (!DriverText.supports(id.dataType, text.dataType)) None
      else DriverBudget.collectWithin(shipped, driverMaxBytes).flatMap(rows =>
        DriverText.prefixJaccardPairs(rows, id.dataType, tNum, tDen,
          driverMaxBytes / Components.EdgeBytes))
    local match {
      case Some(pairs) =>
        // the distributed tier's schema: `jac_ppm`, a decimal division
        // cast back to bigint, is nullable under either ANSI setting
        val schema = StructType(Seq(id.copy(name = "a_id"), id.copy(name = "b_id"),
          StructField("n_inter", LongType, nullable = false),
          StructField("n_union", LongType, nullable = false),
          StructField("jac_ppm", LongType, nullable = true)))
        localFrame(df, pairs, schema)
      case None => distributedPrefixJaccardPairs(shipped, idCol, textCol, tNum, tDen)
    }
  }

  /** [[prefixJaccardPairs]]' distributed tier over `(id, text)`. */
  private def distributedPrefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                                            tNum: Int, tDen: Int): DataFrame = {
    val toks = TextOps.withTokens(df, textCol, "__toks")
      .select(col(idCol), explode(array_distinct(col("__toks"))).as("__tk"))
    val freq = toks.groupBy(col("__tk"))
      .agg(count(lit(1)).cast("bigint").as("__df"))
    val ordered = toks.join(freq, "__tk")
      .groupBy(col(idCol))
      .agg(expr("transform(array_sort(collect_list(struct(__df, __tk))), s -> s.__tk)")
        .as("__ord"),
        count(lit(1)).cast("bigint").as("__n"))
    val prefixes = ordered
      .withColumn("__plen", expr(
        s"__n - ((${tNum}L * __n + ${tDen - 1}L) div ${tDen}L) + 1"))
      .select(col(idCol),
        explode(expr("slice(__ord, 1, CAST(__plen AS INT))")).as("__ptk"))
    val cand = prefixes.select(col(idCol).as("a_id"), col("__ptk"))
      .join(prefixes.select(col(idCol).as("b_id"), col("__ptk")), Seq("__ptk"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val setsA = ordered.select(col(idCol).as("a_id"),
      col("__ord").as("__ord_a"), col("__n").as("__na"))
    val setsB = ordered.select(col(idCol).as("b_id"),
      col("__ord").as("__ord_b"), col("__n").as("__nb"))
    cand.join(setsA, "a_id").join(setsB, "b_id")
      .withColumn("n_inter",
        size(array_intersect(col("__ord_a"), col("__ord_b"))).cast("bigint"))
      .withColumn("n_union", (col("__na") + col("__nb") - col("n_inter")).cast("bigint"))
      .where(lit(tDen.toLong) * col("n_inter") >= lit(tNum.toLong) * col("n_union"))
      .withColumn("jac_ppm", expr(
        "(CAST(1000000 AS DECIMAL(38,0)) * n_inter) div n_union").cast("bigint"))
      .select(col("a_id"), col("b_id"), col("n_inter"), col("n_union"), col("jac_ppm"))
  }

  /** Cross-source duplication matrix: for every pair of sources, how
    * many DISTINCT `spanTokens`-token spans they share — "which
    * sources copy from each other", the provenance probe that decides
    * whether two crawls/feeds overlap enough to dedup jointly before
    * mixing. Output: `(src_a, src_b, n_shared_spans)` with
    * `src_a < src_b`, ordered by count desc (pair tiebreak).
    *
    * Scale shape: one explode → one distinct over `(source, span)`
    * (span-keyed shuffle); the pair join is an equi-join on the span
    * key whose per-span fan-out is bounded by C(#sources, 2) — source
    * cardinality is a dim-table bound, so no span can explode the
    * join; the matrix itself is at most #sources² rows. */
  def sourceOverlapMatrix(df: DataFrame, textCol: String,
                          sourceCol: String, spanTokens: Int = 8): DataFrame = {
    require(spanTokens >= 1, "spanTokens must be positive")
    val sp = explodeSpansCarry(df, Seq(sourceCol), textCol, spanTokens)
      .select(col(sourceCol), col("span")).distinct()
    sp.select(col(sourceCol).as("src_a"), col("span"))
      .join(sp.select(col(sourceCol).as("src_b"), col("span")), Seq("span"))
      .where(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared_spans"))
      .orderBy(col("n_shared_spans").desc, col("src_a"), col("src_b"))
  }

  /** Incremental NEAR-dup admission: LSH candidate pairs between an
    * incoming `batch` and the existing `corpus` only — bipartite,
    * never corpus × corpus — verified with exact shingle Jaccard.
    * The near-dup partner of [[bloomIncrementalDedup]]'s exact-hash
    * gate: a daily drop is checked against N accumulated documents
    * at cost proportional to the DROP, not the corpus.
    *
    * Scale shape: the batch's `(band, key)` rows ([[bandKeys]]) are
    * tiny and BROADCAST into ONE join with the corpus's, so the corpus
    * signature frame never shuffles; exact verification builds shingle
    * sets only for candidate ids ([[pairShingleStats]]). At steady
    * state the corpus band keys are a PERSISTED dataset (computed once
    * per corpus version, read per drop) — recomputed inline here for
    * witness parity. Ids must be disjoint across the two frames (they
    * share one id space downstream).
    *
    * Output: `(a_id = batch doc, b_id = corpus doc, jaccard)`. */
  def lshNearDupAgainstCorpus(batch: DataFrame, corpus: DataFrame,
                              idCol: String, textCol: String,
                              bands: Int = 2, rowsPerBand: Int = 4,
                              minJaccard: Double = 0.5): DataFrame = {
    def keys(df: DataFrame, id: String) =
      bandKeys(df, idCol, textCol, bands, rowsPerBand).withColumnRenamed("id", id)
    val cands = broadcast(keys(batch, "a_id"))
      .join(keys(corpus, "b_id"), Seq("band", "bk"))
      .select("a_id", "b_id").distinct().localCheckpoint()
    val union = batch.select(col(idCol), col(textCol))
      .unionByName(corpus.select(col(idCol), col(textCol)))
    verifyJaccard(union, idCol, textCol, cands, minJaccard)
  }

  /** Concat-leak / chunk-boundary detector: pairs `(a, b)` where the
    * LAST `k` tokens of `a` equal the FIRST `k` tokens of `b` —
    * evidence that `b` continues `a` (a split document leaked into
    * the corpus as two rows, the artifact doc-level dedup can't see
    * because neither row duplicates the other).
    *
    * Scale shape: two token-slice projections + ONE equi-join on the
    * k-token boundary shingle. Boilerplate shingles (common openings
    * like page headers) would make a hot join key quadratic, so each
    * side drops shingles occurring more than `maxKeyFreq` times —
    * frequent boundaries are boilerplate, not continuation evidence
    * (the hot-block cap pattern of [[blockedJaccardPairs]]). The cap
    * itself is TWO-PHASE: a map-side-combined `groupBy(shingle).count`
    * finds the over-cap keys (at most n/maxKeyFreq of them, a handful
    * on real corpora), then an anti-join drops their rows — where a
    * count-over-shingle window would shuffle every copy of the hot
    * shingle to one task just to decide to discard it, paying the
    * exact skew the cap exists to avoid. The anti-join is
    * AQE-broadcastable (the hot-key set is tiny by construction) and,
    * unlike a window, AQE can skew-split it if it ever isn't.
    *
    * Output: `(a_id, b_id, shingle)` ordered by `(a_id, b_id)`. */
  def boundaryOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, maxKeyFreq: Long = 100L): DataFrame = {
    require(k >= 1, "k must be positive")
    require(maxKeyFreq >= 1, "maxKeyFreq must be positive")
    val tok = TextOps.withTokens(df.select(col(idCol), col(textCol)), textCol, "__toks")
      .where(size(col("__toks")) >= k)
    def capped(side: DataFrame) = {
      val hot = side.groupBy(col("shingle"))
        .agg(count(lit(1)).as("__n"))
        .where(col("__n") > maxKeyFreq)
        .select(col("shingle"))
      side.join(hot, Seq("shingle"), "left_anti")
    }
    val heads = capped(tok.select(col(idCol).as("b_id"),
      array_join(slice(col("__toks"), 1, k), " ").as("shingle")))
    val tails = capped(tok.select(col(idCol).as("a_id"),
      array_join(slice(col("__toks"), -k, k), " ").as("shingle")))
    tails.join(heads, Seq("shingle"))
      .where(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), col("shingle"))
      .orderBy("a_id", "b_id")
  }

  /** MinHash signatures + band keys. `bands` bands of `rowsPerBand`
    * signature components each. */
  def signatures(df: DataFrame, idCol: String, textCol: String,
                 bands: Int = 2, rowsPerBand: Int = 4): DataFrame = {
    val nHashes = bands * rowsPerBand
    val sig = TextOps.withMinhashSignature(df, textCol, nHashes)
    (0 until bands).foldLeft(sig) { (d, b) =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"m$i"))
      d.withColumn(s"band$b", concat_ws("|", cols: _*))
    }
  }

  /** `(id, band, bk)` rows: every band key of a doc, `band` its index. */
  private def bandKeys(df: DataFrame, idCol: String, textCol: String,
                       bands: Int, rowsPerBand: Int): DataFrame =
    signatures(df, idCol, textCol, bands, rowsPerBand)
      .select(col(idCol).as("id"),
        posexplode(array((0 until bands).map(b => col(s"band$b")): _*)).as(Seq("band", "bk")))

  /** b-bit minhash Jaccard estimation (Li & König, WWW 2010) over
    * LSH candidate pairs: store only the LOW `bBits` of each
    * signature component (a 64→b-bit storage cut — the memory lever
    * that makes billion-doc signature matrices fit), and correct the
    * collision inflation exactly: with `B = 2^b`,
    * `E[match] = J + (1−J)/B`, so
    * `Ĵ_ppm = max(0, 10⁶·(k·B − n) div (n·(B−1)))` for `k` matching
    * components of `n`. Emits both the full-width agreement count
    * and the b-bit estimate per candidate pair — the estimator and
    * its storage-compressed variant side by side, all exact
    * integers.
    *
    * Scale shape: identical to the signature LSH family — one
    * signature pass, band-keyed candidate join; the estimate is
    * per-pair scalar arithmetic. */
  def bbitJaccardEstimates(df: DataFrame, idCol: String, textCol: String,
                           bands: Int = 2, rowsPerBand: Int = 4,
                           bBits: Int = 4,
                           maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(bBits >= 1 && bBits <= 16, "bBits must be in [1, 16]")
    val n = bands * rowsPerBand
    val bMod = 1L << bBits
    val sigs = signatures(df, idCol, textCol, bands, rowsPerBand)
      .select(col(idCol).as("id") +:
        (0 until n).map(i => col(s"m$i")) :+ col("band0"): _*)
      .localCheckpoint()
    // hot-bucket guard, the [[lshCandidatePairs]] cap
    val sub = Blocking.withSubBlock(sigs, Seq(col("band0")), "id",
      maxBucketSize, "__sub")
    val x = sub.select(col("id").as("a_id") +:
      (0 until n).map(i => col(s"m$i").as(s"xa$i")) :+
      col("band0").as("bk") :+ col("__sub"): _*)
    val y = sub.select(col("id").as("b_id") +:
      (0 until n).map(i => col(s"m$i").as(s"yb$i")) :+
      col("band0").as("bk") :+ col("__sub"): _*)
    x.join(y, Seq("bk", "__sub")).where(col("a_id") < col("b_id"))
      .withColumn("k_full",
        (0 until n).map(i => when(col(s"xa$i") === col(s"yb$i"), 1L).otherwise(0L))
          .reduce(_ + _))
      .withColumn("k_bbit",
        (0 until n).map(i => when(col(s"xa$i") % bMod === col(s"yb$i") % bMod,
          1L).otherwise(0L)).reduce(_ + _))
      .withColumn("jhat_bbit_ppm", expr(
        s"greatest(0L, (1000000L * (k_bbit * $bMod - $n)) div (${n}L * ${bMod - 1}L))"))
      .select(col("a_id"), col("b_id"), col("k_full"), col("k_bbit"),
        col("jhat_bbit_ppm"))
  }

  /** LSH candidate pairs (a_id < b_id) from any band collision,
    * verified with exact shingle-set Jaccard, filtered at `minJaccard`.
    *
    * `maxBucketSize` is the hot-bucket guard (see
    * [[lshCandidatePairs]]): a band bucket larger than it — a massive
    * boilerplate cluster hashing every member to the same band key —
    * is sub-blocked so candidate fan-out stays ~maxBucketSize²/2 per
    * bucket instead of N². Scale shape: [[lshCandidatePairs]], then
    * [[pairShingleStats]], then one `(a_id, b_id)` sort. */
  def lshNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                      bands: Int = 2, rowsPerBand: Int = 4,
                      minJaccard: Double = 0.5,
                      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    verifyJaccard(df, idCol, textCol,
      lshCandidatePairs(df, idCol, textCol, bands, rowsPerBand,
        maxBucketSize), minJaccard)

  /** Default hot-bucket cap for banded candidate self-joins — the
    * [[blockedJaccardPairs]] convention, shared by every LSH family
    * member so a corpus-scale boilerplate cluster bounds at
    * ~8192²/2 ≈ 33M candidate pairs per bucket instead of N². */
  val DefaultMaxBucketSize: Int = 8192

  /** LSH candidate pairs (a_id < b_id) from any band collision —
    * shared generator for [[lshNearDupPairs]] (symmetric Jaccard) and
    * [[containmentPairs]] (asymmetric containment).
    *
    * Scale shape: every band in ONE pass over `(band, key)` rows
    * ([[bandKeys]]) — one window count, one self-join on `(band, key,
    * sub-block)`, one `distinct`, one eager checkpoint (tiny: pairs
    * only; the verification reads it twice). Hot-bucket guard: a
    * bucket larger than `maxBucketSize` is split into deterministic
    * sub-blocks ([[Blocking.withSubBlock]], salted by the band so each
    * band splits it its own way), so one dominant band key costs
    * Θ(size·maxBucketSize) candidates, never Θ(size²). Pairs
    * straddling sub-blocks of an OVERSIZE bucket are skipped — the
    * bounded-blocking recall tradeoff; buckets at or under the cap
    * compare exhaustively (exact results, the test-scale regime). */
  private[graft] def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                                       bands: Int, rowsPerBand: Int,
                                       maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val banded = Blocking.withSubBlock(bandKeys(df, idCol, textCol, bands, rowsPerBand),
      Seq(col("band"), col("bk")), "id", maxBucketSize, "__sub", salt = Some(col("band")))
    banded.withColumnRenamed("id", "a_id")
      .join(banded.withColumnRenamed("id", "b_id"), Seq("band", "bk", "__sub"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct().localCheckpoint()
  }

  /** Asymmetric near-CONTAINMENT pairs: C(A→B) = |A∩B| / |A| over
    * distinct 3-shingle sets, for LSH candidate pairs. Containment
    * catches what symmetric Jaccard misses — a short document quoted
    * inside a much longer one scores near 1.0 containment but low
    * Jaccard (the intersection is small relative to the union). The
    * standard curation use: drop documents mostly CONTAINED in
    * another (boilerplate wrappers, quote-inflated pages).
    *
    * Output: `(a_id, b_id, containment_a, containment_b)` for pairs
    * where EITHER direction ≥ `minContainment` (containment_a =
    * overlap/|A|'s shingles). Caveat shared with all MinHash LSH:
    * candidates surface on symmetric-signature collisions, so a tiny
    * A buried in a huge B can evade banding — lower `rowsPerBand` or
    * add [[winnowSharedPairs]]'s fingerprint route when asymmetric
    * recall matters.
    *
    * Scale shape: identical to [[lshNearDupPairs]] — banded
    * candidates, id-only shuffles, shingle work semi-join-pruned to
    * candidates. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       bands: Int = 2, rowsPerBand: Int = 4,
                       minContainment: Double = 0.6): DataFrame = {
    val stats = pairShingleStats(df, idCol, textCol,
      lshCandidatePairs(df, idCol, textCol, bands, rowsPerBand))
    stats
      .withColumn("containment_a", col("n_common").cast("double") / col("n_a"))
      .withColumn("containment_b", col("n_common").cast("double") / col("n_b"))
      .where(col("containment_a") >= minContainment ||
        col("containment_b") >= minContainment)
      .select(col("a_id"), col("b_id"), col("containment_a"), col("containment_b"))
      .orderBy("a_id", "b_id")
  }

  /** [[verifiedPairs]] ordered by `(a_id, b_id)`: the public outputs. */
  private def verifyJaccard(df: DataFrame, idCol: String, textCol: String,
                            pairs: DataFrame, minJaccard: Double): DataFrame =
    verifiedPairs(df, idCol, textCol, pairs, minJaccard).orderBy("a_id", "b_id")

  /** Exact Jaccard verification over [[pairShingleStats]], filtered
    * at `minJaccard`, unordered. Shared by every near-dup generator.
    * The division sits behind its own `n_common > 0` guard: the
    * optimizer may evaluate the Jaccard filter before the stats'
    * `n_common > 0` filter, and two NULL-text docs (empty sets) would
    * then divide 0 by 0, which fails under ANSI. */
  private def verifiedPairs(df: DataFrame, idCol: String, textCol: String,
                            pairs: DataFrame, minJaccard: Double): DataFrame =
    pairShingleStats(df, idCol, textCol, pairs)
      .withColumn("jaccard", when(col("n_common") > 0,
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common"))))
      .where(col("jaccard") >= minJaccard)
      .select(col("a_id"), col("b_id"), col("jaccard"))

  /** Exact distinct-3-shingle overlap stats `(a_id, b_id, n_common,
    * n_a, n_b)` (bigint) for `pairs` sharing at least one shingle; a
    * NULL-text doc (shingles `[NULL]`) never pairs. Scale shape: the
    * corpus is semi-join-pruned to candidate ids, then each candidate
    * is ONE row `(id, distinct non-null shingle array)` (codegen'd
    * `array_except`, no explode, no lambda) joined on `a_id` and on
    * `b_id`; `array_intersect`/`size` per pair — no shingle-keyed
    * shuffle, no aggregate. Ids are row-unique (the dedup contract). */
  private[graft] def pairShingleStats(df: DataFrame, idCol: String, textCol: String,
                                      pairs: DataFrame): DataFrame = {
    val candIds = pairs.select(col("a_id").as("__cand_id"))
      .unionAll(pairs.select(col("b_id").as("__cand_id"))).distinct()
    val pruned = df.select(col(idCol), col(textCol))
      .join(candIds, col(idCol) === col("__cand_id"), "left_semi")
    val sets = TextOps.withTokens(pruned, textCol, "__toks")
      .select(col(idCol).as("id"), expr(
        s"array_except(${H.shingles3("__toks", textCol)}, array(CAST(NULL AS STRING)))").as("sh"))
    pairs
      .join(sets.select(col("id").as("a_id"), col("sh").as("__sa")), "a_id")
      .join(sets.select(col("id").as("b_id"), col("sh").as("__sb")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("bigint").as("n_common"),
        size(col("__sa")).cast("bigint").as("n_a"),
        size(col("__sb")).cast("bigint").as("n_b"))
      .where(col("n_common") > 0)
  }

  /** Contrastive pair mining for embedding training: POSITIVES are
    * LSH candidate pairs whose exact shingle Jaccard reaches
    * `posNum/posDen`; HARD NEGATIVES are candidate pairs that
    * collided in a band yet verify at or below `negNum/negDen` —
    * lexically confusable non-duplicates, exactly the negatives a
    * bi-encoder learns the most from (far harder than random pairs,
    * which share nothing). Pairs in the ambiguous middle band are
    * dropped — a noisy label is worse than no label.
    *
    * Thresholds compare as exact integer cross-products
    * (`nc·den ≥/≤ num·(na+nb−nc)`) — engine-invariant, no float
    * Jaccard. Output: `(a_id, b_id, n_common, n_a, n_b, label)` with
    * `label ∈ {'pos','neg'}`, ordered by `(a_id, b_id)`.
    *
    * Scale shape: identical to [[lshNearDupPairs]] — banded candidate
    * generation (never all-pairs), id-only pair shuffles, shingle
    * verification pruned to candidate docs; the labeling itself is
    * per-row arithmetic on the stats table. Negatives are bounded by
    * band-collision volume, which LSH keeps near-linear. */
  def contrastivePairs(df: DataFrame, idCol: String, textCol: String,
                       bands: Int = 2, rowsPerBand: Int = 4,
                       posNum: Int = 1, posDen: Int = 2,
                       negNum: Int = 1, negDen: Int = 5): DataFrame = {
    require(posDen >= 1 && negDen >= 1 && posNum >= 0 && negNum >= 0,
      "thresholds must be non-negative fractions")
    require(negNum.toLong * posDen < posNum.toLong * negDen,
      "negative threshold must be strictly below the positive one")
    val stats = pairShingleStats(df, idCol, textCol,
      lshCandidatePairs(df, idCol, textCol, bands, rowsPerBand))
    val union = col("n_a") + col("n_b") - col("n_common")
    stats
      .withColumn("label",
        when(col("n_common") * posDen >= union * posNum, lit("pos"))
          .when(col("n_common") * negDen <= union * negNum, lit("neg")))
      .where(col("label").isNotNull)
      .select(col("a_id"), col("b_id"), col("n_common"), col("n_a"),
        col("n_b"), col("label"))
      .orderBy("a_id", "b_id")
  }

  /** Reliability (calibration) audit of the MinHash detector: LSH
    * candidate pairs binned by how many of their `bands·rowsPerBand`
    * signature components agree, each bin scored against EXACT
    * shingle-set Jaccard ≥ `tNum/tDen` — the reliability-diagram
    * counts that tell you whether "6 of 8 components matched" can be
    * trusted as "probably a near-duplicate" before you tune band
    * thresholds on a 100 TB corpus.
    *
    * Output: `(n_matched, n_pairs, n_true, precision_ppm)` ordered by
    * `n_matched`; `precision_ppm = 1e6·n_true div n_pairs` (exact
    * integer). Bins with no candidate pairs are absent, and (inner-
    * join pair-stats semantics, repo-wide) a candidate pair with ZERO
    * common shingles is absent too — a band collision between
    * shingle-disjoint docs is possible but hash-adversarial.
    *
    * Scale shape: the [[lshNearDupPairs]] candidate pipeline (banded
    * equi-joins, id-only pair shuffles, candidate-pruned shingle
    * explode) plus one id-keyed join of the pair table against the
    * (id, signature) projection per side; the final aggregation has
    * at most `bands·rowsPerBand + 1` groups. The signature frame is
    * recomputed once beyond the candidate stage's internal copy — the
    * [[Relevance.vocabCoverage]] recompute idiom (calibration is an
    * audit pass, not a steady-state pipeline stage). */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
                         bands: Int = 2, rowsPerBand: Int = 4,
                         tNum: Int = 1, tDen: Int = 2): DataFrame = {
    require(tDen >= 1 && tNum >= 0 && tNum <= tDen,
      "threshold tNum/tDen must be a fraction in [0, 1]")
    val n = bands * rowsPerBand
    val pairs = lshCandidatePairs(df, idCol, textCol, bands, rowsPerBand)
    val stats = pairShingleStats(df, idCol, textCol, pairs)
    val sigs = signatures(df, idCol, textCol, bands, rowsPerBand)
      .select(col(idCol).as("id") +: (0 until n).map(i => col(s"m$i")): _*)
      .localCheckpoint()
    val a = sigs.select(col("id").as("a_id") +:
      (0 until n).map(i => col(s"m$i").as(s"__xa$i")): _*)
    val b = sigs.select(col("id").as("b_id") +:
      (0 until n).map(i => col(s"m$i").as(s"__yb$i")): _*)
    stats.join(a, "a_id").join(b, "b_id")
      .withColumn("n_matched",
        (0 until n).map(i => when(col(s"__xa$i") === col(s"__yb$i"), 1)
          .otherwise(0)).reduce(_ + _).cast("int"))
      .withColumn("__true", when(
        lit(tDen.toLong) * col("n_common") >=
          lit(tNum.toLong) * (col("n_a") + col("n_b") - col("n_common")), 1L)
        .otherwise(0L))
      .groupBy(col("n_matched"))
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        sum(col("__true")).cast("bigint").as("n_true"))
      .withColumn("precision_ppm",
        expr("CAST((1000000 * n_true) div n_pairs AS BIGINT)"))
      .orderBy("n_matched")
  }

  /** The end-user near-dup removal verb: keep ONE representative per
    * near-duplicate group and drop the rest. Composes the pieces the
    * oracle witnesses individually — [[lshNearDupPairs]] (banded
    * MinHash candidates + exact-Jaccard verification) →
    * [[Components.connectedComponents]] (transitive closure, published
    * large-star/small-star) → keep-min-id representative — into the
    * one call a curation pipeline actually makes ("drop near
    * duplicates from this corpus").
    *
    * Returns the surviving corpus with the input schema: every
    * document that is NOT a non-representative member of a near-dup
    * cluster. Isolated documents (no verified pair) never enter the
    * pair graph and always survive.
    *
    * Representative policy: min id by default; with
    * `keepBestBy = Some(scoreCol)` the cluster member with the
    * HIGHEST score survives instead (ties → min id; a null score
    * sorts last, so it only wins an all-null cluster) — "of these
    * near-duplicates, keep the highest-quality copy", the policy a
    * real curation pass wants once a quality score exists.
    *
    * Scale shape, in two tiers split by the shared driver budget
    * ([[graft.util.DriverBudget.MaxBytes]], 4 MiB — the Delta log
    * replay's and [[Components.DriverMaxEdges]]'s):
    *
    *  - Driver tier. A zero-job pre-check on the optimized plan's size
    *    estimate of `(id, text[, score])`, then ONE scan that ships
    *    those columns to the driver while each partition stays within
    *    its share of the budget. The driver runs signatures, banding,
    *    the hot-bucket sub-block, exact Jaccard verification,
    *    connected components and the keep-best pick with the kernels
    *    and semantics of the Spark plan ([[DriverNearDups]]), and the
    *    result is `df` filtered by a null-safe NOT IN of the dropped
    *    ids: one Spark job, no Exchange. It applies to integral ids,
    *    string text and an orderable score, and only while the
    *    candidate pairs fit the same budget as `(long, long)` pairs
    *    (at most [[Components.DriverMaxEdges]]).
    *  - Distributed tier, above the budget (the scan then ships
    *    nothing, at most one job more): the [[lshNearDupPairs]]
    *    pipeline, its pairs consumed UNORDERED (no sort job), + CC
    *    (node-id shuffles — see the component scaladocs); the final
    *    step is one id-only anti-join against the member list, so the
    *    corpus is scanned once more and never shuffled on anything
    *    wider than the id. The keep-best variant adds one id-keyed
    *    join of the (small) member list against the corpus scores and
    *    two chained PARTIAL-AGGREGATED picks (min id per cluster and
    *    score, then max score per cluster) — map-side combined, so a
    *    boilerplate-heavy corpus whose capped LSH pairs chain into one
    *    giant transitive cluster spreads over its scores and collapses
    *    to one row per map partition before the cluster-keyed
    *    shuffle, where a rank window would funnel every member through
    *    a single reducer's sort. */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         bands: Int = 2, rowsPerBand: Int = 4,
                         minJaccard: Double = 0.5,
                         keepBestBy: Option[String] = None): DataFrame =
    dropNearDuplicatesImpl(df, idCol, textCol, bands, rowsPerBand, minJaccard, keepBestBy,
      DriverBudget.MaxBytes)

  /** [[dropNearDuplicates]] with the driver budget as a parameter:
    * specs pass 0 to force the distributed tier, the parity reference
    * for the driver tier, and a small `maxBucketSize` to reach the
    * hot-bucket sub-block on small inputs. */
  private[graft] def dropNearDuplicatesImpl(df: DataFrame, idCol: String, textCol: String,
                                            bands: Int, rowsPerBand: Int, minJaccard: Double,
                                            keepBestBy: Option[String], driverMaxBytes: Long,
                                            maxBucketSize: Int = DefaultMaxBucketSize
                                           ): DataFrame = {
    val reserved = Set("__toks", "__cand_id", "__drop_id", "__cluster", "__score",
      "__m", "__keep_id")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"dropNearDuplicates reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val shipped = df.select((Seq(idCol, textCol) ++ keepBestBy).map(col): _*)
    val types = shipped.schema.fields.map(_.dataType)
    val local =
      if (!DriverText.supports(types(0), types(1), types.lift(2))) None
      else DriverBudget.collectWithin(shipped, driverMaxBytes).flatMap(rows =>
        DriverNearDups.dropIds(rows, types(0), types.lift(2), bands, rowsPerBand, minJaccard,
          maxBucketSize, ClusterRounds, driverMaxBytes / Components.EdgeBytes))
    local match {
      case Some(drops) if drops.isEmpty => df
      case Some(drops) =>
        // a null id never pairs, and the anti-join keeps it
        df.where(col(idCol).isNull ||
          !col(idCol).isin(drops.map(d => lit(DriverText.idValue(d, types(0)))): _*))
      case None =>
        distributedDropNearDuplicates(df, idCol, textCol, bands, rowsPerBand, minJaccard,
          keepBestBy, maxBucketSize)
    }
  }

  /** Round budget of [[dropNearDuplicates]]' clustering, on either tier. */
  private val ClusterRounds = 25

  /** [[dropNearDuplicates]]' distributed tier. */
  private def distributedDropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                                            bands: Int, rowsPerBand: Int, minJaccard: Double,
                                            keepBestBy: Option[String],
                                            maxBucketSize: Int): DataFrame = {
    val pairs = verifiedPairs(df, idCol, textCol,
      lshCandidatePairs(df, idCol, textCol, bands, rowsPerBand, maxBucketSize), minJaccard)
    val clusters = Components.connectedComponents(pairs, "a_id", "b_id", ClusterRounds)
    // The clustering has materialized its own edges, so nothing reads
    // the candidate-pair checkpoint again; the caller's corpus keeps
    // any checkpoint of its own.
    Checkpoints.free(pairs, df)
    val dropIds = keepBestBy match {
      case None =>
        clusters.where(col("id") =!= col("cluster_id"))
          .select(col("id").as("__drop_id"))
      case Some(score) =>
        // argmax as two chained partial aggregates, not a rank window:
        // the min id per (cluster, score), then the max (score, id)
        // struct per cluster — one row per score, so score ties are
        // already broken to the min id, and a null score sorts below
        // every real one, so it only wins an all-null cluster (the
        // window's desc-nulls-last keeper). The `__` aliases let any
        // caller column name be the score.
        val keep = clusters
          .select(col("id").as("__cand_id"), col("cluster_id").as("__cluster"))
          .join(df.select(col(idCol).as("__cand_id"), col(score).as("__score")),
            Seq("__cand_id"))
          .groupBy(col("__cluster"), col("__score")).agg(min(col("__cand_id")).as("__m"))
          .groupBy(col("__cluster"))
          .agg(max(struct(col("__score"), col("__m"))).getField("__m").as("__keep_id"))
        clusters.join(keep, col("cluster_id") === col("__cluster"))
          .where(!(col("id") <=> col("__keep_id")))
          .select(col("id").as("__drop_id"))
    }
    df.join(dropIds, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** Drop documents mostly CONTAINED in another — the end-user verb
    * for [[containmentPairs]]' detector (what [[dropNearDuplicates]]
    * is to symmetric Jaccard): a doc is dropped when its distinct
    * 3-shingle set sits ≥ `cNum/cDen` inside a candidate partner's
    * AND it is the smaller side (fewer distinct shingles; equal sizes
    * — the near-identical case — keep the smaller id). Drops are
    * independent greedy decisions, not clusters: in a containment
    * chain A ⊂ B ⊂ C both A and B drop and C survives, which is the
    * curation intent (keep the maximal document). Thresholds compare
    * as exact integer cross-products.
    *
    * Scale shape: the [[lshNearDupPairs]] candidate pipeline
    * (banded, id-only shuffles, verification semi-join-pruned to
    * candidates) + one id anti-join. Recall caveat shared with every
    * MinHash route: extreme size-ratio containments can evade
    * symmetric band collisions — lower `rowsPerBand` when hunting
    * small excerpts. */
  def dropContained(df: DataFrame, idCol: String, textCol: String,
                    bands: Int = 2, rowsPerBand: Int = 4,
                    cNum: Int = 2, cDen: Int = 3): DataFrame = {
    require(cDen >= 1 && cNum >= 1 && cNum <= cDen,
      "containment threshold must be a fraction in (0, 1]")
    val stats = pairShingleStats(df, idCol, textCol,
      lshCandidatePairs(df, idCol, textCol, bands, rowsPerBand))
    val dropA = stats
      .where(col("n_common") * cDen >= col("n_a") * cNum &&
        (col("n_a") < col("n_b") ||
          (col("n_a") === col("n_b") && col("a_id") > col("b_id"))))
      .select(col("a_id").as("__drop_id"))
    val dropB = stats
      .where(col("n_common") * cDen >= col("n_b") * cNum &&
        (col("n_b") < col("n_a") ||
          (col("n_a") === col("n_b") && col("b_id") > col("a_id"))))
      .select(col("b_id").as("__drop_id"))
    df.join(dropA.unionAll(dropB).distinct(),
      col(idCol) === col("__drop_id"), "left_anti")
  }

  /** Blocked edit-distance (Levenshtein) near-dup pairs — the fuzzy
    * dedup for SHORT text fields (titles, names, IDs) where
    * shingle-set similarity is too coarse: within text-prefix
    * equality blocks, emit pairs with `levenshtein(a, b) <=
    * maxDistance`. Distances are exact integers (the classic DP, the
    * same definition in every engine) — hash-comparable.
    *
    * Scale shape: [[blockedJaccardPairs]]'s blocking (prefix equality
    * + the [[Blocking.withSubBlock]] hot-block cap), then a per-pair
    * O(len²) distance — bound `maxLen` to keep the comparison cost
    * fixed (texts are truncated to `maxLen` chars BEFORE comparing;
    * at 100 TB you run this on short fields, not documents). */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        prefixLen: Int = 20, maxDistance: Int = 10,
                        maxLen: Int = 1000, maxBlockSize: Int = 8192): DataFrame = {
    require(prefixLen >= 1 && maxDistance >= 0 && maxLen >= 1)
    val blocked = Blocking.withSubBlock(
      df.select(col(idCol).as("id"),
        substring(col(textCol), 1, maxLen).as("__t"),
        substring(col(textCol), 1, prefixLen).as("blk")),
      Seq(col("blk")), "id", maxBlockSize, "__sub")
    blocked.as("x").join(blocked.as("y"), Seq("blk", "__sub"))
      .where(col("x.id") < col("y.id"))
      .withColumn("distance", levenshtein(col("x.__t"), col("y.__t")))
      .where(col("distance") <= maxDistance)
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"), col("distance"))
      .orderBy("a_id", "b_id")
  }

  /** Substring-sharing candidate pairs from winnowed (MOSS)
    * fingerprints: documents sharing at least `minShared` distinct
    * window-min fingerprints (see
    * [[TextOps.withWinnowedFingerprints]] — any shared
    * `k + w - 1`-char substring is guaranteed to share one). This is
    * the asymmetric/clone-detection route near-dup LSH misses: a
    * paragraph copied into an otherwise-different document still
    * shares its fingerprints.
    *
    * Hot-fingerprint guard: fingerprints occurring in more than
    * `maxDf` documents (boilerplate n-grams — the stopwords of
    * fingerprint space) are EXCLUDED before the self-join, bounding
    * per-fingerprint pair work at maxDf²/2 — the [[blockedJaccardPairs]]
    * tradeoff: pairs whose entire overlap is ultra-common substrings
    * are missed, which is usually the point. Output: `(a_id, b_id,
    * n_shared)`, both directions' ids with a_id < b_id.
    *
    * Scale shape: fingerprints are 8-byte longs; the explode is
    * bounded by corpus chars / w; df-counting is one partial-agg
    * groupBy; the self-join shuffles (fp, id) pairs only and its
    * fan-out is capped by maxDf. */
  def winnowSharedPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 5, w: Int = 4,
                        minShared: Int = 2, maxDf: Int = 50): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      "minShared must be >= 1 and maxDf >= 2 (a pair needs two docs per fingerprint)")
    val fps = TextOps.withWinnowedFingerprints(df, textCol, k, w)
      .select(col(idCol).as("id"), explode(col("fps")).as("fp"))
      .distinct() // per-doc fingerprint SET
      .localCheckpoint() // feeds the df-count agg and both join sides
    val usable = fps.groupBy("fp")
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") >= 2 && col("__df") <= maxDf)
      .select("fp")
    val pruned = fps.join(usable, "fp")
    pruned.select(col("id").as("a_id"), col("fp"))
      .join(pruned.select(col("id").as("b_id"), col("fp")), "fp")
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy("a_id", "b_id")
  }

  /** SimHash near-dup pairs: `bits`-bit simhash, banded into `bands`
    * equal slices for candidate generation (pigeonhole: Hamming
    * distance < bands GUARANTEES a colliding band; more-distant pairs
    * surface only on a lucky collision), then exact Hamming filter at
    * `maxHamming`. One hash shuffle per band, never a pairwise cross
    * join — PROVIDED the band-key space outgrows the corpus: each band
    * self-join costs Θ(Σ bucket²) over its `2^(bits/bands)` buckets,
    * so the candidate space stays near-linear only while
    * `2^(bits/bands)` ≳ n / targetBucketSize. The 60-bit/4-band
    * default gives 2^15 = 32,768 buckets per band; at cluster scale
    * raise `bits` (up to 60) before raising `bands`. (Round-2 verdict:
    * the old 30-bit/5-band default's 64 buckets made this O(n²/64).) */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          bits: Int = 60, bands: Int = 4,
                          maxHamming: Int = 3,
                          maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(bits % bands == 0, "bits must divide evenly into bands")
    require(maxHamming < bands, "pigeonhole coverage needs maxHamming < bands")
    val width = bits / bands
    val buckets = 1L << width
    val sims = TextOps.withSimhash(df, textCol, bits, "sim")
      .select(col(idCol).as("id"), col("sim"))
      .localCheckpoint()
    // The Hamming filter runs INSIDE each band branch, before the
    // union-distinct: filtering commutes with distinct, and it shrinks
    // the deduplication input from all band collisions (quadratic in
    // bucket sizes on clustered corpora) to just the near-dups.
    // Hot-bucket guard (the [[lshCandidatePairs]] cap): an identical-
    // fingerprint cluster larger than maxBucketSize sub-blocks before
    // the self-join, bounding its fan-out at Θ(size·maxBucketSize).
    val pairs = (0 until bands).map { b =>
      val div = 1L << (width * b)
      val banded = Blocking.withSubBlock(
        sims.select(col("id"), col("sim"),
          expr(s"(sim div ${div}L) % ${buckets}L").as("bk")),
        Seq(col("bk")), "id", maxBucketSize, "__sub", salt = Some(lit(b)))
      val x = banded.select(col("id").as("a_id"), col("sim").as("sa"),
        col("bk"), col("__sub"))
      val y = banded.select(col("id").as("b_id"), col("sim").as("sb"),
        col("bk"), col("__sub"))
      x.join(y, Seq("bk", "__sub")).where(col("a_id") < col("b_id"))
        .where(expr("bit_count(sa ^ sb)") <= maxHamming)
        .select("a_id", "b_id", "sa", "sb")
    }.reduce(_ unionAll _).distinct()
    pairs
      .withColumn("hamming", expr("bit_count(sa ^ sb)"))
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy("a_id", "b_id")
  }

  /** N-gram Jaccard near-dup within equality blocks (cheap blocking
    * key = text prefix): the classic blocked-dedup shape.
    *
    * Hot-block guard: a block larger than `maxBlockSize` (boilerplate
    * corpora share prefixes) is split into `ceil(size / maxBlockSize)`
    * deterministic sub-blocks by xxhash64 of the id, bounding the
    * candidate space at ~maxBlockSize²/2 per block instead of n² on
    * one dominant prefix. Pairs straddling sub-blocks of an oversize
    * block are skipped (bounded-blocking recall tradeoff); blocks at
    * or under the cap are compared exhaustively. */
  def blockedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                          prefixLen: Int = 40, minJaccard: Double = 0.3,
                          maxBlockSize: Int = DefaultMaxBucketSize): DataFrame = {
    val blocked = Blocking.withSubBlock(
      df.select(col(idCol).as("id"), substring(col(textCol), 1, prefixLen).as("blk")),
      Seq(col("blk")), "id", maxBlockSize, "__sub")
    // Checkpointed: referenced by the candidate semi-join, the common-
    // shingle join, and the output join (tiny: pairs only; blocks live
    // until the returned frame is GC'd).
    val pairs = blocked.as("x")
      .join(blocked.as("y"), Seq("blk", "__sub"))
      .where(col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .localCheckpoint()
    verifyJaccard(df, idCol, textCol, pairs, minJaccard)
  }

  /** EXACT repeated-substring duplication coverage — the substring-
    * level dedup verb of Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499), which
    * builds a corpus suffix array to find every substring of length
    * ≥ L occurring twice. Re-expressed Spark-first on gram-hash
    * blocking: a char position is DUPLICATED when the `gramLen`-char
    * window starting there occurs somewhere else in the corpus (any
    * document, any offset — or a second time in the same document).
    * Any repeated substring of length ≥ gramLen is exactly a run of
    * such windows, so merging the flagged `[pos, pos+gramLen)`
    * intervals per document ([[TimeSeries.mergeIntervals]]) yields
    * precisely the characters some length-≥-gramLen corpus-repeated
    * substring covers — the mass substring-level dedup would cut.
    * Equivalence to the suffix-array formulation is exact, not
    * approximate; the suffix array is a single-machine construction,
    * the gram shuffle is the distributed one.
    *
    * Output: `(idCol, n_chars, n_dup_spans, dup_chars, dup_ppm)` —
    * one row per input document (shorter-than-gramLen docs report
    * zeros; `dup_ppm` is the exact integer `1e6·dup_chars div
    * n_chars`).
    *
    * Scale shape (100 TB): the gram frame is corpus-char-bounded (one
    * row per offset) and its ONLY wide op is one count-over-gram
    * window — hash-partitioned by the gram value itself, no global
    * order, so it is the same single shuffle a groupBy(gram) would
    * cost without the join back. Only SURVIVING duplicated grams
    * (typically a small fraction) shuffle again, by document id, for
    * the interval merge; per-document span counts are doc-length-
    * bounded. A hot gram (boilerplate) concentrates one hash bucket —
    * AQE skew splitting applies, and the count-window needs no
    * per-gram member list, only a count, so the hot bucket streams.
    * `hashKeys=true` is the 100 TB mode (the [[dedupSpans]]
    * precedent): the shuffle key becomes the gram's xxhash64 — 8
    * bytes instead of gramLen chars, shrinking the one corpus-wide
    * shuffle ~gramLen/8× at a ~n²/2⁶⁵ false-duplicate probability
    * (two distinct grams colliding marks both spans duplicated —
    * vanishing for any real corpus, and it errs toward over-removal,
    * never under). The oracle-checkable default stays exact. */
  def repeatedCharSpans(df: DataFrame, idCol: String, textCol: String,
                        gramLen: Int, hashKeys: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gramLen >= 4 && gramLen <= 10000,
      s"gramLen must be in [4, 10000], got $gramLen")
    val lens = df.select(col(idCol),
      coalesce(length(col(textCol)).cast("bigint"), lit(0L)).as("n_chars"))
    // native one-pass gram walk (posexplode position ≡ the 0-based
    // gram offset); the HOF rendering re-seeks the text per position
    // (O(text²) per row) and interprets a lambda per gram
    val grams0 = df
      .where(length(col(textCol)) >= gramLen)
      .select(col(idCol),
        posexplode(expr(s"graft_char_grams($textCol, $gramLen)"))
          .as(Seq("pos", "__gs")))
    val grams = grams0.select(col(idCol), col("pos"),
      (if (hashKeys) expr("xxhash64(__gs)") else col("__gs")).as("g"))
    val dup = grams
      .withColumn("__gn", count(lit(1)).over(Window.partitionBy(col("g"))))
      .where(col("__gn") >= 2)
      .select(col(idCol), col("pos").cast("bigint").as("pos"),
        (col("pos") + gramLen).cast("bigint").as("end"))
    val cov = TimeSeries.mergeIntervals(dup, idCol, "pos", "end")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("bigint").as("n_dup_spans"),
        sum(col("ivl_end") - col("ivl_start")).cast("bigint").as("dup_chars"))
    lens.join(cov, Seq(idCol.toString), "left")
      .select(col(idCol), col("n_chars"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
      .withColumn("dup_ppm",
        when(col("n_chars") > 0, expr("1000000L * dup_chars div n_chars"))
          .otherwise(0L).cast("bigint"))
  }

  /** The CUT half of [[repeatedCharSpans]] — Lee et al. 2022's actual
    * dedup transform: for every corpus-repeated `gramLen`-char window,
    * the FIRST occurrence (global `(idCol, pos)` order) is the keeper
    * and every LATER occurrence's span is excised from its document.
    * A document's cut region is the per-doc interval union of its
    * non-first duplicated grams, so any repeated substring of length
    * ≥ gramLen survives exactly once corpus-wide (at its first site)
    * and is removed everywhere else — keep-first at character
    * granularity, the same convention [[dedupSpans]] uses for fixed
    * token windows.
    *
    * Output: `(idCol, clean_text, n_cut_spans, cut_chars)` — one row
    * per input document; untouched docs carry their original text and
    * zeros.
    *
    * Scale shape: identical to [[repeatedCharSpans]] (one gram-keyed
    * shuffle — the keeper argmin is an unordered `min(struct)` over
    * the same window, no sort — then doc-keyed interval merge on
    * survivors only), plus the text rebuild: per-doc gap segments via
    * one `lag` over the (doc-bounded) cut intervals and an ordered
    * array_join — never a corpus-wide sort. `hashKeys` as in
    * [[repeatedCharSpans]]; a false collision here cuts a unique span
    * whose first occurrence survives (over-removal, never data loss
    * of the keeper). */
  def cutRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                       gramLen: Int, hashKeys: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gramLen >= 4 && gramLen <= 10000,
      s"gramLen must be in [4, 10000], got $gramLen")
    // native one-pass gram walk — see [[repeatedCharSpans]]
    val grams = df
      .where(length(col(textCol)) >= gramLen)
      .select(col(idCol),
        posexplode(expr(s"graft_char_grams($textCol, $gramLen)"))
          .as(Seq("pos", "__gs")))
      .select(col(idCol), col("pos"),
        (if (hashKeys) expr("xxhash64(__gs)") else col("__gs")).as("g"))
    val wg = Window.partitionBy(col("g"))
    val cut = grams
      .withColumn("__gn", count(lit(1)).over(wg))
      .withColumn("__first", min(struct(col(idCol), col("pos"))).over(wg))
      .where(col("__gn") >= 2 &&
        !(col("__first")(idCol) === col(idCol) && col("__first")("pos") === col("pos")))
      .select(col(idCol), col("pos").cast("bigint").as("pos"),
        (col("pos") + gramLen).cast("bigint").as("end"))
    val merged = TimeSeries.mergeIntervals(cut, idCol, "pos", "end")
    // gap segments: each cut interval contributes the kept slice
    // between the previous cut's end and its own start; the tail
    // after the last cut is appended at the join
    val wd = Window.partitionBy(col(idCol)).orderBy(col("ivl_start"))
    val rebuilt = merged
      .withColumn("__gap_start",
        coalesce(lag(col("ivl_end"), 1).over(wd), lit(0L)))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("bigint").as("n_cut_spans"),
        sum(col("ivl_end") - col("ivl_start")).cast("bigint").as("cut_chars"),
        max(col("ivl_end")).as("__last_end"),
        sort_array(collect_list(struct(col("ivl_start"), col("__gap_start"))))
          .as("__gaps"))
    df.select(col(idCol), col(textCol))
      .join(rebuilt, Seq(idCol.toString), "left")
      .withColumn("clean_text",
        when(col("n_cut_spans").isNull, col(textCol)).otherwise(expr(
          s"concat(array_join(transform(__gaps, iv -> " +
            s"substring($textCol, CAST(iv.__gap_start AS INT) + 1, " +
            s"CAST(iv.ivl_start - iv.__gap_start AS INT))), ''), " +
            s"substring($textCol, CAST(__last_end AS INT) + 1))")))
      .select(col(idCol), col("clean_text"),
        coalesce(col("n_cut_spans"), lit(0L)).as("n_cut_spans"),
        coalesce(col("cut_chars"), lit(0L)).as("cut_chars"))
  }

  /** Dedup EVIDENCE for candidate pairs: the longest CONTIGUOUS run
    * of shared 3-token shingles between the two documents of each
    * pair — the "show me the overlap" step after LSH says two docs
    * are related (a long run means copied passage; scattered single
    * matches mean shared vocabulary). Matching is positional: shared
    * shingle hashes align on a diagonal `pa − pb`, and a run is a
    * maximal streak of consecutive positions on one diagonal; a run
    * of `r` shingles certifies `r + 2` shared contiguous tokens (up
    * to the 30-bit hash's collision odds — this is evidence ranking,
    * with exact verification one substring call away). Output per
    * pair: `(aCol, bCol, n_shared, run_shingles, run_tokens)`;
    * pairs with no shared shingle keep a row with zeros.
    *
    * Scale shape: shingle hashes materialize ONCE per doc (native
    * codegen hash, posexploded); each pair's matches come from two
    * id-keyed equi-joins (pairs × positions — bounded by doc length,
    * never corpus²); the streak detection is the classic
    * `pos − row_number()` gap-and-island trick inside a per-(pair,
    * diagonal) window — entity-bounded, no global sort.
    */
  def longestSharedRun(df: DataFrame, idCol: String, textCol: String,
                       pairs: DataFrame, aCol: String,
                       bCol: String): DataFrame = {
    import graft.functions.TextHash.{spark => H}
    // the pair frame feeds THREE consumers (candidate-doc pruning,
    // the match join, the zero-fill left join) — persist it so an
    // expensive upstream pair generator (LSH, signature self-join)
    // runs once, not per consumer
    val p = pairs.select(col(aCol), col(bCol)).persist()
    // only docs that actually appear in a pair need gram positions —
    // the ids-only semi-join prunes the explode to the candidate set
    val inPairs = p.select(col(aCol).as(idCol))
      .unionAll(p.select(col(bCol).as(idCol)))
      .distinct()
    // ONE hashed-gram frame feeds BOTH sides of the match join:
    // without the persist the tokenize+shingle+hash explode (the
    // expensive leaf) is planned — and executed — once per side
    val grams = TextOps.withTokens(
        df.join(inPairs, Seq(idCol), "left_semi")
          .select(col(idCol), col(textCol)), textCol, "__toks")
      .select(col(idCol),
        posexplode(expr(H.hashArray(H.shingles3("__toks", textCol))))
          .as(Seq("__p", "__h")))
      .persist()
    val ga = grams.select(col(idCol).as(aCol), col("__p").as("__pa"),
      col("__h").as("__h"))
    val gb = grams.select(col(idCol).as(bCol), col("__p").as("__pb"),
      col("__h").as("__h"))
    // the hash is part of the SECOND join's equi-key — joining on
    // (b_id) alone and filtering afterward would materialize
    // |pairs| × grams(a) × grams(b) rows first
    val matches = p
      .join(ga, Seq(aCol))
      .join(gb, Seq(bCol, "__h"))
      .select(col(aCol), col(bCol), col("__pa"), col("__pb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(aCol), col(bCol), col("__pa") - col("__pb"))
      .orderBy(col("__pa"))
    val runs = matches
      .withColumn("__grp", col("__pa") - row_number().over(w))
      .groupBy(col(aCol), col(bCol),
        (col("__pa") - col("__pb")).as("__diag"), col("__grp"))
      .agg(count(lit(1)).cast("bigint").as("__run"))
      .groupBy(col(aCol), col(bCol))
      .agg(sum(col("__run")).cast("bigint").as("n_shared"),
        max(col("__run")).cast("bigint").as("run_shingles"))
    p.join(runs, Seq(aCol, bCol), "left")
      .select(col(aCol), col(bCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("run_shingles"), lit(0L)).as("run_shingles"),
        when(col("run_shingles").isNull, 0L)
          .otherwise(col("run_shingles") + 2L).as("run_tokens"))
  }

  /** EXACT threshold Jaccard similarity join over distinct token
    * sets — every pair with `|A∩B|/|A∪B| ≥ tNum/tDen`, no recall
    * loss: the lossless complement of the MinHash/SimHash candidate
    * pipelines (use those to cluster at scale cheaply; use this when
    * an audit or a legal hold needs EVERY qualifying pair). AllPairs/
    * PPJoin prefix filtering (Bayardo et al., WWW'07; Xiao et al.,
    * WWW'08): order each document's distinct tokens by ascending
    * GLOBAL frequency (ties by token), index only the first
    * `|d| − ceil(t·|d|) + 1` tokens — two documents meeting the
    * threshold MUST share a prefix token (pigeonhole on the rarest
    * tokens), so the inverted-index join over prefixes is a complete
    * candidate generator, and hot stopwords almost never enter a
    * prefix. Candidates are then verified exactly with integer
    * cross-multiplication — no float thresholds.
    *
    * Output: `(a_id, b_id, n_a, n_b, n_common, jacc_ppm)` for every
    * qualifying pair with `a_id < b_id`; `jacc_ppm` =
    * `(10⁶·|A∩B|) div |A∪B|`.
    *
    * Scale shape (100 TB): token frequencies and per-doc rarity ranks
    * are token-keyed aggregations + one per-doc window; the candidate
    * join is keyed on PREFIX tokens whose fan-out the ordering
    * actively minimizes (the rarest tokens index first — the
    * classic AllPairs cost bound); verification is two id-keyed
    * equi-joins counting common tokens on candidates only. Skew
    * guard: a prefix token hotter than `maxTokenFreq` raises loudly
    * (pathological corpora — e.g. every doc identical — would
    * otherwise quadratically explode one key; raise the cap or
    * pre-dedup exact copies first). */
  def exactJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                       tNum: Long, tDen: Long,
                       maxTokenFreq: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tNum >= 1 && tNum <= tDen, "threshold must be in (0, 1]")
    // ids keep their native type: every downstream use (window
    // partition, equi-joins, the a<b canonical order) works on any
    // orderable type, and a cast("long") would turn string/UUID ids
    // into NULLs — silently emptying the join instead of failing
    val tk = df
      .select(col(idCol).as("__id"),
        explode(array_distinct(expr(
          graft.functions.TextHash.spark.tokens(textCol)))).as("__w"))
    val freq = tk.groupBy(col("__w"))
      .agg(count(lit(1)).cast("bigint").as("__f"))
    val ranked = tk.join(freq, Seq("__w"))
      .withColumn("__pos", row_number().over(
        Window.partitionBy(col("__id")).orderBy(col("__f"), col("__w"))))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__id"))))
      .localCheckpoint()
    // prefix length |d| − ceil(t·|d|) + 1, integer ceil
    val prefixes = ranked.where(
      col("__pos") <= col("__n") - expr(s"($tNum * __n + $tDen - 1) div $tDen")
        + lit(1L))
      .withColumn("__w", expr(
        s"""CASE WHEN __f <= ${maxTokenFreq}L THEN __w ELSE raise_error(
           |  concat('exactJaccardJoin: prefix token hotter than $maxTokenFreq (',
           |  __w, ') — pre-dedup exact copies or raise maxTokenFreq')) END"""
          .stripMargin))
    val cand = prefixes.select(col("__id").as("__a"), col("__w"))
      .join(prefixes.select(col("__id").as("__b"), col("__w")), Seq("__w"))
      .where(col("__a") < col("__b"))
      .select(col("__a"), col("__b"))
      .distinct()
    val sizes = ranked.select(col("__id"), col("__n")).distinct()
    val common = cand
      .join(tk.select(col("__id").as("__a"), col("__w")), Seq("__a"))
      .join(tk.select(col("__id").as("__b"), col("__w")), Seq("__b", "__w"))
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).cast("bigint").as("__c"))
    common
      .join(sizes.select(col("__id").as("__a"), col("__n").as("__na")), Seq("__a"))
      .join(sizes.select(col("__id").as("__b"), col("__n").as("__nb")), Seq("__b"))
      .where(expr(s"$tDen * __c >= $tNum * (__na + __nb - __c)"))
      .select(col("__a").as("a_id"), col("__b").as("b_id"),
        col("__na").cast("bigint").as("n_a"),
        col("__nb").cast("bigint").as("n_b"),
        col("__c").as("n_common"),
        expr("(1000000L * __c) div (__na + __nb - __c)").cast("bigint")
          .as("jacc_ppm"))
  }

  /** INCREMENTAL exact threshold Jaccard join — the streaming shape
    * of [[exactJaccardJoin]]: a standing corpus has already been
    * indexed; a new batch arrives; emit EVERY qualifying pair the
    * batch introduces (batch×corpus and batch×batch — corpus-internal
    * pairs were reported when THEIR batches arrived), with no recall
    * loss. The piece that makes this stream-safe is the FROZEN index
    * order: per-document prefixes are taken under the token order
    * `(corpus frequency ASC, token ASC)` — the AllPairs/PPJoin prefix
    * bound (`|d| − ceil(t·|d|) + 1` rarest tokens) is lossless under
    * ANY total order both sides share (frequency ordering is purely a
    * cost optimization), so new batches never reorder or rebuild the
    * standing corpus index: tokens the corpus has never seen rank
    * rarest (frequency 0) and only extend the index. Output adds
    * `new_sides` (1 = batch×corpus pair, 2 = batch-internal pair) to
    * the [[exactJaccardJoin]] columns. Ids must be distinct across
    * corpus ∪ batch (a re-sent id is a different event — dedup
    * upstream), and ids keep their native type.
    *
    * Completeness invariant (pinned in the spec): this equals
    * `exactJaccardJoin(corpus ∪ batch)` restricted to pairs touching
    * the batch — even when the batch carries corpus-unseen tokens.
    *
    * Scale shape (100 TB): the corpus side computes frequencies and
    * prefixes once per standing index (in a real deployment these
    * persist between batches); each batch's work is its own ranking
    * window (batch-bounded), one prefix-keyed probe join against the
    * corpus prefix index, one batch-internal prefix self-join, and
    * candidate-only verification joins — never a corpus×corpus
    * revisit. The same hot-prefix-token guard as the one-shot join
    * raises loudly on pathological keys, each side labeled. */
  def exactJaccardJoinIncremental(corpus: DataFrame, batch: DataFrame,
                                  idCol: String, textCol: String,
                                  tNum: Long, tDen: Long,
                                  maxTokenFreq: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tNum >= 1 && tNum <= tDen, "threshold must be in (0, 1]")
    def tk(df: DataFrame) = df
      .select(col(idCol).as("__id"),
        explode(array_distinct(expr(
          graft.functions.TextHash.spark.tokens(textCol)))).as("__w"))
    val tkC = tk(corpus)
    val tkB = tk(batch)
    val freq = tkC.groupBy(col("__w"))
      .agg(count(lit(1)).cast("bigint").as("__f"))
    def ranked(t: DataFrame) = t.join(freq, Seq("__w"), "left")
      .withColumn("__f", coalesce(col("__f"), lit(0L)))
      .withColumn("__pos", row_number().over(
        Window.partitionBy(col("__id")).orderBy(col("__f"), col("__w"))))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__id"))))
    // the guard rewrites __w itself (a guard on a column the plan
    // later drops would be pruned away with its raise_error)
    def guarded(df: DataFrame, measure: String, side: String) = df
      .withColumn("__w", expr(
        s"CASE WHEN $measure <= ${maxTokenFreq}L THEN __w ELSE " +
          s"raise_error(concat('exactJaccardJoinIncremental: $side prefix " +
          s"token hotter than $maxTokenFreq (', __w, ') — pre-dedup exact " +
          "copies or raise maxTokenFreq')) END"))
    def prefixes(r: DataFrame) = r.where(
      col("__pos") <= col("__n") - expr(s"($tNum * __n + $tDen - 1) div $tDen")
        + lit(1L))
    val rankedC = ranked(tkC).localCheckpoint() // the standing index
    val rankedB = ranked(tkB).localCheckpoint() // probed twice below
    // corpus prefix fan-out is bounded by the corpus frequency the
    // ordering already carries; a batch-hot token the corpus has never
    // seen (freq 0) would sail past that guard, so the batch side
    // additionally guards its OWN prefix fan-out
    val pC = guarded(prefixes(rankedC), "__f", "corpus")
      .select(col("__id"), col("__w"))
    val pB = guarded(
      prefixes(rankedB).withColumn("__bf",
        count(lit(1)).over(Window.partitionBy(col("__w")))
          .cast("bigint")), "__bf", "batch")
      .select(col("__id"), col("__w"))
    // cross candidates canonicalize on id order AFTER the join (a
    // corpus id may sort after a batch id); batch-internal candidates
    // canonicalize in the join condition as usual
    val cross = pB.select(col("__id").as("__x"), col("__w"))
      .join(pC.select(col("__id").as("__y"), col("__w")), Seq("__w"))
      .select(
        when(col("__x") < col("__y"), col("__x")).otherwise(col("__y")).as("__a"),
        when(col("__x") < col("__y"), col("__y")).otherwise(col("__x")).as("__b"),
        lit(1L).as("new_sides"))
    val fresh = pB.select(col("__id").as("__a"), col("__w"))
      .join(pB.select(col("__id").as("__b"), col("__w")), Seq("__w"))
      .where(col("__a") < col("__b"))
      .select(col("__a"), col("__b"), lit(2L).as("new_sides"))
    val cand = cross.unionAll(fresh)
      .groupBy(col("__a"), col("__b"))
      .agg(max(col("new_sides")).as("new_sides"))
    val tkAll = tkC.unionAll(tkB)
    val sizes = rankedC.select(col("__id"), col("__n"))
      .unionAll(rankedB.select(col("__id"), col("__n"))).distinct()
    val common = cand
      .join(tkAll.select(col("__id").as("__a"), col("__w")), Seq("__a"))
      .join(tkAll.select(col("__id").as("__b"), col("__w")), Seq("__b", "__w"))
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).cast("bigint").as("__c"))
    cand.join(common, Seq("__a", "__b"))
      .join(sizes.select(col("__id").as("__a"), col("__n").as("__na")), Seq("__a"))
      .join(sizes.select(col("__id").as("__b"), col("__n").as("__nb")), Seq("__b"))
      .where(expr(s"$tDen * __c >= $tNum * (__na + __nb - __c)"))
      .select(col("__a").as("a_id"), col("__b").as("b_id"),
        col("__na").cast("bigint").as("n_a"),
        col("__nb").cast("bigint").as("n_b"),
        col("__c").as("n_common"),
        expr("(1000000L * __c) div (__na + __nb - __c)").cast("bigint")
          .as("jacc_ppm"),
        col("new_sides").cast("bigint").as("new_sides"))
  }

}
