package graft.operators

import graft.functions.TextHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * All operators are per-row scalar pipelines built from Spark
  * built-in (higher-order) expressions — no UDFs — so they stay
  * inside whole-stage codegen and shuffle only where an aggregation
  * genuinely requires it. Beyond the reference's surface (polario has
  * no text operators — /root/reference/polario has only dataset I/O,
  * see SURVEY.md §0); these are the north-star extensions.
  */
object TextOps {

  import TextHash.{spark => H}

  /** Add a whitespace token-array column. */
  def withTokens(df: DataFrame, textCol: String, out: String = "toks"): DataFrame =
    df.withColumn(out, expr(H.tokens(textCol)))

  /** Rolling-hash document fingerprint in [0, 1e9+7). */
  def withFingerprint(df: DataFrame, textCol: String, out: String = "fingerprint"): DataFrame =
    df.withColumn(out, expr(H.rollingHash(textCol)))

  /** MinHash signature columns m0..m{n-1} over 3-word shingles of
    * `textCol`. Signature components are exact 64-bit integers —
    * identical across engines (see TextHash). */
  def withMinhashSignature(df: DataFrame, textCol: String, nHashes: Int = 8): DataFrame = {
    require(nHashes <= TextHash.Seeds.size, s"at most ${TextHash.Seeds.size} seeds defined")
    val withToks = withTokens(df, textCol, "__toks")
    val withSh = withToks.withColumn("__sh", expr(H.shingles3("__toks", textCol)))
    // Fold each shingle's char-level hash exactly once; each of the n
    // signature components is then two integer ops per shingle.
    val withHs = withSh.withColumn("__hs", expr(H.hashArray("__sh")))
    val sig = TextHash.Seeds.take(nHashes).zipWithIndex.foldLeft(withHs) {
      case (d, ((a, b), i)) => d.withColumn(s"m$i", expr(H.minhashFromHashes("__hs", a, b)))
    }
    sig.drop("__toks", "__sh", "__hs")
  }

  /** Winnowed (MOSS-style) fingerprint set: the min k-gram rolling
    * hash of every length-`w` hash window, deduplicated and sorted.
    * Robust to small edits — any shared substring of length
    * `k + w - 1` guarantees a shared fingerprint (the winnowing
    * coverage theorem), which is what plagiarism/near-dup detection
    * needs from a fingerprint and a single whole-document hash can't
    * give. Texts shorter than `k + w - 1` fall back to one whole-text
    * hash. Per-row, no shuffle: the native `graft_winnow` expression
    * computes k-gram hashes, window minima, dedup and sort in one
    * generated pass (NativeExprSpec proves it bitwise-equal to the
    * HOF rendering in [[withWinnowedFingerprintsHof]]). */
  def withWinnowedFingerprints(df: DataFrame, textCol: String,
                               k: Int = 5, w: Int = 4,
                               out: String = "fps"): DataFrame = {
    require(k >= 1 && w >= 1)
    df.withColumn(out, expr(s"graft_winnow($textCol, $k, $w)"))
  }

  /** Pure built-in rendering of [[withWinnowedFingerprints]]
    * (interpreted; registration-free environments + parity tests). */
  def withWinnowedFingerprintsHof(df: DataFrame, textCol: String,
                                  k: Int = 5, w: Int = 4,
                                  out: String = "fps"): DataFrame = {
    require(k >= 1 && w >= 1)
    import org.apache.spark.sql.functions.{array, col, length, lit, when}
    // the original mixed rendering (HOF walk over the native scalar
    // hash), kept verbatim so this parity path's behavior is
    // independent of the production kgramHashes (now fully native)
    df.withColumn("__kh", expr(
        s"transform(sequence(1, length($textCol) - ${k - 1}), " +
          s"kg -> ${H.rollingHash(s"substring($textCol, kg, $k)")})"))
      .withColumn(out,
        // null text -> null result (matching the native expression's
        // null propagation; without this branch the CaseWhen would
        // fall through to array(hash(null)) = [null])
        when(col(textCol).isNull, lit(null))
          .when(length(col(textCol)) >= k + w - 1, expr(H.winnowFromHashes("__kh", w)))
          .otherwise(array(expr(H.rollingHash(textCol)))))
      .drop("__kh")
  }

  /** 16-bit simhash over whitespace tokens. */
  def withSimhash16(df: DataFrame, textCol: String, out: String = "simhash16"): DataFrame =
    withSimhash(df, textCol, 16, out)

  /** `bits`-bit simhash. Up to 30 bits come straight from the rolling
    * hash (int result); 31..60 bits compose a second seeded hash into
    * the token hash's high half (bigint result) — wide fingerprints
    * are what let LSH band-bucket cardinality grow with corpus size. */
  def withSimhash(df: DataFrame, textCol: String, bits: Int, out: String): DataFrame = {
    require(bits >= 1 && bits <= 60, s"simhash supports 1..60 bits, got $bits")
    val (hashes, sim) =
      if (bits <= 30) (H.tokenHashes("__toks", bits), H.simhashN("__hs", bits))
      else (H.tokenHashesWide("__toks", bits), H.simhashWide("__hs", bits))
    withTokens(df, textCol, "__toks")
      .withColumn("__hs", expr(hashes))
      .withColumn(out, expr(sim))
      .drop("__toks", "__hs")
  }

  /** Gopher-style per-document repetition statistics over whitespace
    * tokens (Rae et al. 2021's repetitious-text quality gates,
    * re-expressed over tokens): duplicate-token and duplicate-bigram
    * counts, the most frequent bigram's occurrence count, and the
    * derived fractions used to filter boilerplate/degenerate text.
    *
    * Adds: `n_toks`, `n_dup_toks`, `n_dup_bigrams`, `top_bigram_n`
    * (exact integers) and `dup_tok_frac`, `dup_bigram_frac`,
    * `top_bigram_frac` (single-division doubles).
    *
    * Scale: a per-row map — no shuffle, no UDF, no interpreted lambda,
    * independent of corpus size. The token counts are built-in array
    * functions; the bigram counts come from the native
    * `graft_bigram_stats` kernel, one hashing pass over a document's
    * bigrams (expected O(len)). */
  def withRepetitionStats(df: DataFrame, textCol: String): DataFrame = {
    val reserved = Set("__toks", "__bg", "n_toks", "n_dup_toks", "n_dup_bigrams",
      "top_bigram_n", "dup_tok_frac", "dup_bigram_frac", "top_bigram_frac")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"withRepetitionStats reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    withTokens(df, textCol, "__toks")
      .withColumn("__bg", expr("graft_bigram_stats(__toks)"))
      .withColumn("n_toks", size(col("__toks")).cast("bigint"))
      .withColumn("n_dup_toks",
        (size(col("__toks")) - size(array_distinct(col("__toks")))).cast("bigint"))
      .withColumn("n_dup_bigrams", col("__bg.n_dup_bigrams"))
      .withColumn("top_bigram_n", col("__bg.top_bigram_n"))
      .withColumn("dup_tok_frac",
        when(col("n_toks") === 0, lit(0.0))
          .otherwise(col("n_dup_toks").cast("double") / col("n_toks").cast("double")))
      .withColumn("dup_bigram_frac",
        when(col("__bg.n_bigrams") === 0, lit(0.0))
          .otherwise(col("n_dup_bigrams").cast("double") / col("__bg.n_bigrams").cast("double")))
      .withColumn("top_bigram_frac",
        when(col("n_toks") === 0, lit(0.0))
          .otherwise(col("top_bigram_n").cast("double") * lit(2.0) / col("n_toks").cast("double")))
      .drop("__toks", "__bg")
  }

  /** Token-distribution diversity per document as the Gini/Simpson
    * index `1 − Σ n_t² / n²` (probability two random tokens differ) —
    * the entropy-style degenerate-text signal computed WITHOUT
    * logarithms: `Σ n_t²` and `n²` are exact integer monoids, so the
    * score is one IEEE division + one subtraction — bitwise across
    * engines, unlike libm-`log` entropy (oracle-parity rule).
    * Near-0 = one token repeated (degenerate); near-1 = all distinct.
    *
    * Scale: explode → two map-side-combined aggregations keyed
    * (doc, token) then (doc) — the standard token-pipeline shuffle
    * pair; output re-joined to EVERY input row (null-text documents
    * keep `n_tokens = 0`, `gini` null — nothing silently vanishes). */
  def withTokenGini(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val reserved = Set("n_tokens", "gini")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"withTokenGini reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val per = withTokens(df.select(col(idCol), col(textCol)), textCol, "__toks")
      .select(col(idCol), explode(col("__toks")).as("__token"))
      .groupBy(col(idCol), col("__token")).agg(count(lit(1)).as("__nt"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__nt")).cast("bigint").as("n_tokens"),
        sum(col("__nt") * col("__nt")).cast("bigint").as("__s2"))
    df.join(per, Seq(idCol), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .withColumn("gini",
        when(col("n_tokens") > 0,
          lit(1.0) - col("__s2").cast("double") /
            (col("n_tokens") * col("n_tokens")).cast("double")))
      .drop("__s2")
  }

  /** Content-defined chunking (CDC — the rsync/FastCDC family):
    * split each document at positions whose local k-gram rolling
    * hash satisfies `hash % mod == 0`, so boundaries depend ONLY on
    * nearby content. The property dedup needs: inserting or deleting
    * a prefix shifts every fixed-stride chunk, but CDC boundaries
    * re-synchronize immediately — identical substrings yield
    * identical chunks wherever they sit, so chunk-level exact dedup
    * catches shared content that span-grid dedup misses
    * (spec-pinned). Chunks longer than `maxLen` are subdivided at
    * `maxLen` stride (storage bound); expected chunk length is
    * `mod` characters — tune `mod`, not a minimum-length rule, to
    * control granularity (a min-length rule would make the scan
    * sequential; this formulation stays a pure per-row filter).
    *
    * Output: one row per chunk — `(idCol, chunk_idx, chunk_start,
    * chunk_len, chunk_text)` (1-based start). Texts shorter than
    * `k + 1` chars form a single chunk; empty/null text yields no
    * rows.
    *
    * Scale: per-row HOF pipeline (k-gram hashes → boundary filter →
    * start expansion → explode) — no shuffle, no UDF; O(len) work
    * per document. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                k: Int = 8, mod: Int = 64, maxLen: Int = 256): DataFrame = {
    require(k >= 1, "k must be positive")
    require(mod >= 2, "mod must be at least 2")
    require(maxLen >= 1, "maxLen must be positive")
    val reserved = Set("__kh", "__cuts", "__starts", "chunk_idx", "chunk_start",
      "chunk_len", "chunk_text")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"cdcChunks reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val n = s"length($textCol)"
    // candidate boundary positions 2..n-k+1 whose k-gram hash divides;
    // position 1 is always a start. sequence() steps BACKWARD when
    // start > stop, so every range is guarded. Every intermediate is
    // LET-BOUND via the `transform(array(e), x -> …)` idiom: naming
    // it with withColumn would let projection collapse inline the
    // O(n·k) k-gram array into every element_at probe (O(n²·k) per
    // row, re-evaluated per exploded chunk — observed as a hang at
    // sf0.01), whereas a lambda binding materializes it once per row.
    val khE =
      s"CASE WHEN $n >= ${k + 1} THEN ${H.kgramHashes(textCol, k)} " +
        s"ELSE CAST(array() AS array<bigint>) END"
    val cutsE = // boundaries incl. sentinels 1 and n+1; `kh` bound
      s"concat(array(1), CASE WHEN $n >= ${k + 1} THEN " +
        s"filter(sequence(2, $n - ${k - 1}), p -> element_at(kh, p) % $mod = 0) " +
        s"ELSE CAST(array() AS array<int>) END, array($n + 1))"
    val startsE = // maxLen-stride subdivision of [cut_j, cut_{j+1}); `c` bound
      s"flatten(transform(sequence(1, size(c) - 1), " +
        s"j -> sequence(element_at(c, j), element_at(c, j + 1) - 1, $maxLen)))"
    val chunksE = // (idx, start, len) structs; `st` bound
      s"transform(sequence(1, size(st)), q -> struct(" +
        s"q - 1 AS chunk_idx, element_at(st, q) AS chunk_start, " +
        s"(CASE WHEN q < size(st) THEN element_at(st, q + 1) ELSE $n + 1 END) " +
        s"- element_at(st, q) AS chunk_len))"
    val full =
      s"CASE WHEN $n IS NULL OR $n = 0 THEN " +
        s"CAST(array() AS array<struct<chunk_idx: int, chunk_start: int, chunk_len: int>>) " +
        s"ELSE element_at(transform(array($khE), kh -> " +
        s"element_at(transform(array($cutsE), c -> " +
        s"element_at(transform(array($startsE), st -> $chunksE), 1)), 1)), 1) END"
    df.select(col(idCol), col(textCol).as("__t"), explode(expr(full)).as("__ch"))
      .select(col(idCol),
        col("__ch.chunk_idx").as("chunk_idx"),
        col("__ch.chunk_start").as("chunk_start"),
        col("__ch.chunk_len").cast("bigint").as("chunk_len"),
        expr("substring(__t, __ch.chunk_start, __ch.chunk_len)").as("chunk_text"))
  }

  /** GPT-2-style pre-tokenizer pattern, restricted to the
    * Java-regex ∩ RE2 dialect (no lookarounds — the original's
    * trailing-whitespace lookahead is dropped, so runs of spaces
    * fold into one token): contractions, optionally-space-prefixed
    * letter runs, digit runs, punctuation runs, whitespace runs.
    * An approximate but deterministic proxy for BPE token counts —
    * what a token-budget estimate needs before a real tokenizer
    * pass. */
  val BpeishTokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Add `out` = number of [[BpeishTokenPattern]] pre-tokens in
    * `textCol` (null text → null). Per-row codegen'd `regexp_count`
    * — no shuffle; pair with the whitespace count for a
    * tokens-per-word fertility signal. */
  def withBpeishTokenCount(df: DataFrame, textCol: String,
                           out: String = "n_bpeish"): DataFrame =
    df.withColumn(out, regexp_count(col(textCol), lit(BpeishTokenPattern)).cast("bigint"))

  /** Token-distribution drift between two slices of a corpus: the
    * top-`k` tokens by absolute relative-frequency difference
    * |n_a/tot_a − n_b/tot_b|, ties broken by token. The standard
    * mixture-monitoring probe — "which tokens does slice A
    * over/under-represent vs slice B" — run between crawls, sources,
    * or mixture revisions to catch distribution shift before
    * training does.
    *
    * Output: `(token, n_a, n_b, drift)` ordered by drift desc. The
    * counts are exact integers; `drift` is a fixed three-op IEEE
    * tree (two exactly-rounded divisions, one subtraction, abs) so
    * it is bitwise-reproducible across engines.
    *
    * Scale: one explode + ONE token-keyed shuffle for the per-token
    * counts (both slices aggregated in the same pass — no per-slice
    * jobs); slice totals are a single-row aggregate broadcast into
    * the scoring projection; top-k is TakeOrderedAndProject (per-
    * partition heaps + one k-row driver merge), never a global sort. */
  /** Strip the longest common PREFIX shared by every document of a
    * group — crawl-header/boilerplate removal when a whole source
    * carries the same leading banner. Uses the classic order-
    * statistics identity: the common prefix of a SET of strings is
    * the common prefix of its lexicographic min and max, so one
    * group aggregate + a scalar fold computes the length (no
    * pairwise work); the trim itself is a per-row substring. Adds
    * `prefix_len` and `trimmed`. A single-document group trims its
    * entire text (its min and max coincide) — by construction, and
    * documented rather than special-cased.
    *
    * Scale shape: one group-bounded min/max aggregate broadcast
    * back; the fold runs once per GROUP, not per row. */
  def stripCommonPrefix(df: DataFrame, textCol: String,
                        groupCol: String): DataFrame = {
    val reserved = Set("__mn", "__mx", "prefix_len", "trimmed")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"stripCommonPrefix reserves ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val mm = df.groupBy(col(groupCol))
      .agg(min(col(textCol)).as("__mn"), max(col(textCol)).as("__mx"))
      .withColumn("prefix_len", expr(
        "aggregate(sequence(1, least(length(__mn), length(__mx))), 0, " +
          "(acc, i) -> IF(acc = i - 1 AND substring(__mn, i, 1) = substring(__mx, i, 1), " +
          "i, acc))").cast("long"))
      .select(col(groupCol), col("prefix_len"))
    df.join(broadcast(mm), Seq(groupCol))
      .withColumn("trimmed",
        expr(s"substring($textCol, CAST(prefix_len AS INT) + 1)"))
  }

  /** [[stripCommonPrefix]]'s mirror for FOOTERS: strip the longest
    * common suffix shared by every document of a group (signature
    * blocks, tracking banners) — the same min/max identity applied
    * to the reversed strings; `suffix_len` + `trimmed` added. */
  def stripCommonSuffix(df: DataFrame, textCol: String,
                        groupCol: String): DataFrame = {
    val reserved = Set("__rv", "__mn", "__mx", "suffix_len", "trimmed")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"stripCommonSuffix reserves ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val mm = df
      .withColumn("__rv", reverse(col(textCol)))
      .groupBy(col(groupCol))
      .agg(min(col("__rv")).as("__mn"), max(col("__rv")).as("__mx"))
      .withColumn("suffix_len", expr(
        "aggregate(sequence(1, least(length(__mn), length(__mx))), 0, " +
          "(acc, i) -> IF(acc = i - 1 AND substring(__mn, i, 1) = substring(__mx, i, 1), " +
          "i, acc))").cast("long"))
      .select(col(groupCol), col("suffix_len"))
    df.join(broadcast(mm), Seq(groupCol))
      .withColumn("trimmed", expr(
        s"substring($textCol, 1, length($textCol) - CAST(suffix_len AS INT))"))
  }

  /** Per-group UNIQUE content contribution: how many distinct
    * 3-token shingles appear in this group and NOWHERE else — the
    * "what do we lose if we drop this source" signal, the exact
    * complement of [[graft.operators.Relevance.vocabOverlapPairs]]'s
    * redundancy view. Groups contributing nothing unique still
    * appear (count 0).
    *
    * Scale shape: one (group, shingle) distinct, one shingle-keyed
    * group-count (both map-side combined; shuffle keyed on the
    * shingle), final output group-bounded. */
  def uniqueShingleContribution(df: DataFrame, textCol: String,
                                groupCol: String): DataFrame = {
    val sh = withTokens(df.select(col(groupCol), col(textCol)), textCol, "__toks")
      .select(col(groupCol), explode(expr(H.shingles3("__toks", textCol))).as("__sh"))
      .distinct()
    val spread = sh.groupBy(col("__sh"))
      .agg(count(lit(1)).cast("bigint").as("__nsrc"))
    val uniques = sh.join(spread.where(col("__nsrc") === 1L), "__sh")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("bigint").as("n_unique"))
    df.select(col(groupCol)).distinct()
      .join(uniques, Seq(groupCol), "left")
      .select(col(groupCol), coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .orderBy(col(groupCol))
  }

  /** Per-document shingle NOVELTY against the earlier corpus: the
    * fraction of a doc's distinct 3-word shingles whose FIRST
    * occurrence (by ascending `idCol`) is in this doc. The freshness
    * signal a curation pipeline reads before paying for new data —
    * a crawl increment whose docs all score near 0 is re-crawl, not
    * new content — and the doc-granular face of what
    * [[uniqueShingleContribution]] reports per source.
    *
    * Output: one row per input doc — `(idCol, n_distinct, n_novel,
    * novelty_ppm)` with `novelty_ppm = 10⁶·n_novel div n_distinct`
    * (NULL for shingle-free docs). Exact integers — bitwise-portable.
    *
    * Scale shape (100 TB): distinct (doc, shingle) pairs map-side
    * deduped, ONE shingle-keyed aggregation for the global first
    * owner (`min(id)` — a mergeable min, no window), one shingle
    * join back, one doc-keyed count. Nothing corpus-sized crosses
    * the shuffle twice, and there is no ordering structure beyond
    * the min. */
  def shingleNovelty(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val reserved = Set("n_distinct", "n_novel", "novelty_ppm")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"shingleNovelty reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val pairs = withTokens(df.select(col(idCol), col(textCol)), textCol, "__toks")
      .select(col(idCol), explode(expr(H.shingles3("__toks", textCol))).as("__sh"))
      .distinct()
    val owners = pairs.groupBy(col("__sh"))
      .agg(min(col(idCol)).as("__owner"))
    val per = pairs.join(owners, "__sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("bigint").as("n_distinct"),
        sum(when(col(idCol) === col("__owner"), 1L).otherwise(0L))
          .as("n_novel"))
    df.select(col(idCol)).distinct()
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm",
        when(col("n_distinct") > 0,
          expr("(1000000L * n_novel) div n_distinct")))
  }

  /** Token-distribution entropy surrogate per group — the
    * source-level diversity score beside [[withTokenGini]]'s per-doc
    * Simpson index: for token counts `c_t` summing to `n` in a
    * group, `ent_sum = Σ_t c_t · (bl(n) − bl(c_t))` with `bl` the
    * bit-length log2 (the [[withCharEntropy]] surrogate lifted from
    * chars to the token distribution). A source whose mass
    * concentrates on few tokens scores near 0 — template/boilerplate
    * feeds — and exact integers keep it bitwise-portable.
    *
    * Output: `(groupCol, n_tokens, n_distinct, ent_sum)`, one row
    * per group. Scale shape: one token explode → (group, token)
    * count (map-side combined, vocabulary-bounded) → ONE group
    * aggregation: by `Σ c·(bl(n)−bl(c)) = n·bl(n) − Σ c·bl(c)`,
    * the total splits into per-cell terms plus a per-group scalar —
    * so the count frame is read once, with no totals join and no
    * second pass over the explode. */
  def groupTokenEntropy(df: DataFrame, textCol: String,
                        groupCol: String): DataFrame = {
    val counts = withTokens(df.select(col(groupCol), col(textCol)), textCol, "__toks")
      .select(col(groupCol), explode(col("__toks")).as("__tok"))
      .groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).cast("bigint").as("__c"))
    counts.groupBy(col(groupCol))
      .agg(sum(col("__c")).cast("bigint").as("n_tokens"),
        count(lit(1)).cast("bigint").as("n_distinct"),
        sum(col("__c") * length(bin(col("__c"))).cast("bigint"))
          .cast("bigint").as("__s"))
      .withColumn("ent_sum",
        col("n_tokens") * length(bin(col("n_tokens"))).cast("bigint") - col("__s"))
      .select(col(groupCol), col("n_tokens"), col("n_distinct"), col("ent_sum"))
      .orderBy(col(groupCol))
  }

  /** Vocabulary-growth (Heaps'-law) curve: cumulative token mass and
    * cumulative DISTINCT vocabulary at `buckets` id-value
    * checkpoints `ck_i = (i·max_id) div buckets` — the
    * diminishing-returns read on a growing corpus (a flattening
    * vocab curve says new data is re-treading old token space; same
    * family as [[shingleNovelty]] but corpus-cumulative). Exact:
    * vocabulary at a checkpoint = tokens whose FIRST owner doc
    * (min id) is ≤ the checkpoint — no ordered scan, no running
    * distinct.
    *
    * Output: `(ck_idx, ck_id, cum_tokens, cum_vocab)`, one row per
    * checkpoint, ascending.
    *
    * Scale shape (100 TB): one token explode → per-doc counts
    * (map-side) + one token-keyed `min(id)` (mergeable); each frame
    * then collapses to its checkpoint bucket by pure arithmetic
    * (`ceil(id·B / max)` — no join against the checkpoint spine),
    * and the final cumulative window runs over the B-row bucket
    * frame, a dimension, not data. The max-id is a broadcast 1-row
    * frame, never a driver collect. */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
                  buckets: Int = 10): DataFrame = {
    require(buckets >= 1 && buckets <= 1000, "buckets must be in [1, 1000]")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val toks = withTokens(df.select(col(idCol), col(textCol)), textCol, "__toks")
      .select(col(idCol).as("__id"), explode(col("__toks")).as("__tok"))
    val mx = df.agg(max(col(idCol)).cast("bigint").as("__mx"))
    // bucket(id) = smallest i with id <= (i*mx) div B  ⇔  ceil(id*B/mx),
    // clamped to [1, B] (id = 0 belongs to the first checkpoint)
    def bucketOf(idExpr: String) =
      s"greatest(1L, least(CAST($buckets AS BIGINT), " +
        s"(CAST($idExpr AS BIGINT) * $buckets + __mx - 1L) div greatest(__mx, 1L)))"
    val perDoc = toks.groupBy(col("__id"))
      .agg(count(lit(1)).cast("bigint").as("__ntok"))
      .crossJoin(broadcast(mx))
      .withColumn("__bkt", expr(bucketOf("__id")))
      .groupBy(col("__bkt")).agg(sum(col("__ntok")).as("__mass"))
    val owners = toks.groupBy(col("__tok"))
      .agg(min(col("__id")).cast("bigint").as("__owner"))
      .crossJoin(broadcast(mx))
      .withColumn("__bkt", expr(bucketOf("__owner")))
      .groupBy(col("__bkt")).agg(count(lit(1)).cast("bigint").as("__voc"))
    val spine = spark.range(1, buckets + 1).toDF("ck_idx")
      .crossJoin(broadcast(mx))
      .withColumn("ck_id", expr(s"(ck_idx * __mx) div $buckets"))
    val w = Window.orderBy(col("ck_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the cumulative window runs over B spine rows — a dimension frame
    spine.join(perDoc, col("ck_idx") === col("__bkt"), "left").drop("__bkt")
      .join(owners, col("ck_idx") === col("__bkt"), "left").drop("__bkt")
      .na.fill(0L, Seq("__mass", "__voc"))
      .withColumn("cum_tokens", sum(col("__mass")).over(w))
      .withColumn("cum_vocab", sum(col("__voc")).over(w))
      .select(col("ck_idx"), col("ck_id"), col("cum_tokens"), col("cum_vocab"))
      .orderBy("ck_idx")
  }

  /** Character-distribution entropy surrogate — the gibberish /
    * low-diversity detector ("aaaa…" and base64 blobs sit at the two
    * extremes the quality gates miss): for char counts `c_i` of an
    * `n`-char text, `ent_sum = Σ_i c_i · (bl(n) − bl(c_i))` with
    * `bl = length(bin(·))`, the INTEGER bit-length log2 surrogate
    * this repo uses wherever both engines must agree on a log
    * (DSIR/PSI/Zipf precedent) — 0 for single-char runs, growing
    * with spread, and exactly portable where float `p·log p` is not.
    *
    * Adds `ent_sum` (BIGINT; 0 for empty, NULL for null text). Pure
    * per-row HOF over the distinct-char alphabet (O(|Σ|·len) scans
    * via length-difference counts, the [[withScriptMix]] trick) —
    * shuffle-free, codegen'd. */
  def withCharEntropy(df: DataFrame, textCol: String,
                      out: String = "ent_sum"): DataFrame = {
    require(!df.columns.contains(out), s"withCharEntropy reserves $out")
    val cnt = s"(length($textCol) - length(replace($textCol, ch, '')))"
    df.withColumn(out, expr(
      s"CASE WHEN $textCol IS NULL THEN NULL " +
        s"WHEN length($textCol) = 0 THEN 0L ELSE " +
        s"aggregate(transform(array_distinct(split($textCol, '')), ch -> $cnt), " +
        s"0L, (acc, c) -> acc + c * (length(bin(length($textCol))) - length(bin(c)))) " +
        s"END"))
  }

  /** Variant canonicalization mapping: tokens that normalize (lower/
    * trim) to the same form are mapped to the form's most frequent
    * raw spelling (ties: lexicographically smallest) — the classic
    * entity/spelling-cleanup verb ("USA"/"usa"/"Usa" → the majority
    * spelling). Output: one row per non-canonical variant
    * `(variant, canonical, n_variant, n_canonical)`.
    *
    * Scale shape: one token count (map-side combined,
    * vocabulary-bounded), one window PARTITIONED by the normalized
    * form (each partition = one form's variants — tiny), one
    * self-join back on the form. Nothing corpus-sized shuffles after
    * the count. */
  def canonicalizeVariants(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = withTokens(df.select(col(textCol)), textCol, "__toks")
      .select(explode(col("__toks")).as("variant"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).cast("bigint").as("n_variant"))
      .withColumn("__form", lower(trim(col("variant"))))
    val w = Window.partitionBy(col("__form"))
      .orderBy(col("n_variant").desc, col("variant"))
    val canon = counts
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("__form"), col("variant").as("canonical"),
        col("n_variant").as("n_canonical"))
    counts.join(canon, "__form")
      .where(col("variant") =!= col("canonical"))
      .select(col("variant"), col("canonical"), col("n_variant"),
        col("n_canonical"))
  }

  /** Deterministic MLM-style token masking — the denoising-objective
    * data transform (BERT/T5 family): token `i` of a document is
    * masked iff `(idCol·31 + i) % rate == 0`, giving a reproducible
    * ~1/rate mask that any re-run, retry, or engine reproduces
    * bitwise (no RNG; the graft determinism discipline). Adds:
    * `masked_text` (masked tokens replaced by `<mask>`), `target`
    * (the masked tokens, space-joined, in order), and `n_masked`.
    *
    * Pure per-row expressions over an index sequence (portable to
    * any engine with HOFs) — no shuffle, stays in codegen. */
  def withMaskedSpans(df: DataFrame, idCol: String, textCol: String,
                      rate: Int = 5): DataFrame = {
    require(rate >= 2, "rate must be at least 2")
    val reserved = Set("__mk_toks", "masked_text", "target", "n_masked")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"withMaskedSpans reserves ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val hit = s"($idCol * 31 + i) % $rate = 0"
    df.withColumn("__mk_toks", expr(H.tokens(textCol)))
      .withColumn("masked_text", expr(
        s"array_join(transform(sequence(1, size(__mk_toks)), " +
          s"i -> CASE WHEN $hit THEN '<mask>' ELSE element_at(__mk_toks, i) END), ' ')"))
      .withColumn("target", expr(
        s"array_join(filter(transform(sequence(1, size(__mk_toks)), " +
          s"i -> CASE WHEN $hit THEN element_at(__mk_toks, i) ELSE NULL END), " +
          "x -> x IS NOT NULL), ' ')"))
      .withColumn("n_masked", expr(
        s"CAST(size(filter(sequence(1, size(__mk_toks)), i -> $hit)) AS BIGINT)"))
      .drop("__mk_toks")
  }

  /** Deterministic fill-in-the-middle (FIM) transform — the
    * infilling-objective data prep (Bavarian et al., "Efficient
    * Training of Language Models to Fill in the Middle",
    * arXiv:2207.14255): a content-hash-selected `ratePermille`
    * fraction of documents is split at two hash-derived character
    * cuts and re-serialized in PSM order
    * `<|fim_pre|>prefix<|fim_suf|>suffix<|fim_mid|>middle`; the rest
    * pass through unchanged. Every decision (selection AND both cut
    * points) derives from the portable rolling content hash, so any
    * retry, re-run, or engine reproduces the transform bitwise — no
    * RNG, the graft determinism discipline. Adds `fim_applied` and
    * `fim_text`; `prefix ++ middle ++ suffix` always reassembles the
    * original text. An empty document yields the three markers with
    * empty pieces; a NULL document propagates NULL to both added
    * columns (scrub nulls upstream if they must be retained).
    *
    * Scale shape: per-row codegen'd string expressions, no shuffle.
    * The O(len) hash fold is let-bound (`transform(array(...))`) so
    * it runs at most twice per row — once for the flag, once inside
    * the rewrite — never once per substring reference. */
  def withFimTransform(df: DataFrame, textCol: String,
                       ratePermille: Int = 500): DataFrame = {
    require(ratePermille >= 0 && ratePermille <= 1000,
      s"ratePermille must be in [0, 1000], got $ratePermille")
    val reserved = Set("fim_applied", "fim_text")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"withFimTransform reserves ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    // Hash digits: permille-of-length cut points; h in [0, P) so all
    // derived values are non-negative. c1 <= c2 < len for len >= 1.
    val c1 = s"(length($textCol) * least((h div 1000) % 1000, " +
      s"(h div 1000000) % 1000)) div 1000"
    val c2 = s"(length($textCol) * greatest((h div 1000) % 1000, " +
      s"(h div 1000000) % 1000)) div 1000"
    df.withColumn("fim_applied",
        expr(s"${H.rollingHash(textCol)} % 1000 < $ratePermille"))
      .withColumn("fim_text", expr(
        s"element_at(transform(array(${H.rollingHash(textCol)}), h -> " +
          s"CASE WHEN h % 1000 < $ratePermille THEN " +
          s"concat('<|fim_pre|>', substring($textCol, 1, $c1), " +
          s"'<|fim_suf|>', substring($textCol, ($c2) + 1, length($textCol) - ($c2)), " +
          s"'<|fim_mid|>', substring($textCol, ($c1) + 1, ($c2) - ($c1))) " +
          s"ELSE $textCol END), 1)"))
  }

  /** Encoding-hygiene scrub: strip C0 control characters (except
    * tab/newline/CR) from `textCol` into `out`, with `n_ctrl` = how
    * many were removed (a LENGTH DIFFERENCE — exact, no second regex
    * pass). The first stage of every ingest: control bytes break
    * tokenizers and JSONL sinks downstream. Portable RE2∩Java
    * character-class pattern. */
  def scrubControlChars(df: DataFrame, textCol: String,
                        out: String = "clean_text"): DataFrame = {
    val reserved = Set(out, "n_ctrl")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"scrubControlChars reserves ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    df.withColumn(out,
      regexp_replace(col(textCol), "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))
      .withColumn("n_ctrl",
        (length(col(textCol)) - length(col(out))).cast("bigint"))
  }

  /** Blocklist safety filter: per-row occurrence count of the blocked
    * terms (`out`, BIGINT — a fixed left-to-right sum of per-term
    * token counts) plus the boolean `blocked` gate. The standard
    * safety/compliance pre-filter; term list is compiled into the
    * expression (broadcast-free, codegen'd), so it must be
    * config-sized — thousands of terms belong in a broadcast join
    * against exploded tokens instead.
    *
    * Terms are restricted to safe identifiers (letters/digits/_) —
    * they are interpolated into an expression string, and the graft
    * tokenizer only produces such tokens anyway. */
  def withBlocklistCounts(df: DataFrame, textCol: String,
                          terms: Seq[String],
                          out: String = "n_blocked"): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    terms.foreach(t => require(t.matches("[A-Za-z0-9_]+"),
      s"blocklist term '$t' is not a safe identifier"))
    val reserved = Set("__bl_toks", out, "blocked")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"withBlocklistCounts reserves ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    df.withColumn("__bl_toks", expr(H.tokens(textCol)))
      .withColumn(out,
        terms.map(t => expr(H.tokenCount("__bl_toks", t)).cast("bigint"))
          .reduce(_ + _))
      .withColumn("blocked", col(out) > 0L)
      .drop("__bl_toks")
  }

  /** Per-group shingle diversity — the compressibility proxy used by
    * crawl-quality pipelines (near-constant boilerplate compresses
    * well ⇒ LOW distinct-shingle rate): distinct 3-token shingles
    * over total shingles per group, one exact integer division.
    *
    * Scale shape: one explode + one (group, shingle)-keyed exact
    * distinct (the Expand pass of count_distinct; at 100 TB flip the
    * documented HLL profile mode instead — same plan family as
    * Profile). Output is group-bounded. */
  def shingleDiversity(df: DataFrame, textCol: String,
                       groupCol: String): DataFrame = {
    val sh = withTokens(df.select(col(groupCol), col(textCol)), textCol, "__toks")
      .select(col(groupCol),
        explode(expr(H.shingles3("__toks", textCol))).as("__sh"))
    sh.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("bigint").as("n_shingles"),
        countDistinct(col("__sh")).cast("bigint").as("n_distinct"))
      .withColumn("diversity",
        col("n_distinct").cast("double") / col("n_shingles").cast("double"))
      .orderBy(col(groupCol))
  }

  /** Language-ID ambiguity margin: `lang_margin` = top score minus
    * runner-up score over the [[LangMarkers]] stopword counts — 0
    * means the guess was a coin flip (code-switched or marker-free
    * text), the confidence signal [[withLangGuess]] alone hides.
    * Pure integer counts and subtraction. */
  def withLangMargin(df: DataFrame, textCol: String,
                     out: String = "lang_margin"): DataFrame = {
    require(!df.columns.contains(out), s"withLangMargin reserves $out")
    val scores = LangMarkers.map { case (_, words) =>
      words.map(w => s"(${H.tokenCount("__lm_toks", w)})").mkString(" + ")
    }.mkString("array(", ", ", ")")
    df.withColumn("__lm_toks", expr(H.tokens(textCol)))
      .withColumn("__lm_sorted", expr(s"sort_array($scores, false)"))
      .withColumn(out, expr(
        "CAST(element_at(__lm_sorted, 1) - element_at(__lm_sorted, 2) AS BIGINT)"))
      .drop("__lm_toks", "__lm_sorted")
  }

  /** C4-style document quality gate (Raffel et al. 2020 heuristics,
    * portable-exact subset): per-row boolean reasons plus the overall
    * `c4_pass`. All components are integer token statistics — the
    * mean-word-length band uses cross-multiplied integer comparisons
    * (`sum_len < 3·n` / `sum_len > 10·n`), never a float mean.
    * Flags: `f_min_words` (< `minWords` tokens), `f_long_word`
    * (any token over 20 chars — markup/base64 smell), `f_no_stop`
    * (no 'the' — the C4 English-prose proxy), `f_lorem` (placeholder
    * text), `f_word_len` (mean token length outside [3, 10]). */
  def withC4Flags(df: DataFrame, textCol: String,
                  minWords: Int = 5): DataFrame = {
    require(minWords >= 1, "minWords must be positive")
    val reserved = Set("__c4_toks", "__c4_n", "__c4_len", "f_min_words",
      "f_long_word", "f_no_stop", "f_lorem", "f_word_len", "c4_pass")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"withC4Flags reserves ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    df.withColumn("__c4_toks", expr(H.tokens(textCol)))
      .withColumn("__c4_n", size(col("__c4_toks")).cast("long"))
      .withColumn("__c4_len",
        expr("aggregate(__c4_toks, 0L, (a, x) -> a + length(x))"))
      .withColumn("f_min_words", col("__c4_n") < minWords.toLong)
      .withColumn("f_long_word",
        expr("exists(__c4_toks, x -> length(x) > 20)"))
      .withColumn("f_no_stop", !array_contains(col("__c4_toks"), "the"))
      .withColumn("f_lorem", array_contains(col("__c4_toks"), "lorem"))
      .withColumn("f_word_len",
        col("__c4_len") < lit(3L) * col("__c4_n") ||
          col("__c4_len") > lit(10L) * col("__c4_n"))
      .withColumn("c4_pass",
        !col("f_min_words") && !col("f_long_word") && !col("f_no_stop") &&
          !col("f_lorem") && !col("f_word_len"))
      .drop("__c4_toks", "__c4_n", "__c4_len")
  }

  /** BPE-style adjacent-pair counts — the tokenizer-TRAINING
    * primitive: occurrence-weighted counts of every adjacent
    * character pair, computed over the word-frequency table rather
    * than the corpus (the classic BPE trick: a word seen a million
    * times contributes its pairs once, weighted — pair extraction
    * cost is VOCABULARY-bounded, not corpus-bounded). The top pair is
    * exactly the next merge a BPE trainer would learn.
    *
    * Scale shape: one corpus-keyed word count (map-side combined,
    * vocabulary-sized output), then a vocabulary-sized pair explode
    * into an alphabet²-bounded aggregate. Both shuffles are
    * dimension-sized.
    *
    * Output: `(pair, n)` — top `k` by `(n DESC, pair)`. */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val words = withTokens(df.select(col(textCol)), textCol, "__toks")
      .select(explode(col("__toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    words.where(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"), col("n"))
      .groupBy(col("pair")).agg(sum(col("n")).cast("bigint").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** Apply a FIXED, ordered BPE merge table to every whitespace token
    * (the tokenizer-apply side of [[bpePairCounts]]' training side —
    * Sennrich et al. 2016): each token starts as its character
    * sequence; each merge `(a, b) → ab` is applied in table order,
    * fusing every left-to-right non-overlapping adjacent `(a, b)`
    * occurrence, and later merges see earlier merges' output (so
    * `('t','h')` then `('th','e')` composes).
    *
    * Encoding trick that keeps this pure built-in string algebra (no
    * UDF, no iterative state): a segmentation is one string with
    * every piece wrapped as `<piece>` — `"the" → "<t><h><e>"` — and
    * one merge application is ONE `replace(seg, "<a><b>", "<ab>")`.
    * The wrappers make piece boundaries unambiguous (no false
    * sub-piece matches, no shared-separator overlap), and `replace`
    * scans left-to-right non-overlapping in Spark and DuckDB alike,
    * so the transform is bitwise-portable. Tokens must not contain
    * `<` or `>` (asserted per row — a corrupted corpus fails loudly,
    * not silently).
    *
    * Adds `out`: the per-token piece arrays flattened per document
    * (one array of BPE pieces per doc, token order preserved).
    * Per-row only — zero shuffles, whole-stage codegen, linear in
    * text volume × merge count at any corpus size.
    *
    * This entry point runs the native codegen'd kernel
    * (`graft_bpe_apply` — one generated call per document, merge
    * table shipped once as a reference object);
    * [[applyBpeMergesHof]] is the interpreted-HOF rendering it is
    * spec-pinned bitwise-equal to (NativeExprSpec). */
  def applyBpeMerges(df: DataFrame, textCol: String,
                     merges: Seq[(String, String)],
                     out: String = "pieces"): DataFrame = {
    require(merges.nonEmpty, "merges must be non-empty")
    merges.foreach { case (a, b) =>
      require(a.nonEmpty && b.nonEmpty && !s"$a$b".exists(c => c == '<' || c == '>'),
        s"merge pieces must be non-empty and angle-bracket-free: ($a, $b)")
    }
    require(!df.columns.contains(out), s"applyBpeMerges reserves $out")
    val flat = merges.flatMap { case (a, b) => Seq(a, b) }
    withTokens(df, textCol, "__toks")
      .withColumn(out, call_function("graft_bpe_apply", col("__toks"),
        array(flat.map(lit): _*)))
      .drop("__toks")
  }

  /** The pure-built-in HOF rendering of [[applyBpeMerges]] — same
    * wrapped-piece `replace` algebra the DuckDB oracle mirrors; kept
    * as the bitwise-parity reference for the native kernel. */
  def applyBpeMergesHof(df: DataFrame, textCol: String,
                        merges: Seq[(String, String)],
                        out: String = "pieces"): DataFrame = {
    require(merges.nonEmpty, "merges must be non-empty")
    merges.foreach { case (a, b) =>
      require(a.nonEmpty && b.nonEmpty && !s"$a$b".exists(c => c == '<' || c == '>'),
        s"merge pieces must be non-empty and angle-bracket-free: ($a, $b)")
    }
    require(!df.columns.contains(out), s"applyBpeMerges reserves $out")
    def lit0(s: String) = s"'${s.replace("'", "''")}'"
    // Initial char segmentation "<c1><c2>..." — the empty token
    // short-circuits (sequence(1, 0) would step BACKWARD), and the
    // bracket guard is let-bound via a 1-element transform so the
    // RLIKE runs once per token, not once per character.
    val seg0 = "CASE WHEN length(w) = 0 THEN '' ELSE " +
      "array_join(transform(sequence(1, length(w)), " +
      "i -> concat('<', substring(w, i, 1), '>')), '') END"
    val guarded = "CASE WHEN w0 RLIKE '[<>]' THEN " +
      "raise_error('applyBpeMerges: token contains < or >') ELSE w0 END"
    val init =
      s"transform(__toks, w0 -> element_at(transform(array($guarded), w -> $seg0), 1))"
    val merged = merges.foldLeft(init) {
      case (acc, (a, b)) =>
        s"transform($acc, seg -> replace(seg, ${lit0(s"<$a><$b>")}, ${lit0(s"<$a$b>")}))"
    }
    // Parse each "<p1><p2>..." back to pieces and flatten across the
    // doc's tokens (the empty token contributes no pieces).
    val pieces = s"flatten(transform($merged, " +
      s"seg -> filter(split(substring(seg, 2, length(seg) - 2), '><'), p -> p != '')))"
    withTokens(df, textCol, "__toks")
      .withColumn(out, expr(pieces))
      .drop("__toks")
  }

  /** Train a BPE merge table on the corpus — the tokenizer-TRAINING
    * loop that [[bpePairCounts]] (one step's counts) and
    * [[applyBpeMerges]] (the apply side) bracket (Sennrich et al.
    * 2016): greedily, `nMerges` times, pick the most frequent
    * adjacent piece pair (occurrence-weighted, ties broken on the
    * pair's lexical order — pinned, so the learned table is
    * deterministic and engine-reproducible) and fuse it everywhere.
    *
    * Pair counting is positional (a word `aaaa` counts `(a,a)` three
    * times), the classic trainer's convention; the fuse itself is
    * left-to-right non-overlapping — [[applyBpeMerges]]' wrapped-piece
    * `replace` algebra, so training and applying share one
    * representation.
    *
    * Scale shape (100 TB): the corpus is touched ONCE (the word-count
    * aggregation, map-side combined, vocabulary-sized output); every
    * training round is then VOCABULARY-bounded — one pair explode +
    * aggregate and one `limit(1)` argmax collect per round, plus a
    * per-round `localCheckpoint` so the re-segmented plan does not
    * deepen with rounds. Checkpoint blocks persist for the loop's
    * lifetime and are reclaimed by the ContextCleaner once the loop's
    * references drop — deliberately NOT unpersisted mid-loop, since a
    * later round's plan still reads the prior checkpoint's RDD; the
    * footprint is vocabulary × nMerges ≤ 64 rounds, not corpus-sized.
    * The merge recurrence is
    * inherently sequential — `nMerges` driver-paced VOCAB-sized
    * rounds, never corpus scans. Stops early (fewer than `nMerges`
    * rows) when no pair remains.
    *
    * Output: `(rank, piece_a, piece_b, n)` ordered by `rank` —
    * feedable straight into [[applyBpeMerges]].
    */
  def trainBpe(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1 && nMerges <= 64,
      "nMerges must be in [1, 64] (each merge is a driver-paced round)")
    val spark = df.sparkSession
    import spark.implicits._
    def lit0(s: String) = s"'${s.replace("'", "''")}'"
    val words = withTokens(df.select(col(textCol)), textCol, "__toks")
      .select(explode(col("__toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("bigint").as("n"))
    // The bracket guard wraps the word column; the let-bound lambda
    // (1-element transform) runs the char segmentation once per word.
    val guarded = "CASE WHEN w RLIKE '[<>]' THEN " +
      "raise_error('trainBpe: token contains < or >') ELSE w END"
    val seg0 = "CASE WHEN length(wt) = 0 THEN '' ELSE " +
      "array_join(transform(sequence(1, length(wt)), " +
      "i -> concat('<', substring(wt, i, 1), '>')), '') END"
    var seg = words.withColumn("seg", expr(
      s"element_at(transform(array($guarded), wt -> $seg0), 1)"))
    val learned = scala.collection.mutable.Buffer.empty[(Int, String, String, Long)]
    val piecesExpr =
      "filter(split(substring(seg, 2, length(seg) - 2), '><'), p -> p != '')"
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      // NB: no mid-loop unpersist — the next round's plan is built ON
      // this checkpoint, and the one after still transitively reads
      // it; blocks are vocabulary-sized and ContextCleaner-reclaimed
      // after the loop (see scaladoc). LAZY: the best-pair collect
      // below materializes the blocks in its own job (the
      // connectedComponents fusion) — one job per merge round, not two.
      val cp = seg.localCheckpoint(eager = false)
      val best = cp
        .select(col("n"), expr(piecesExpr).as("__p"))
        .where(size(col("__p")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(__p) - 1), " +
            "i -> struct(element_at(__p, i) AS a, element_at(__p, i + 1) AS b))"))
          .as("__pr"))
        .groupBy(col("__pr.a").as("a"), col("__pr.b").as("b"))
        .agg(sum(col("n")).cast("bigint").as("pn"))
        .orderBy(col("pn").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, pn) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        learned += ((r, a, b, pn))
        seg = cp.withColumn("seg", expr(
          s"replace(seg, ${lit0(s"<$a><$b>")}, ${lit0(s"<$a$b>")})"))
        r += 1
      }
    }
    learned.toSeq.toDF("rank", "piece_a", "piece_b", "n").orderBy("rank")
  }

  /** Corpus-level total-variation distance between the token
    * distributions of two `groupCol` slices — the drift SCALAR beside
    * [[tokenDrift]]'s per-token top-k:
    * `TV = ½ Σ_t |p_a(t) − p_b(t)|`, computed WITHOUT a float sum:
    * the summand is the exact integer `|n_a·tot_b − n_b·tot_a|`
    * (DECIMAL(38,0) — order-insensitive, overflow-safe), and only the
    * final scalar divides by `2·tot_a·tot_b` (one IEEE op) — bitwise
    * in any engine. TV = 0 ⇔ identical distributions, 1 ⇔ disjoint.
    *
    * Scale shape: one vocabulary-keyed count aggregation (map-side
    * combined) + one scalar reduce; the totals ride a broadcast.
    * An empty slice raises (TV would be 0/0 — "no drift" would be a
    * lie).
    *
    * Output: one row `(tot_a, tot_b, tv)`. */
  def distributionDistance(df: DataFrame, textCol: String,
                           groupCol: String, groupA: String,
                           groupB: String): DataFrame = {
    require(groupA != groupB, "slices must differ")
    val toks = withTokens(df.where(col(groupCol).isin(groupA, groupB)),
      textCol, "__toks")
      .select(col(groupCol).as("__g"), explode(col("__toks")).as("token"))
    val aCnt = sum(when(col("__g") === groupA, 1L).otherwise(0L))
    val bCnt = sum(when(col("__g") === groupB, 1L).otherwise(0L))
    val counts = toks.groupBy(col("token")).agg(aCnt.as("n_a"), bCnt.as("n_b"))
    val totals = toks.groupBy().agg(aCnt.as("tot_a"), bCnt.as("tot_b"))
    counts.crossJoin(broadcast(totals))
      .groupBy(col("tot_a"), col("tot_b"))
      .agg(sum(abs(
        col("n_a").cast("decimal(38,0)") * col("tot_b") -
          col("n_b").cast("decimal(38,0)") * col("tot_a"))).as("__num"))
      .withColumn("tv", expr(
        "CASE WHEN tot_a = 0 OR tot_b = 0 " +
          "THEN raise_error('distributionDistance: empty slice') " +
          "ELSE CAST(__num AS DOUBLE) / " +
          "CAST(CAST(2 AS DECIMAL(38,0)) * tot_a * tot_b AS DOUBLE) END"))
      .select(col("tot_a").cast("bigint").as("tot_a"),
        col("tot_b").cast("bigint").as("tot_b"), col("tv"))
  }

  def tokenDrift(df: DataFrame, textCol: String, groupCol: String,
                 groupA: String, groupB: String, k: Int = 25): DataFrame = {
    require(k >= 1, "k must be positive")
    require(groupA != groupB, "slices must differ")
    val toks = withTokens(df.where(col(groupCol).isin(groupA, groupB)), textCol, "__toks")
      .select(col(groupCol).as("__g"), explode(col("__toks")).as("token"))
    val aCnt = sum(when(col("__g") === groupA, 1L).otherwise(0L))
    val bCnt = sum(when(col("__g") === groupB, 1L).otherwise(0L))
    val counts = toks.groupBy(col("token")).agg(aCnt.as("n_a"), bCnt.as("n_b"))
    val totals = toks.groupBy().agg(aCnt.as("__tot_a"), bCnt.as("__tot_b"))
    counts.crossJoin(broadcast(totals))
      .withColumn("drift",
        abs(col("n_a") / col("__tot_a") - col("n_b") / col("__tot_b")))
      .orderBy(col("drift").desc, col("token"))
      .limit(k)
      .select("token", "n_a", "n_b", "drift")
  }

  /** PII categories redacted by [[redactPii]], in application order:
    * `(name, regex, replacement)`. Patterns are deliberately written
    * in the dialect-portable intersection of Java regex and RE2
    * (no lookaround, no backreferences) so the DuckDB oracle runs
    * the identical pattern text. Order matters — each category is
    * counted on the text AFTER the previous categories were redacted,
    * so a string can never be double-counted (e.g. digits inside an
    * already-redacted email never re-match as a phone). */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("id", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<ID>"),
    ("phone", "\\+\\d{7,15}\\b", "<PHONE>"))

  /** Regex PII detection + redaction (the standard pre-training
    * scrub pass — cf. the public Dolma/ROOTS pipelines' regex PII
    * taggers). Adds one `n_<category>` count per [[PiiPatterns]]
    * entry plus the fully-redacted text in `out`. Counts are taken
    * sequentially on the progressively-redacted text (see
    * [[PiiPatterns]] ordering), so categories never double-count.
    * Null text propagates to null counts and null redacted text.
    *
    * Scale: a pure per-row regexp pipeline — `regexp_count` /
    * `regexp_replace` are codegen'd built-ins, no shuffle, no UDF;
    * one codegen'd map over the corpus regardless of corpus size. */
  /** Deterministic pseudonymization: replace an identifier with
    * `sha256(salt ‖ id)` — the same id always maps to the same token
    * (joins and dedup still work on the pseudonym) while the mapping
    * is one-way without the salt. The governance partner of
    * [[redactPii]]: redaction scrubs free text, pseudonymization
    * keys. Rotate the salt to unlink releases. Pure map-side
    * expression — no shuffle, codegen'd sha2. */
  def withPseudonym(df: DataFrame, idCol: String, salt: String,
                    out: String = "pseudo_id"): DataFrame = {
    require(!df.columns.contains(out), s"withPseudonym reserves column name $out")
    df.withColumn(out, sha2(concat(lit(salt), col(idCol).cast("string")), 256))
  }

  def redactPii(df: DataFrame, textCol: String, out: String = "redacted"): DataFrame = {
    val reserved = PiiPatterns.map { case (n, _, _) => s"n_$n" }.toSet + out
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"redactPii reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val start = df.withColumn(out, col(textCol))
    PiiPatterns.foldLeft(start) { case (d, (name, pat, repl)) =>
      d.withColumn(s"n_$name", regexp_count(col(out), lit(pat)).cast("bigint"))
        .withColumn(out, regexp_replace(col(out), pat, repl))
    }
  }

  /** Per-language stopword marker sets for the language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "de" -> Seq("der", "die", "das"),
    "fr" -> Seq("le", "la", "les"),
    "es" -> Seq("el", "los"))

  /** Stopword-frequency language-ID heuristic: score each language's
    * marker-token hits and guess the argmax, ties broken by the fixed
    * order of [[LangMarkers]] (deterministic). */
  def withLangGuess(df: DataFrame, textCol: String, out: String = "lang_guess"): DataFrame = {
    val d = withTokens(df, textCol, "__toks")
    val scores = LangMarkers.map { case (lang, words) =>
      lang -> words.map(w => expr(H.tokenCount("__toks", w))).reduce(_ + _)
    }
    // CASE chain: first language whose score >= all later scores.
    val branches = scores.zipWithIndex.init.map { case ((lang, sc), i) =>
      lang -> scores.drop(i + 1).map(t => sc >= t._2).reduce(_ && _)
    }
    val guess = branches.foldRight(lit(scores.last._1): org.apache.spark.sql.Column) {
      case ((lang, cond), acc) => when(cond, lit(lang)).otherwise(acc)
    }
    d.withColumn(out, guess).drop("__toks")
  }

  /** Unicode script mix — per-document counts of Latin letters,
    * Cyrillic letters, and digits plus a pinned-priority dominant
    * script: the script-level complement of [[withLangGuess]] (which
    * can only separate languages sharing the Latin alphabet). A
    * multilingual crawl routes documents to per-script tokenizers /
    * language models on exactly this signal, and a wrong-script spike
    * inside an "English" source is a classic contamination smell.
    *
    * Counts are length-difference counts (`len(text) −
    * len(regexp_replace(text, class, ''))`) over fixed character
    * classes in the Java-regex ∩ RE2 portable subset; dominance is a
    * pinned latin ≥ cyrillic ≥ digit priority chain, so the result is
    * engine- and partitioning-invariant. Scale shape: per-row
    * expressions only, zero shuffles. */
  def withScriptMix(df: DataFrame, textCol: String): DataFrame = {
    def cnt(cls: String) =
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), cls, ""))).cast("bigint")
    df.withColumn("n_latin", cnt("[a-zA-Z]"))
      .withColumn("n_cyrillic", cnt("[а-яА-Я]"))
      .withColumn("n_digit", cnt("[0-9]"))
      .withColumn("dominant_script",
        when(col("n_latin") >= col("n_cyrillic") &&
          col("n_latin") >= col("n_digit"), lit("latin"))
          .when(col("n_cyrillic") >= col("n_digit"), lit("cyrillic"))
          .otherwise(lit("digit")))
  }

  /** Cyrillic→Latin homoglyph confusables, lower + upper case — the
    * visually-identical letter pairs behind script-spoofing (an
    * "English" doc whose 'а','е','о'… are Cyrillic evades exact
    * dedup, keyword filters, and blocklists while rendering
    * identically). Shared as (from, to) strings so an independent
    * engine's `translate` applies the identical map. */
  val HomoglyphFrom: String = "аеорсхуіѕјАЕОРСХУІЅЈ"
  val HomoglyphTo: String = "aeopcxyisjAEOPCXYISJ"

  /** Fold Cyrillic homoglyphs to their Latin twins — the confusable
    * normalization a curation pipeline runs BEFORE dedup/blocklist
    * matching, so spoofed text collides with its honest form again.
    * One `translate` (single-pass char map, identical semantics in
    * Spark and DuckDB), per-row, zero shuffles, codegen-friendly.
    * Deliberately NOT a general transliterator: only the
    * pixel-identical confusable pairs fold; real Cyrillic text keeps
    * its non-confusable letters and still censuses as Cyrillic in
    * [[withScriptMix]]. */
  def foldHomoglyphs(df: DataFrame, textCol: String,
                     out: String = "folded_text"): DataFrame = {
    require(!df.columns.contains(out), s"foldHomoglyphs reserves $out")
    df.withColumn(out, translate(col(textCol), HomoglyphFrom, HomoglyphTo))
  }

  /** URL decomposition for crawl curation — scheme, host (port and
    * userinfo stripped), path, registered domain (last two host
    * labels; the whole host when it has no dot), and TLD. Domain-
    * level census/blocklists are how web-scale corpora are actually
    * filtered (C4's badlist, Gopher's domain caps), and every part
    * here is a fixed regex in the Java-regex ∩ RE2 portable subset
    * with engine-agreeing `''` on no-match — so a malformed URL
    * lands in the `''` group instead of poisoning the census.
    *
    * Adds `url_scheme, url_host, url_path, url_domain, url_tld`.
    * Scale shape: per-row regexes only, zero shuffles, whole-stage
    * codegen; census/blocklist joins happen downstream on the
    * domain-bounded result. */
  def withUrlParts(df: DataFrame, urlCol: String): DataFrame = {
    val reserved = Set("url_scheme", "url_host", "url_path", "url_domain", "url_tld")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"withUrlParts reserves ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val domainExtract =
      regexp_extract(col("url_host"), "([a-z0-9-]+\\.[a-z0-9-]+)$", 1)
    df.withColumn("url_scheme",
        regexp_extract(col(urlCol), "^([a-z][a-z0-9+.-]*)://", 1))
      .withColumn("url_host",
        regexp_extract(col(urlCol),
          "^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)", 1))
      .withColumn("url_path",
        regexp_extract(col(urlCol), "^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1))
      .withColumn("url_domain",
        when(domainExtract === "", col("url_host")).otherwise(domainExtract))
      .withColumn("url_tld",
        regexp_extract(col("url_host"), "\\.([a-z0-9-]+)$", 1))
  }

  /** Strip HTML/XML markup down to text — the WET-extraction step of
    * a web-crawl ingest (tags removed, the five standard character
    * entities decoded, whitespace squeezed): tags become single
    * spaces (so `a</p><p>b` never fuses into `ab`), then
    * `&lt; &gt; &quot; &#39;/&apos;` decode BEFORE `&amp;` (the
    * single-pass-safe order: `&amp;lt;` correctly yields the literal
    * text `&lt;`, never double-decodes), then runs of whitespace
    * collapse to one space and the ends trim.
    *
    * The patterns live in the Java∩RE2 regex subset (no lookaround,
    * no backreferences) so an independent engine can run the
    * identical chain — the repo's PII-scrub discipline.
    *
    * Not a sanitizer: script/style CONTENT survives (tag pairs are
    * stripped, not their spans) — curation pipelines drop such pages
    * by quality gate instead. Per-row regex only: zero shuffles,
    * whole-stage codegen, linear in text volume. */
  def stripMarkup(df: DataFrame, textCol: String,
                  out: String = "clean_text"): DataFrame = {
    require(!df.columns.contains(out), s"stripMarkup reserves $out")
    // entity decode is LITERAL replace (not regex) — cheaper, and the
    // order below is load-bearing (see scaladoc)
    val noTags = s"regexp_replace($textCol, '<[^>]*>', ' ')"
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "''", "&apos;" -> "''", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (ent, ch)) =>
        s"replace($acc, '$ent', '$ch')"
      }
    df.withColumn(out, expr(s"trim(regexp_replace($decoded, '\\\\s+', ' '))"))
  }

  /** Luhn-checksum screening of payment-card-like digit runs — the
    * false-positive filter [[redactPii]]'s pattern matching lacks: a
    * 13–19-digit run is only a PLAUSIBLE card number if its Luhn
    * check digit validates (the mod-10 double-every-second-digit
    * checksum all real card numbers carry). Adds `luhn_candidates`
    * (maximal digit runs of card length) and `luhn_valid` (those
    * passing Luhn). Runs are MAXIMAL (`[0-9]+` then length-filtered)
    * so a 25-digit run is not miscounted as a 19-digit candidate.
    *
    * Scale shape (100 TB): per-row regexp + integer HOF fold, fully
    * codegen, shuffle-free. */
  def withLuhnStats(df: DataFrame, textCol: String): DataFrame = {
    val runs = s"filter(regexp_extract_all($textCol, '[0-9]+', 0), " +
      "r -> length(r) >= 13 AND length(r) <= 19)"
    val digit = "(ascii(substring(r, length(r) + 1 - i, 1)) - 48)"
    val luhnSum =
      s"aggregate(sequence(1, length(r)), 0L, (acc, i) -> acc + " +
        s"CASE WHEN i % 2 = 0 THEN CASE WHEN $digit * 2 > 9 " +
        s"THEN $digit * 2 - 9 ELSE $digit * 2 END ELSE $digit END)"
    df.withColumn("luhn_candidates",
        expr(s"cast(size($runs) as bigint)"))
      .withColumn("luhn_valid",
        expr(s"cast(size(filter($runs, r -> $luhnSum % 10 = 0)) as bigint)"))
  }

  /** Integer-bit bigram language-model surprisal — CCNet-style LM
    * quality scoring without a float in sight: train add-one-smoothed
    * bigram counts on the EVEN-id half of the corpus, score every
    * ODD-id document's bigrams by
    * `bits = bitlen(c(w₁)+V) − bitlen(c(w₁,w₂)+1)` where `bitlen` is
    * the binary-digit count (`length(bin(x))`, the same integer log₂
    * surrogate as [[withCharEntropy]]), `c(·)` are training counts
    * and `V` the training vocabulary size. High average bits =
    * improbable text under the corpus LM (gibberish, wrong-language,
    * boilerplate soup) — the standard perplexity-filter signal,
    * quantized to whole bits so every value is integer-exact.
    *
    * Output: one row per scored (odd-id) document:
    * `(id, n_bigrams, sum_bits, avg_bits_x100)` with
    * `avg_bits_x100 = (100·sum_bits) div n_bigrams` (docs with no
    * bigrams are absent from the output — "no evidence", not a fake
    * perfect score).
    *
    * Scale shape (100 TB): the two count tables are keyed
    * aggregations on token/bigram (map-side-combined); scoring is
    * two shuffle equi-joins keyed on the bigram resp. its prefix
    * token, with the vocab scalar broadcast. Nothing driver-paced;
    * hot tokens skew the prefix join at most by vocabulary Zipf —
    * AQE's skew split handles the head tokens. */
  def bigramLmSurprisal(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val toks = df.select(col(idCol).cast("long").as("__id"),
      expr(H.tokens(textCol)).as("__t"))
    val bigrams = toks.select(col("__id"), explode(expr(
      "CASE WHEN size(__t) >= 2 THEN transform(sequence(1, size(__t) - 1), " +
        "gi -> struct(element_at(__t, gi) AS w1, element_at(__t, gi + 1) AS w2)) " +
        "ELSE array() END")).as("__bg"))
      .select(col("__id"), col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2"))
    val train = bigrams.where(col("__id") % 2 === 0)
    val c12 = train.groupBy(col("__w1"), col("__w2"))
      .agg(count(lit(1)).cast("bigint").as("__c12"))
    val c1 = train.groupBy(col("__w1"))
      .agg(count(lit(1)).cast("bigint").as("__c1"))
    val vocab = toks.where(col("__id") % 2 === 0)
      .select(explode(col("__t")).as("__w"))
      .agg(countDistinct(col("__w")).cast("bigint").as("__V"))
    bigrams.where(col("__id") % 2 === 1)
      .join(c12, Seq("__w1", "__w2"), "left")
      .join(c1, Seq("__w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__bits", expr(
        "length(bin(coalesce(__c1, 0L) + __V)) - " +
          "length(bin(coalesce(__c12, 0L) + 1L))"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).cast("bigint").as("n_bigrams"),
        sum(col("__bits")).cast("bigint").as("sum_bits"))
      .select(col("__id").as("id"), col("n_bigrams"), col("sum_bits"),
        expr("(100L * sum_bits) div n_bigrams").cast("bigint")
          .as("avg_bits_x100"))
  }

  /** Moore–Lewis cross-entropy-difference data selection — the
    * classic "pick the general-pool documents that look most like my
    * in-domain corpus" method (Moore & Lewis 2010), on the same
    * integer-bit LM surrogate as [[bigramLmSurprisal]]: train add-one
    * bigram models on the IN-DOMAIN slice (`inDomainCond`) and on the
    * general pool (everything else — which doubles as the candidate
    * set, the textbook setup), then score each candidate document by
    * `Δbits = bits_in_domain − bits_general` per bigram
    * (`bits_M = bitlen(c_M(w₁)+V_M) − bitlen(c_M(w₁,w₂)+1)`) — the
    * paper's `H_I(s) − H_O(s)`. LOW Δ = cheap under the in-domain
    * model relative to its own pool = in-domain-like.
    * Whole-bit quantization keeps every value
    * integer-exact; `Δ` is signed, so the per-document average uses
    * the sign-split floored div.
    *
    * Output: the `k` most in-domain-like candidates,
    * `(id, n_bigrams, delta_x100)` ordered by `(delta_x100, id)`;
    * documents with no bigrams are absent ("no evidence").
    *
    * Scale shape (100 TB): two keyed count tables per model
    * (map-side-combined), scoring = four shuffle equi-joins on
    * bigram/prefix-token with both vocab scalars broadcast, then a
    * doc-keyed aggregation and a global top-k (size-k per partition,
    * merged on the driver by TakeOrdered). Hot prefix tokens skew at
    * most by vocabulary Zipf — AQE's skew split applies. */
  def mooreLewisSelect(df: DataFrame, idCol: String, textCol: String,
                       inDomainCond: org.apache.spark.sql.Column,
                       k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val toks = df.select(col(idCol).cast("long").as("__id"),
      when(inDomainCond, 1L).otherwise(0L).as("__dom"),
      expr(H.tokens(textCol)).as("__t"))
    val bigrams = toks.select(col("__id"), col("__dom"), explode(expr(
      "CASE WHEN size(__t) >= 2 THEN transform(sequence(1, size(__t) - 1), " +
        "gi -> struct(element_at(__t, gi) AS w1, element_at(__t, gi + 1) AS w2)) " +
        "ELSE array() END")).as("__bg"))
      .select(col("__id"), col("__dom"),
        col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2"))
    def lm(dom: Long, tag: String) = (
      bigrams.where(col("__dom") === dom).groupBy(col("__w1"), col("__w2"))
        .agg(count(lit(1)).cast("bigint").as(s"__c12$tag")),
      bigrams.where(col("__dom") === dom).groupBy(col("__w1"))
        .agg(count(lit(1)).cast("bigint").as(s"__c1$tag")),
      toks.where(col("__dom") === dom)
        .select(explode(col("__t")).as("__w"))
        .agg(countDistinct(col("__w")).cast("bigint").as(s"__V$tag")))
    val (ci12, ci1, vi) = lm(1L, "i")
    val (cg12, cg1, vg) = lm(0L, "g")
    bigrams.where(col("__dom") === 0L)
      .join(cg12, Seq("__w1", "__w2"), "left")
      .join(cg1, Seq("__w1"), "left")
      .join(ci12, Seq("__w1", "__w2"), "left")
      .join(ci1, Seq("__w1"), "left")
      .crossJoin(broadcast(vi)).crossJoin(broadcast(vg))
      .withColumn("__d", expr(
        "(length(bin(coalesce(__c1i, 0L) + __Vi)) - " +
          "length(bin(coalesce(__c12i, 0L) + 1L))) - " +
          "(length(bin(coalesce(__c1g, 0L) + __Vg)) - " +
          "length(bin(coalesce(__c12g, 0L) + 1L)))"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).cast("bigint").as("n_bigrams"),
        sum(col("__d")).cast("bigint").as("__sd"))
      .select(col("__id").as("id"), col("n_bigrams"),
        expr("""CASE WHEN __sd >= 0 THEN (100L * __sd) div n_bigrams
               |ELSE -((100L * (-__sd)) div n_bigrams) END""".stripMargin)
          .cast("bigint").as("delta_x100"))
      .orderBy(col("delta_x100"), col("id"))
      .limit(k)
  }
}
