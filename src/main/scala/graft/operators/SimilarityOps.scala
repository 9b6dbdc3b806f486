package graft.operators

import graft.functions.VectorSql
import graft.util.DriverBudget
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Approximate/exact nearest-neighbor search over embedding columns
  * (`array<float>`).
  *
  * Scale design (100 TB):
  *  - below the shared driver budget ([[graft.util.DriverBudget]]) and
  *    [[Components.DriverMaxEdges]] scored pairs, [[knnJoin]] ships
  *    both sides to the driver in one job and scores them there with
  *    the plan's own expressions ([[DriverKnn]]): no cross join, no
  *    Exchange. Every kNN audit built on it inherits that tier;
  *  - above it, the query/centroid side is always tiny → `broadcast()`
  *    it, so scoring is a broadcast nested-loop with NO shuffle of the
  *    big side;
  *  - L2 norms are materialized once per VECTOR, so each scored pair
  *    costs one array fold (the dot product), not three — bitwise
  *    identical to inline cosine (see VectorSql.cosineWithNorms);
  *  - brute-force top-k compiles to `TakeOrderedAndProject`
  *    (per-partition heap + driver merge of k rows);
  *  - the IVF path prunes candidates to the probed cluster(s) before
  *    scoring — with the corpus stored partitioned/bucketed by
  *    `cluster`, non-probed clusters are never scanned;
  *  - cosine is a built-in HOF expression chain (VectorSql), inside
  *    whole-stage codegen, bitwise-reproducible across engines.
  */
object SimilarityOps {

  import VectorSql.{spark => V}

  /** Cosine of two array<float> columns as a deterministic expression. */
  def cosineCol(a: String, b: String) = expr(V.cosine(a, b))

  private def simWithNorms(a: String, b: String, na: String, nb: String) =
    expr(V.cosineWithNorms(a, b, na, nb))

  /** Brute-force top-k cosine neighbors of a single query vector
    * (`query` must be a 1-row frame with column `q`). */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
           query: DataFrame, k: Int, excludeId: Option[Long] = None): DataFrame = {
    val corpusN = corpus.withColumn("__nrm", expr(V.norm(vecCol)))
    val queryN = query.withColumn("__qnrm", expr(V.norm("q")))
    val scored = corpusN.crossJoin(broadcast(queryN))
      .withColumn("sim", simWithNorms(vecCol, "q", "__nrm", "__qnrm"))
    val base = excludeId.fold(scored)(id => scored.where(col(idCol) =!= id))
    base.select(col(idCol), col("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** kNN join: top-k cosine neighbors from `corpus` for EVERY row of
    * `queries`, as rows `(q_id, c_id, rank, sim)` in `(q_id, rank)`
    * order. Ranking is sim descending with NaN first, then `c_id`;
    * duplicate query ids merge into one group, a null id is its own.
    *
    * Scale shape, in two tiers split by the shared driver budget
    * ([[graft.util.DriverBudget.MaxBytes]]), as for
    * [[DedupOps.dropNearDuplicates]]:
    *
    *  - Driver tier, for `array<float>` vectors and orderable ids. A
    *    zero-job pre-check on the size estimate of the corpus
    *    `(id, vec)`, then ONE job, a union of two scans, ships the
    *    corpus and the query `(id, vec)` rows to the driver. The query
    *    side skips the pre-check: the distributed tier broadcasts it
    *    anyway, and each partition still ships only within its share
    *    of the budget. When corpus rows × query rows is at most
    *    [[Components.DriverMaxEdges]] scored pairs, the driver scores
    *    and ranks every pair with the plan's own expressions
    *    ([[DriverKnn.knnJoin]]) and answers with a local relation of
    *    the distributed tier's schema: no cross join, no Exchange.
    *  - Distributed tier, above either limit (the scan then ships
    *    nothing, or its rows are dropped: at most one job more). The
    *    queries are broadcast and the corpus streams through a
    *    nested-loop join; each vector's L2 norm is computed once, so a
    *    scored pair costs one dot product. The bounded
    *    [[graft.functions.catalyst.BottomK]] aggregate keeps a k-heap
    *    per query per map partition, so only k rows per query per
    *    partition shuffle, never the scored corpus. Its heap key
    *    `(isnan gate, -sim, c_id)` gives the (sim DESC NaN-first, id
    *    ASC) order for every double: Spark sorts NaN above +Inf, so
    *    plain `-sim` alone would demote NaN instead of promoting it.
    *    REPOSE-style pivot partitioning is the planned replacement
    *    for this tier (ROADMAP direction 7). */
  def knnJoin(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int): DataFrame =
    knnJoinImpl(corpus, corpusId, corpusVec, queries, queryId, queryVec, k,
      DriverBudget.MaxBytes)

  /** [[knnJoin]] with the driver budget as a parameter: specs pass 0
    * to force the distributed tier, the parity reference for the
    * driver tier. */
  private[graft] def knnJoinImpl(corpus: DataFrame, corpusId: String, corpusVec: String,
                                 queries: DataFrame, queryId: String, queryVec: String,
                                 k: Int, driverMaxBytes: Long): DataFrame = {
    val local =
      if (!driverTierApplies(corpus, corpusId, corpusVec, queries, queryId, queryVec, k)) None
      else {
        val c = corpus.select(col(corpusId), col(corpusVec))
        val q = queries.select(col(queryId), col(queryVec))
        val Seq(cid, cvec) = c.schema.fields.toSeq
        val Seq(qid, qvec) = q.schema.fields.toSeq
        if (!DriverKnn.supports(cid.dataType, cvec.dataType, qid.dataType, qvec.dataType)) None
        else DriverBudget.collectAllWithin(Seq(c), Seq(q), driverMaxBytes).collect {
          case Seq(cRows, qRows)
              if cRows.size.toLong * qRows.size <= Components.DriverMaxEdges =>
            // the distributed tier's schema: the grouped query id as
            // given, the ranked corpus id without its metadata, a
            // non-null rank and a nullable sim
            val schema = StructType(Seq(qid.copy(name = "q_id"),
              StructField("c_id", cid.dataType, cid.nullable),
              StructField("rank", IntegerType, nullable = false),
              StructField("sim", DoubleType, nullable = true)))
            corpus.sparkSession.createDataFrame(
              DriverKnn.knnJoin(cRows, qRows, cid.dataType, qid.dataType, k,
                corpus.sparkSession.sessionState.conf).asJava, schema)
        }
      }
    local.getOrElse(distributedKnnJoin(corpus, corpusId, corpusVec, queries, queryId, queryVec, k))
  }

  /** Whether [[knnJoin]]'s driver tier can answer for these arguments
    * exactly as its plan would: `k` within [[graft.functions.catalyst.BottomK]]'s
    * range, and plain column names that resolve the same way in each
    * input alone as in their cross join — present, not shared by the
    * two inputs, and not one of the columns the plan adds. Anything
    * else runs the plan, so its analysis errors are unchanged. */
  private def driverTierApplies(corpus: DataFrame, corpusId: String, corpusVec: String,
                                queries: DataFrame, queryId: String, queryVec: String,
                                k: Int): Boolean = {
    val same = corpus.sparkSession.sessionState.conf.resolver
    def plain(name: String, in: DataFrame) = name.matches("[A-Za-z_][A-Za-z0-9_]*") &&
      in.columns.count(same(_, name)) == 1 && !Seq("sim", "__cnrm", "__qnrm").exists(same(_, name))
    k >= 1 && k <= (1 << 22) &&
      plain(corpusId, corpus) && plain(corpusVec, corpus) &&
      plain(queryId, queries) && plain(queryVec, queries) &&
      !corpus.columns.exists(c => queries.columns.exists(same(c, _)))
  }

  /** [[knnJoin]]'s distributed tier. */
  private def distributedKnnJoin(corpus: DataFrame, corpusId: String, corpusVec: String,
                                 queries: DataFrame, queryId: String, queryVec: String,
                                 k: Int): DataFrame = {
    val corpusN = corpus.withColumn("__cnrm", expr(V.norm(corpusVec)))
    val queriesN = queries.withColumn("__qnrm", expr(V.norm(queryVec)))
    val scored = corpusN.crossJoin(broadcast(queriesN))
      .withColumn("sim", simWithNorms(corpusVec, queryVec, "__cnrm", "__qnrm"))
    scored
      .groupBy(col(queryId).as("q_id"))
      .agg(expr(s"graft_bottom_k(struct(" +
        s"CASE WHEN isnan(sim) THEN 0 ELSE 1 END AS __nn, " +
        s"-sim AS __ns, `$corpusId` AS c_id, sim), ${k}L)").as("__top"))
      .select(col("q_id"), posexplode(col("__top")).as(Seq("__pos", "__r")))
      .select(col("q_id"), col("__r.c_id").as("c_id"),
        (col("__pos") + 1).as("rank"), col("__r.sim").as("sim"))
      .orderBy("q_id", "rank")
  }

  /** kNN-GRAPH serving audit — the index-time health metrics an
    * HNSW/IVF deployment watches before shipping a graph built over
    * these embeddings: build the exact directed k-nearest-neighbor
    * graph (self-edges excluded, ties broken by neighbor id) and
    * report ONE row of integer diagnostics:
    *  - `n_nodes`, `n_edges` (= n·k when n > k);
    *  - `n_mutual` / `mutual_ppm` — directed edges whose reverse edge
    *    also exists. Low symmetry predicts poor HNSW reachability
    *    (greedy search follows out-edges; asymmetric hubs strand
    *    queries);
    *  - `mean_rev_rank_ppm` — mean rank of the reverse edge over
    *    mutual pairs (10⁶·Σrev_rank div n_mutual): how deep in the
    *    neighbor's own list the symmetry lives;
    *  - `max_in_deg`, `p90_in_deg` — in-degree concentration (exact
    *    ascending order statistic at ceil(0.9·n)). A hub with huge
    *    in-degree dominates candidate lists and degrades recall.
    *
    * Exactness: ranks, counts and the p90 order statistic are pure
    * integers; the two ppm ratios are single floored divs.
    *
    * Scale shape: brute self-kNN is inherently n² — this is an AUDIT
    * operator, run on a bounded sample/slice of the index (the
    * serving-eval convention), reusing [[knnJoin]]'s broadcast-
    * queries scan; everything downstream of the k·n edge frame is
    * id-keyed joins and one global aggregate. For corpus-wide health
    * at 100 TB, audit per IVF cluster or per shard sample. */
  def knnGraphAudit(df: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be positive")
    val pts = df.select(col(idCol).as("__pid"), col(vecCol).as("__pv"))
    // k+1 then drop self: with duplicate vectors the self edge can sit
    // at any rank among the sim-1 ties, so re-rank after the drop
    val edges = knnJoin(pts.select(col("__pid").as("__cid"), col("__pv").as("__cv")),
        "__cid", "__cv",
        pts.select(col("__pid").as("__qid"), col("__pv").as("__qv")),
        "__qid", "__qv", k + 1)
      .where(col("q_id") =!= col("c_id"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rank"))))
      .where(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"))
      .localCheckpoint() // feeds the mutual join and both degree aggs
    val rev = edges.select(col("q_id").as("c_id"), col("c_id").as("q_id"),
      col("rank").as("__rev_rank"))
    val em = edges.join(rev, Seq("q_id", "c_id"), "left")
      .agg(count(lit(1)).cast("bigint").as("n_edges"),
        sum(when(col("__rev_rank").isNotNull, 1L).otherwise(0L))
          .cast("bigint").as("n_mutual"),
        sum(coalesce(col("__rev_rank"), lit(0L))).cast("bigint").as("__rrs"))
    val indeg = pts.select(col("__pid"))
      .join(edges.groupBy(col("c_id")).agg(count(lit(1)).cast("bigint").as("__d")),
        pts("__pid") === col("c_id"), "left")
      .select(col("__pid"), coalesce(col("__d"), lit(0L)).as("__d"))
    val nStats = indeg.agg(count(lit(1)).cast("bigint").as("n_nodes"),
      max(col("__d")).cast("bigint").as("max_in_deg"))
    val p90 = indeg
      .withColumn("__rn", row_number().over(
        Window.orderBy(col("__d"), col("__pid"))).cast("bigint"))
      .crossJoin(broadcast(nStats.select(col("n_nodes").as("__nn"))))
      .where(expr("__rn = (9L * __nn + 9L) div 10L"))
      .select(col("__d").as("p90_in_deg"))
    em.crossJoin(broadcast(nStats)).crossJoin(broadcast(p90))
      .select(col("n_nodes"), col("n_edges"), col("n_mutual"),
        expr("CASE WHEN n_edges > 0 THEN (1000000L * n_mutual) div n_edges " +
          "ELSE NULL END").cast("bigint").as("mutual_ppm"),
        expr("CASE WHEN n_mutual > 0 THEN (1000000L * __rrs) div n_mutual " +
          "ELSE NULL END").cast("bigint").as("mean_rev_rank_ppm"),
        col("max_in_deg"), col("p90_in_deg"))
  }

  /** HNSW-style LAYERED navigability audit — extends [[knnGraphAudit]]
    * with the question a layered graph index (HNSW) actually hangs
    * on: from a node on layer ℓ, can greedy descent ESCAPE UPWARD?
    * The caller supplies the layer assignment (`layerCol`, the
    * deterministic stand-in for HNSW's geometric draw — e.g.
    * trailing-zero counts of an id hash); the audit builds the exact
    * k-nearest-neighbor digraph once and reports, per layer:
    *  - `n_nodes` — layer occupancy (should decay geometrically;
    *    a fat upper layer wastes memory, an empty one strands
    *    search);
    *  - `n_uplinked` / `uplink_ppm` — nodes with at least one
    *    out-neighbor on a STRICTLY higher layer. A low-layer node
    *    with no uplink in its true neighborhood is a spot greedy
    *    routing cannot reach from the entry point's descent cone —
    *    the navigability failure HNSW papers measure as recall
    *    loss;
    *  - `n_up_edges` — total upward edges leaving the layer (the
    *    escape bandwidth).
    *
    * Exactness: ranks and counts are integers; `uplink_ppm` is one
    * floored div. The TOP layer reports uplink 0 by construction
    * (its nodes are the entry points).
    *
    * Scale shape (100 TB): same audit scope as [[knnGraphAudit]] —
    * brute kNN on a bounded slice/sample (per IVF cluster or shard
    * at full scale); everything past the k·n edge frame is two
    * id-keyed layer joins and one layer-keyed aggregate. */
  def layeredNavigabilityAudit(df: DataFrame, idCol: String, vecCol: String,
                               layerCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be positive")
    val pts = df.select(col(idCol).as("__pid"), col(vecCol).as("__pv"),
      col(layerCol).cast("bigint").as("__pl"))
    val edges = knnJoin(
        pts.select(col("__pid").as("__cid"), col("__pv").as("__cv")),
        "__cid", "__cv",
        pts.select(col("__pid").as("__qid"), col("__pv").as("__qv")),
        "__qid", "__qv", k + 1)
      .where(col("q_id") =!= col("c_id"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rank"))))
      .where(col("rank") <= k)
      .select(col("q_id"), col("c_id"))
    val layers = pts.select(col("__pid"), col("__pl"))
    val perNode = edges
      .join(layers.select(col("__pid").as("q_id"), col("__pl").as("__ql")),
        Seq("q_id"))
      .join(layers.select(col("__pid").as("c_id"), col("__pl").as("__cl")),
        Seq("c_id"))
      .groupBy(col("q_id"), col("__ql"))
      .agg(max(when(col("__cl") > col("__ql"), 1L).otherwise(0L)).as("__has"),
        sum(when(col("__cl") > col("__ql"), 1L).otherwise(0L)).as("__nup"))
    // left join keeps isolated nodes (a one-point layer has no edges)
    layers
      .join(perNode.select(col("q_id").as("__pid"), col("__has"), col("__nup")),
        Seq("__pid"), "left")
      .groupBy(col("__pl").as("layer"))
      .agg(count(lit(1)).cast("bigint").as("n_nodes"),
        sum(coalesce(col("__has"), lit(0L))).cast("bigint").as("n_uplinked"),
        sum(coalesce(col("__nup"), lit(0L))).cast("bigint").as("n_up_edges"))
      .withColumn("uplink_ppm",
        expr("(1000000L * n_uplinked) div n_nodes").cast("bigint"))
      .select(col("layer").cast("bigint"), col("n_nodes"), col("n_uplinked"),
        col("uplink_ppm"), col("n_up_edges"))
      .orderBy("layer")
  }

  /** Matryoshka-truncation quality audit: how much of each query's
    * full-dimension top-k survives when vectors are TRUNCATED to
    * their first `dim` components (the MRL deployment question —
    * can you serve the cheap prefix embedding?). Runs [[knnJoin]]
    * twice — full vectors and `slice(vec, 1, dim)` — and reports the
    * per-query intersection size and `overlap_ppm = 10⁶·|∩| div k`.
    * Per-query integers only; no cross-query float means.
    *
    * Scale shape (100 TB): two broadcast-queries corpus scans (the
    * [[knnJoin]] shape — corpus never reshuffles) and one
    * (q_id, c_id)-keyed join of two k-row-per-query frames, both
    * query-dimension bounded. */
  def truncationAudit(corpus: DataFrame, corpusId: String, corpusVec: String,
                      queries: DataFrame, queryId: String, queryVec: String,
                      dim: Int, k: Int): DataFrame = {
    require(dim >= 1 && k >= 1, "dim and k must be positive")
    val full = knnJoin(corpus.select(col(corpusId), col(corpusVec)),
        corpusId, corpusVec,
        queries.select(col(queryId), col(queryVec)), queryId, queryVec, k)
      .select(col("q_id"), col("c_id"))
    val tc = corpus.select(col(corpusId),
      expr(s"slice($corpusVec, 1, $dim)").as("__tcv"))
    val tq = queries.select(col(queryId),
      expr(s"slice($queryVec, 1, $dim)").as("__tqv"))
    val trunc = knnJoin(tc, corpusId, "__tcv", tq, queryId, "__tqv", k)
      .select(col("q_id"), col("c_id"), lit(1L).as("__hit"))
    full.join(trunc, Seq("q_id", "c_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).cast("bigint").as("n_overlap"))
      .withColumn("overlap_ppm",
        expr(s"(1000000L * n_overlap) div ${k}L").cast("bigint"))
  }

  /** 1-bit (binary) quantization audit: pack each vector's SIGN BITS
    * into a single BIGINT (dim ≤ 63), rank by Hamming distance
    * (`bit_count(a XOR b)`, ascending, id tie-break), and report the
    * per-query overlap with the full-precision cosine top-k — the
    * "can we serve 64-byte-→-8-byte vectors?" audit, the 1-bit
    * sibling of [[truncationAudit]] (prefix dims) and the int8 MIPS
    * path (scalar quantization). Everything after packing is pure
    * integer arithmetic — bitwise-portable by construction; the sign
    * test `component > 0` is exact on floats.
    *
    * Scale shape (100 TB): the pack is one per-row fold (codegen,
    * shuffle-free) that shrinks the similarity working set 32× —
    * THAT is the scale story; ranking reuses the broadcast-queries
    * scan shape of [[knnJoin]] on 8-byte keys. */
  def binaryQuantAudit(corpus: DataFrame, corpusId: String, corpusVec: String,
                       queries: DataFrame, queryId: String, queryVec: String,
                       dim: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dim >= 1 && dim <= 63, "dim must be in [1, 63]")
    require(k >= 1, "k must be positive")
    def pack(vec: String): String =
      s"aggregate(sequence(1, $dim), 0L, (acc, i) -> acc | " +
        s"CASE WHEN element_at($vec, i) > 0 THEN shiftleft(1L, i - 1) ELSE 0L END)"
    val full = knnJoin(corpus.select(col(corpusId), col(corpusVec)),
        corpusId, corpusVec,
        queries.select(col(queryId), col(queryVec)), queryId, queryVec, k)
      .select(col("q_id"), col("c_id"))
    val pc = corpus.select(col(corpusId), expr(pack(corpusVec)).as("__pc"))
    val pq = queries.select(col(queryId).as("__qid2"),
      expr(pack(queryVec)).as("__pq"))
    // Hamming top-k via the bounded bottom-k heap (integer key —
    // exact), not a per-query rank window: only k rows per query per
    // map partition shuffle (the [[knnJoin]] conversion).
    val ham = pc.crossJoin(broadcast(pq))
      .withColumn("__ham", expr("bit_count(__pc ^ __pq)"))
      .groupBy(col("__qid2").as("q_id"))
      .agg(expr(s"graft_bottom_k(struct(__ham, `$corpusId` AS c_id), ${k}L)")
        .as("__top"))
      .select(col("q_id"), explode(col("__top")).as("__r"))
      .select(col("q_id"), col("__r.c_id").as("c_id"), lit(1L).as("__hit"))
    full.join(ham, Seq("q_id", "c_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).cast("bigint").as("n_overlap"))
      .withColumn("overlap_ppm",
        expr(s"(1000000L * n_overlap) div ${k}L").cast("bigint"))
  }

  /** Dedup-threshold percolation curve: for each candidate cosine
    * threshold, the similarity graph's edge count, connected-
    * component count (singletons included), and largest-component
    * size — the tuning table you read BEFORE committing to a
    * near-dup threshold: too low and one giant component swallows
    * the corpus (over-merging), too high and nothing clusters.
    * Thresholds are passed in MICRO so both renderings compare
    * against the identical parsed double.
    *
    * Scale shape (100 TB): intended for a bounded audit SAMPLE
    * (exact all-pairs scoring is the [[knnJoin]] broadcast shape; at
    * full scale the pair source swaps for the LSH candidate stream,
    * same curve semantics). The pair frame is scored ONCE and
    * localCheckpointed; the per-threshold loop is
    * |thresholds|-bounded and runs [[Components.connectedComponents]]
    * (O(log n) rounds) on successively smaller edge subsets. */
  def componentCurve(df: DataFrame, idCol: String, vecCol: String,
                     thresholdsMicro: Seq[Long]): DataFrame = {
    require(thresholdsMicro.nonEmpty, "need at least one threshold")
    // Layering encodes node' = layer·2⁴⁰ + node, so an id outside
    // [0, 2⁴⁰) would silently bleed into another threshold's layer
    // and corrupt every curve point. Guard the column loudly (the
    // repo-wide guard-wraps-the-column pattern) instead of trusting
    // the scaladoc contract.
    val vidGuard =
      s"""CASE WHEN CAST(`$idCol` AS BIGINT) >= 0
         |       AND CAST(`$idCol` AS BIGINT) < ${1L << 40}L
         |     THEN CAST(`$idCol` AS BIGINT)
         |     ELSE raise_error(concat(
         |       'componentCurve: $idCol must be a non-null long in [0, 2^40), got ',
         |       coalesce(CAST(`$idCol` AS STRING), 'NULL'))) END""".stripMargin
    val base = df.select(expr(vidGuard).as("__vid"), col(vecCol).as("__v"))
    val a = base.select(col("__vid").as("__a"), col("__v").as("__va"))
      .withColumn("__na", expr(V.norm("__va")))
    val b = base.select(col("__vid").as("__b"), col("__v").as("__vb"))
      .withColumn("__nb", expr(V.norm("__vb")))
    val pairs = a.crossJoin(broadcast(b))
      .where(col("__a") < col("__b"))
      .withColumn("__sim", expr(V.cosineWithNorms("__va", "__vb", "__na", "__nb")))
      .select(col("__a"), col("__b"), col("__sim"))
      .localCheckpoint()
    val tot = base.agg(count(lit(1)).cast("bigint").as("__n"))
    // LAYERED percolation: instead of |thresholds| sequential CC
    // runs, lift each threshold into its own disjoint node layer
    // (node' = layer·2⁴⁰ + node — ids must stay below 2⁴⁰) and run
    // ONE connected-components BSP over the union. The layers never
    // touch, so one O(log n)-round pass labels every threshold's
    // graph at once — |thresholds|× fewer driver-paced rounds.
    val Offset = 1L << 40
    val layered = thresholdsMicro.zipWithIndex.map { case (tm, idx) =>
      pairs.where(col("__sim") >= lit(tm.toDouble / 1e6))
        .select((col("__a") + lit(idx * Offset)).as("__la"),
          (col("__b") + lit(idx * Offset)).as("__lb"))
    }.reduce(_ unionAll _)
    val cc = Components.connectedComponents(layered, "__la", "__lb")
      .withColumn("__layer", expr(s"id div ${Offset}L").cast("int"))
    val perLayer = cc
      .groupBy(col("__layer"), col("cluster_id"))
      .agg(count(lit(1)).as("__sz"))
      .groupBy(col("__layer"))
      .agg(count(lit(1)).cast("bigint").as("__ncc"),
        sum(col("__sz")).cast("bigint").as("__nodes"),
        max(col("__sz")).cast("bigint").as("__big"))
    val edgeCounts = thresholdsMicro.zipWithIndex.map { case (tm, idx) =>
      pairs.where(col("__sim") >= lit(tm.toDouble / 1e6))
        .agg(count(lit(1)).cast("bigint").as("n_edges"))
        .select(lit(idx).as("__layer"), lit(tm).as("thresh_micro"),
          col("n_edges"))
    }.reduce(_ unionAll _)
    edgeCounts
      .join(broadcast(perLayer), Seq("__layer"), "left")
      .crossJoin(broadcast(tot))
      .select(col("thresh_micro"), col("n_edges"),
        (coalesce(col("__ncc"), lit(0L)) + col("__n")
          - coalesce(col("__nodes"), lit(0L))).cast("bigint")
          .as("n_components"),
        greatest(coalesce(col("__big"), lit(0L)), lit(1L)).cast("bigint")
          .as("largest"))
  }

  /** Mutual nearest neighbors: the pairs `(a, b)` where `b` is `a`'s
    * single most-similar other vector AND `a` is `b`'s — the
    * high-precision alignment/matching primitive (bitext mining,
    * cross-encoder distillation pairs, near-duplicate anchoring)
    * that filters out asymmetric "hubness" matches a plain top-1
    * keeps. Ties break deterministically on the neighbor id, so the
    * pair set is reproducible. Output one row per unordered pair
    * (`a < b`) with the shared cosine.
    *
    * Scale shape: exact scoring is [[knnJoin]]'s shape run both ways
    * at once (corpus streams, the query side broadcasts — at 100 TB
    * the query side goes out in mini-batches, or the scorer swaps
    * for [[ivfSearchIndexed]]'s cluster-probed candidates, exactly
    * as [[hardNegatives]] documents); the mutual filter is then an
    * id-only self-join of the n-row best-match frame. */
  def mutualNearestNeighbors(df: DataFrame, idCol: String,
                             vecCol: String): DataFrame = {
    val n = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__nrm", expr(V.norm("__v")))
    val r = n.select(col("__id").as("__rid"), col("__v").as("__rv"),
      col("__nrm").as("__rnrm"))
    val scored = n.crossJoin(broadcast(r))
      .where(col("__id") =!= col("__rid"))
      .withColumn("sim", simWithNorms("__v", "__rv", "__nrm", "__rnrm"))
    // Top-1 pick as a partial-aggregated struct-min (the
    // [[semanticDedup]] key): the n² scored rows collapse to one row
    // per id map-side instead of all funneling through per-id rank
    // window sorts.
    val best = scored
      .groupBy(col("__id"))
      .agg(min(struct(
        when(expr("isnan(sim)"), lit(0)).otherwise(lit(1)).as("__nn"),
        negate(col("sim")).as("__ns"),
        col("__rid").as("__rid"), col("sim").as("sim"))).as("__b"))
      .select(col("__id").as("a"), col("__b.__rid").as("b"),
        col("__b.sim").as("sim"))
    best
      .join(best.select(col("a").as("__ga"), col("b").as("__gb")),
        col("a") === col("__gb") && col("b") === col("__ga"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), col("sim"))
      .orderBy(col("a"))
  }

  /** Hard-negative mining for contrastive training: per anchor, the
    * top-k most-similar candidates whose label DIFFERS from the
    * anchor's, with similarity capped at `simMax` (near-identical
    * vectors across labels are usually mislabeled positives, not
    * useful negatives — the standard FAISS-mining filter).
    *
    * Scale shape: identical to [[knnJoin]] — the anchor batch is the
    * broadcast side, the candidate corpus streams through one
    * whole-stage-codegen'd scan, and per-anchor top-k is a window
    * row_number (no global sort). Mining negatives for an ENTIRE
    * 100 TB corpus runs this in anchor mini-batches (each batch one
    * job, corpus scanned once per batch) or swaps the brute-force
    * scorer for [[ivfSearch]]'s cluster-probed candidates; semantics
    * here are the exact-scoring contract both share.
    *
    * Output: `(a_id, a_label, c_id, c_label, rank, sim)` ordered by
    * `(a_id, rank)` with the deterministic `c_id` tie-break. */
  def hardNegatives(anchors: DataFrame, anchorId: String, anchorVec: String,
                    anchorLabel: String,
                    candidates: DataFrame, candId: String, candVec: String,
                    candLabel: String,
                    k: Int, simMax: Double = 1.0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val candN = candidates.withColumn("__cnrm", expr(V.norm(candVec)))
    val anchorN = anchors.withColumn("__anrm", expr(V.norm(anchorVec)))
    val scored = candN.crossJoin(broadcast(anchorN))
      .where(col(candLabel) =!= col(anchorLabel))
      .withColumn("sim", simWithNorms(candVec, anchorVec, "__cnrm", "__anrm"))
      .where(col("sim") <= simMax)
    // Per-anchor top-k via the bounded bottom-k heap (the [[knnJoin]]
    // key — exact window-order reproduction): k rows per anchor per
    // map partition shuffle instead of the whole scored candidate
    // fan-out through per-anchor rank window sorts. anchorLabel is
    // functionally dependent on anchorId, so grouping by both keeps
    // it without changing the groups.
    scored
      .groupBy(col(anchorId).as("a_id"), col(anchorLabel).as("a_label"))
      .agg(expr(s"graft_bottom_k(struct(" +
        s"CASE WHEN isnan(sim) THEN 0 ELSE 1 END AS __nn, -sim AS __ns, " +
        s"`$candId` AS c_id, `$candLabel` AS c_label, sim), ${k}L)")
        .as("__top"))
      .select(col("a_id"), col("a_label"),
        posexplode(col("__top")).as(Seq("__pos", "__r")))
      .select(col("a_id"), col("a_label"), col("__r.c_id").as("c_id"),
        col("__r.c_label").as("c_label"), (col("__pos") + 1).as("rank"),
        col("__r.sim").as("sim"))
      .orderBy("a_id", "rank")
  }

  /** Retrieval quality metrics per query over the label-relevance
    * convention (a corpus item is relevant iff it shares the query's
    * label): first relevant rank, reciprocal rank, and
    * precision/recall at `k`. Every metric is per-query — no
    * cross-query mean, so each value is exact integer counts plus a
    * single IEEE division (a corpus-level MRR would sum doubles in
    * nondeterministic order; average the emitted `rr` downstream
    * with a decimal cast if needed).
    *
    * Scale shape: [[knnJoin]]'s broadcast-queries scan, the neighbor
    * frame broadcast into the label join (corpus never reshuffles),
    * relevant-total counts from one label aggregation joined as a
    * broadcast dim.
    *
    * Output: `(q_id, label, first_rel_rank, rr, n_rel_topk,
    * precision_at_k, recall_at_k)`; `first_rel_rank`/`rr` null when
    * no relevant item reaches the top k. */
  def retrievalEval(corpus: DataFrame, corpusId: String, corpusVec: String,
                    corpusLabel: String,
                    queries: DataFrame, queryId: String, queryVec: String,
                    queryLabel: String,
                    k: Int): DataFrame = {
    val nn = knnJoin(corpus.select(col(corpusId), col(corpusVec)),
      corpusId, corpusVec,
      queries.select(col(queryId), col(queryVec)), queryId, queryVec, k)
    val labeled = corpus
      .select(col(corpusId).as("c_id"), col(corpusLabel).as("c_label"))
      .join(broadcast(nn.select(col("q_id"), col("c_id"), col("rank"))), Seq("c_id"))
    val qdim = queries.select(col(queryId).as("q_id"), col(queryLabel).as("label"))
    val relTotals = corpus.groupBy(col(corpusLabel).as("label"))
      .agg(count(lit(1)).cast("bigint").as("__n_rel_total"))
    val perQ = labeled.join(broadcast(qdim), Seq("q_id"))
      .groupBy(col("q_id"), col("label"))
      .agg(
        min(when(col("c_label") === col("label"), col("rank"))).as("first_rel_rank"),
        sum(when(col("c_label") === col("label"), 1L).otherwise(0L))
          .cast("bigint").as("n_rel_topk"))
    // LEFT join: a query whose label has zero corpus members must not
    // vanish from the eval report — it surfaces with recall null
    perQ.join(broadcast(relTotals), Seq("label"), "left")
      .select(
        col("q_id"), col("label"), col("first_rel_rank"),
        (lit(1.0) / col("first_rel_rank").cast("double")).as("rr"),
        col("n_rel_topk"),
        (col("n_rel_topk").cast("double") / lit(k.toDouble)).as("precision_at_k"),
        (col("n_rel_topk").cast("double") / col("__n_rel_total").cast("double"))
          .as("recall_at_k"))
      .orderBy("q_id")
  }

  /** The `1/log2(r+1)` discount weights for r = 1..k, rendered as
    * decimal strings — shared between [[ndcgAtK]]'s plan and any
    * independent-engine oracle so both sides parse identical
    * doubles. */
  def ndcgWeightStrings(k: Int): Seq[String] =
    (1 to k).map(r => (1.0 / (math.log(r + 1.0) / math.log(2.0))).toString)

  /** Binary-relevance nDCG@k per query over the label-relevance
    * convention — [[retrievalEval]]'s rank-sensitive sibling (P@k
    * treats rank 1 and rank k alike; nDCG discounts by position,
    * Järvelin & Kekäläinen 2002).
    *
    * Float discipline (the repo's no-libm rule for oracle parity):
    * the discount weights `1/log2(r+1)` for r = 1..k are computed
    * ONCE on the driver and injected into the plan as double
    * LITERALS — an independent engine given the same literal text
    * parses identical doubles, whereas `log2()` at runtime would race
    * two libm implementations' last ulp. DCG then folds the (sorted,
    * ≤ k element) relevant-rank list in pinned ascending order, and
    * IDCG folds ranks `1..min(k, n_rel_total)` the same way — both
    * bitwise-deterministic; nDCG is their single IEEE division (null
    * when the query's label has no corpus member).
    *
    * Scale shape: identical to [[retrievalEval]] — the broadcast-
    * queries kNN scan, neighbor frame broadcast into the label join
    * (the corpus never reshuffles), rel totals a broadcast dim; the
    * fold arrays are ≤ k elements per query.
    *
    * Output: `(q_id, label, n_rel_topk, dcg, idcg, ndcg)`. */
  def ndcgAtK(corpus: DataFrame, corpusId: String, corpusVec: String,
              corpusLabel: String,
              queries: DataFrame, queryId: String, queryVec: String,
              queryLabel: String,
              k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, "k must be in [1, 1000]")
    // CAST-from-string: both engines parse the same decimal string to
    // the same (correctly-rounded) double — no literal-typing
    // divergence (a bare decimal literal is DECIMAL in some engines).
    val wtsLit = ndcgWeightStrings(k)
      .map(w => s"CAST('$w' AS DOUBLE)").mkString("array(", ", ", ")")
    val nn = knnJoin(corpus.select(col(corpusId), col(corpusVec)),
      corpusId, corpusVec,
      queries.select(col(queryId), col(queryVec)), queryId, queryVec, k)
    val labeled = corpus
      .select(col(corpusId).as("c_id"), col(corpusLabel).as("c_label"))
      .join(broadcast(nn.select(col("q_id"), col("c_id"), col("rank"))), Seq("c_id"))
    val qdim = queries.select(col(queryId).as("q_id"), col(queryLabel).as("label"))
    val relTotals = corpus.groupBy(col(corpusLabel).as("label"))
      .agg(count(lit(1)).cast("bigint").as("__n_rel_total"))
    val perQ = labeled.join(broadcast(qdim), Seq("q_id"))
      .groupBy(col("q_id"), col("label"))
      .agg(
        sort_array(collect_list(
          when(col("c_label") === col("label"), col("rank")))).as("__rel_ranks"),
        sum(when(col("c_label") === col("label"), 1L).otherwise(0L))
          .cast("bigint").as("n_rel_topk"))
    perQ.join(broadcast(relTotals), Seq("label"), "left")
      .withColumn("dcg", expr(
        s"aggregate(__rel_ranks, 0.0D, (a, r) -> a + element_at($wtsLit, r))"))
      .withColumn("idcg", expr(
        // clamp BEFORE narrowing: least() in BIGINT, then the <= k
        // result casts safely (a >2^31 relevant-total must not wrap)
        s"CASE WHEN __n_rel_total IS NULL OR __n_rel_total = 0 THEN NULL " +
          s"ELSE aggregate(sequence(1, CAST(least(CAST($k AS BIGINT), __n_rel_total) AS INT)), " +
          s"0.0D, (a, r) -> a + element_at($wtsLit, r)) END"))
      .select(col("q_id"), col("label"), col("n_rel_topk"),
        col("dcg"), col("idcg"),
        (col("dcg") / col("idcg")).as("ndcg"))
      .orderBy("q_id")
  }

  /** Average precision at k per query (binary label relevance) — the
    * area-under-PR companion to [[ndcgAtK]] and the per-query core
    * of MAP, the standard single-number retrieval eval:
    * `AP@k = (Σ_j 10⁶·j div r_j) div min(k, R)` over the sorted
    * relevant ranks `r_1 < … < r_m` in the top-k (so `j div r_j` is
    * P@r_j exactly when the j-th relevant sits at rank r_j), with
    * `R` = the label's corpus-wide relevant total. EXACT integers —
    * two nested integral divides, no floats at all (sharper than
    * nDCG's pinned-literal doubles); NULL when the label has no
    * corpus members.
    *
    * Scale shape: identical to [[retrievalEval]] — broadcast queries
    * × one corpus scan for the k·|queries| neighbor frame, neighbor
    * frame broadcast into the label join, per-query ≤k-element
    * sorted fold (no second window). */
  def averagePrecisionAtK(corpus: DataFrame, corpusId: String, corpusVec: String,
                          corpusLabel: String,
                          queries: DataFrame, queryId: String, queryVec: String,
                          queryLabel: String,
                          k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, "k must be in [1, 1000]")
    val nn = knnJoin(corpus.select(col(corpusId), col(corpusVec)),
      corpusId, corpusVec,
      queries.select(col(queryId), col(queryVec)), queryId, queryVec, k)
    val labeled = corpus
      .select(col(corpusId).as("c_id"), col(corpusLabel).as("c_label"))
      .join(broadcast(nn.select(col("q_id"), col("c_id"), col("rank"))), Seq("c_id"))
    val qdim = queries.select(col(queryId).as("q_id"), col(queryLabel).as("label"))
    val relTotals = corpus.groupBy(col(corpusLabel).as("label"))
      .agg(count(lit(1)).cast("bigint").as("__n_rel_total"))
    val perQ = labeled.join(broadcast(qdim), Seq("q_id"))
      .groupBy(col("q_id"), col("label"))
      .agg(
        sort_array(collect_list(
          when(col("c_label") === col("label"), col("rank")))).as("__rel_ranks"),
        sum(when(col("c_label") === col("label"), 1L).otherwise(0L))
          .cast("bigint").as("n_rel_topk"))
    perQ.join(broadcast(relTotals), Seq("label"), "left")
      .withColumn("ap_ppm", expr(
        // sequence(1, 0) would DESCEND, not empty — guard the no-hit case
        s"CASE WHEN __n_rel_total IS NULL OR __n_rel_total = 0 THEN NULL " +
          s"WHEN size(__rel_ranks) = 0 THEN 0L ELSE " +
          s"aggregate(transform(sequence(1, size(__rel_ranks)), " +
          s"j -> (1000000L * CAST(j AS BIGINT)) div CAST(element_at(__rel_ranks, j) AS BIGINT)), " +
          s"0L, (a, b) -> a + b) div least(CAST($k AS BIGINT), __n_rel_total) END"))
      .select(col("q_id"), col("label"), col("n_rel_topk"), col("ap_ppm"))
      .orderBy("q_id")
  }

  /** kNN label propagation: predict each query's label as the
    * majority label among its `k` nearest corpus neighbors
    * (deterministic tie-break: highest vote count, then lowest
    * label) — the standard auto-labeling / weak-supervision verb
    * over an embedded corpus.
    *
    * Scale shape: [[knnJoin]]'s broadcast-queries × corpus scan
    * produces the `k·|queries|` neighbor frame, which is then the
    * BROADCAST side of the label join (corpus never reshuffles);
    * the vote argmax is `max(struct(votes, −label))` — a plain
    * aggregate, no second window.
    *
    * Output: `(q_id, label, predicted_label, votes, correct)`. */
  def knnPredictLabels(corpus: DataFrame, corpusId: String, corpusVec: String,
                       corpusLabel: String,
                       queries: DataFrame, queryId: String, queryVec: String,
                       queryLabel: String,
                       k: Int): DataFrame = {
    val nn = knnJoin(corpus.select(col(corpusId), col(corpusVec)),
      corpusId, corpusVec,
      queries.select(col(queryId), col(queryVec)), queryId, queryVec, k)
    val votes = corpus
      .select(col(corpusId).as("c_id"), col(corpusLabel).as("c_label"))
      .join(broadcast(nn.select(col("q_id"), col("c_id"))), Seq("c_id"))
      .groupBy(col("q_id"), col("c_label"))
      .agg(count(lit(1)).cast("bigint").as("votes"))
    val pred = votes.groupBy(col("q_id"))
      .agg(max(struct(col("votes").as("v"),
        (-col("c_label").cast("long")).as("nl"))).as("__m"))
      .select(col("q_id"), (-col("__m.nl")).cast("int").as("predicted_label"),
        col("__m.v").as("votes"))
    // LEFT join: with an empty corpus (no votes at all) queries keep a
    // row with a null prediction instead of silently vanishing
    queries.select(col(queryId).as("q_id"), col(queryLabel).as("label"))
      .join(pred, Seq("q_id"), "left")
      .withColumn("correct", col("label") === col("predicted_label"))
      .orderBy("q_id")
  }

  /** Contrastive training triplets `(anchor, positive, hard-negative)`
    * in ONE aggregation: per anchor, positive = most-similar same-label
    * candidate, negative = most-similar cross-label candidate under
    * the [[hardNegatives]] `simMax` cap. The argmax is
    * `max(struct(sim, −cand_id))` — lexicographic struct ordering
    * gives the same deterministic winner as `ORDER BY sim DESC, id`
    * row_number, but as a plain aggregate: map-side partial max, one
    * anchor-keyed shuffle of one row per anchor, NO window and NO
    * per-anchor sort. Anchors with no admissible positive or negative
    * are dropped (both legs required for a triplet loss).
    *
    * Output: `(a_id, a_label, pos_id, pos_sim, neg_id, neg_sim)`. */
  def miningTriplets(anchors: DataFrame, anchorId: String, anchorVec: String,
                     anchorLabel: String,
                     corpus: DataFrame, candId: String, candVec: String,
                     candLabel: String,
                     simMax: Double = 1.0): DataFrame = {
    val candN = corpus.withColumn("__cnrm", expr(V.norm(candVec)))
    val anchorN = anchors.withColumn("__anrm", expr(V.norm(anchorVec)))
    val scored = candN.crossJoin(broadcast(anchorN))
      .withColumn("__sim", simWithNorms(candVec, anchorVec, "__cnrm", "__anrm"))
    scored
      .groupBy(col(anchorId).as("a_id"), col(anchorLabel).as("a_label"))
      .agg(
        max(when(col(candLabel) === col(anchorLabel),
          struct(col("__sim").as("s"), (-col(candId)).as("nid")))).as("__pos"),
        max(when(col(candLabel) =!= col(anchorLabel) && col("__sim") <= simMax,
          struct(col("__sim").as("s"), (-col(candId)).as("nid")))).as("__neg"))
      .where(col("__pos").isNotNull && col("__neg").isNotNull)
      .select(col("a_id"), col("a_label"),
        (-col("__pos.nid")).as("pos_id"), col("__pos.s").as("pos_sim"),
        (-col("__neg.nid")).as("neg_id"), col("__neg.s").as("neg_sim"))
      .orderBy("a_id")
  }

  /** IVF-style ANN: assign every corpus vector to its nearest
    * (broadcast) centroid, then search only the query's `nProbe`
    * closest clusters. `centroids` columns: (cid, cvec). Recall
    * rises with nProbe; probing every cluster degenerates to exact
    * brute force (the spec's invariant). */
  def ivfSearch(corpus: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame, query: DataFrame, k: Int,
                excludeId: Option[Long] = None, nProbe: Int = 1): DataFrame = {
    val centN = centroids.withColumn("__ctnrm", expr(V.norm("cvec")))
    val corpusN = corpus.withColumn("__nrm", expr(V.norm(vecCol)))
    // Coarse assignment: argmax cosine to a centroid (tie-break cid)
    // as the partial-aggregated struct-min pick (the [[semanticDedup]]
    // key) — one vector per id over the exchange, no per-id sort.
    val assigned = corpusN.crossJoin(broadcast(centN))
      .withColumn("csim", simWithNorms(vecCol, "cvec", "__nrm", "__ctnrm"))
      .groupBy(col(idCol))
      .agg(min(struct(
        when(expr("isnan(csim)"), lit(0)).otherwise(lit(1)).as("__nn"),
        negate(col("csim")).as("__ns"), col("cid").as("cid"),
        col(vecCol).as("__v"), col("__nrm").as("__nrm"))).as("__b"))
      .select(col(idCol), col("__b.__v").as(vecCol),
        col("__b.__nrm").as("__nrm"), col("__b.cid").as("cluster"))

    // Probe: the query vector's nProbe nearest centroids.
    val probed = query.withColumn("__qnrm", expr(V.norm("q")))
      .crossJoin(broadcast(centN))
      .withColumn("csim", simWithNorms("q", "cvec", "__qnrm", "__ctnrm"))
      .orderBy(col("csim").desc, col("cid")).limit(nProbe)
      .select(col("q"), col("__qnrm"), col("cid").as("cluster"))

    // Fine search restricted to the probed cluster.
    val cand = assigned.join(broadcast(probed), "cluster")
      .withColumn("sim", simWithNorms(vecCol, "q", "__nrm", "__qnrm"))
    val base = excludeId.fold(cand)(id => cand.where(col(idCol) =!= id))
    base.select(col(idCol), col("cluster"), col("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Materialize an IVF index: the corpus with its coarse-cluster
    * assignment and precomputed L2 norm, written PARTITIONED BY
    * `cluster` — this is what turns [[ivfSearchIndexed]]'s probe into
    * a partition-PRUNED scan where non-probed clusters are never read
    * (directories outside the probe set do not appear in the file
    * scan; spec-pinned by plan shape AND by corrupting a non-probed
    * partition). Build cost: one broadcast assignment pass + one
    * partitioned write — paid once at ingest, like [[graft.sources.Bucketing]]. */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, path: String): Unit = {
    val centN = centroids.withColumn("__ctnrm", expr(V.norm("cvec")))
    val corpusN = corpus.withColumn("__nrm", expr(V.norm(vecCol)))
    // Same struct-min nearest-centroid pick as [[semanticDedup]]:
    // map-side combined, one vector per id over the exchange instead
    // of k copies through a per-id rank window sort.
    corpusN.crossJoin(broadcast(centN))
      .withColumn("csim", simWithNorms(vecCol, "cvec", "__nrm", "__ctnrm"))
      .groupBy(col(idCol))
      .agg(min(struct(
        when(expr("isnan(csim)"), lit(0)).otherwise(lit(1)).as("__nn"),
        negate(col("csim")).as("__ns"), col("cid").as("cid"),
        col(vecCol).as("__v"), col("__nrm").as("__nrm"))).as("__b"))
      .select(col(idCol), col("__b.__v").as(vecCol),
        col("__b.__nrm").as("nrm"), col("__b.cid").as("cluster"))
      .write.partitionBy("cluster").mode("overwrite").parquet(path)
  }

  /** ANN search against a [[writeIvfIndex]] store: the query's
    * `nProbe` nearest centroids are found on the DRIVER (centroids
    * are k·dim — bounded), and the index is read with
    * `cluster IN (probes)` — Catalyst prunes the scan to the probed
    * partition directories, so at 100 TB a 1-of-256-cluster probe
    * reads ~1/256th of the corpus bytes. Norms come from the index
    * (computed once at build). Same semantics as [[ivfSearch]] with
    * the same centroids. */
  def ivfSearchIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                       idCol: String, vecCol: String,
                       centroids: DataFrame, query: DataFrame, k: Int,
                       excludeId: Option[Long] = None, nProbe: Int = 1): DataFrame = {
    val centN = centroids.withColumn("__ctnrm", expr(V.norm("cvec")))
    val probes = query.withColumn("__qnrm", expr(V.norm("q")))
      .crossJoin(broadcast(centN))
      .withColumn("csim", simWithNorms("q", "cvec", "__qnrm", "__ctnrm"))
      .orderBy(col("csim").desc, col("cid")).limit(nProbe)
      .select(col("cid")).collect().map(_.getInt(0)).toSeq
    val idx = spark.read.parquet(path)
      .where(col("cluster").isin(probes: _*)) // partition-pruned
    val cand = idx.crossJoin(broadcast(query.withColumn("__qnrm", expr(V.norm("q")))))
      .withColumn("sim", simWithNorms(vecCol, "q", "nrm", "__qnrm"))
    val base = excludeId.fold(cand)(id => cand.where(col(idCol) =!= id))
    base.select(col(idCol), col("cluster"), col("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** k-means|| oversampled seeding (Bahmani et al., "Scalable
    * k-means++", VLDB 2012) for [[trainKmeans]]: O(log k) corpus
    * passes instead of sequential farthest-first's k−1 driver-paced
    * scans (the round-4 scale-killer).
    *
    * Shape: one pass picks the hash-minimal first seed; each of
    * ~log₂ k rounds computes every point's cost (1 − max cosine to
    * the candidate set, one broadcast crossJoin + groupBy) and
    * samples each point INDEPENDENTLY with probability
    * min(1, ℓ·cost/Σcost), ℓ = 2k — so every high-cost region
    * contributes candidates in the SAME pass, which is what lets the
    * round count stay logarithmic where top-ℓ-by-cost selection
    * would still need one round per well-separated cluster. The
    * ~ℓ·rounds surviving candidates (k·dim-bounded rows) are weighted
    * by corpus mass (one more pass) and reduced to k seeds with a
    * DRIVER-LOCAL weighted farthest-first — O(|C|²·k) on O(k log k)
    * candidates, trivial.
    *
    * Total jobs: 3 + 2·rounds (+1 fill pass if sampling returned
    * fewer than k distinct candidates) — independent of k's linear
    * term; the spec pins this against the O(k) shape. Sampling is
    * hash-deterministic (`xxhash64(id, round)` uniformized mod P), so
    * the same corpus yields the same seeds up to float-total ulps.
    * Returns exactly k seed vectors. */
  def kmeansParallelSeeds(corpus: DataFrame, idCol: String, vecCol: String,
                          k: Int): Seq[Seq[Float]] = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be positive")
    val spark = corpus.sparkSession
    import spark.implicits._
    val P = 1000000007L

    val corpusN =
      if (corpus.columns.contains("__nrm")) corpus
      else corpus.withColumn("__nrm", expr(V.norm(vecCol)))

    def candDf(cands: Seq[(Long, Seq[Float])]): DataFrame =
      broadcast(cands.map { case (_, v) => v }.zipWithIndex.map(_.swap).toDF("cid", "cvec")
        .withColumn("cvec", col("cvec").cast("array<float>"))
        .withColumn("__ctnrm", expr(V.norm("cvec"))))

    // Per-point cost frame vs the current candidate set: one broadcast
    // nested-loop + groupBy per evaluation — nothing corpus-sized is
    // ever checkpointed or collected (each round re-derives it; two
    // actions per round is the price of keeping executors stateless).
    def costDf(cands: Seq[(Long, Seq[Float])]): DataFrame =
      corpusN.crossJoin(candDf(cands))
        .withColumn("csim", simWithNorms(vecCol, "cvec", "__nrm", "__ctnrm"))
        .groupBy(col(idCol))
        .agg(max(col("csim")).as("__mx"), first(col(vecCol)).as("__v"))
        .withColumn("__cost", greatest(lit(0.0), lit(1.0) - col("__mx")))

    val firstRow = corpusN.orderBy(xxhash64(col(idCol)), col(idCol)).limit(1)
      .select(col(idCol).cast("long"), col(vecCol)).head()
    var cands: Vector[(Long, Seq[Float])] =
      Vector(firstRow.getLong(0) -> firstRow.getSeq[Float](1).toSeq)
    if (k == 1) return cands.map(_._2)

    val ell = 2.0 * k
    val rounds = math.max(2, (math.log(k.toDouble) / math.log(2.0)).ceil.toInt)
    var r = 0
    var covered = false
    while (r < rounds && !covered) {
      val cost = costDf(cands)
      val total = cost.agg(sum(col("__cost"))).head().getDouble(0)
      if (total <= 0.0) covered = true // every point sits on a candidate
      else {
        // Uniform-in-[0,1) from the point id and round number; sampled
        // rows are (id, vec) — expected ℓ per round, driver-safe.
        val u = pmod(xxhash64(col(idCol).cast("long"), lit(r)), lit(P)).cast("double") / P.toDouble
        val newOnes = cost
          .where(u < lit(ell) * col("__cost") / lit(total))
          .select(col(idCol).cast("long"), col("__v")).collect()
          .map(row => row.getLong(0) -> row.getSeq[Float](1).toSeq)
        cands = (cands ++ newOnes).distinctBy(_._1).sortBy(_._1)
      }
      r += 1
    }

    // Under-sampled corner (tiny corpora / degenerate hashes): top up
    // with the farthest points from the candidate set — one pass.
    if (cands.size < k) {
      val fill = costDf(cands)
        .where(!col(idCol).cast("long").isin(cands.map(_._1): _*))
        .orderBy(col("__cost").desc, col(idCol))
        .limit(k - cands.size)
        .select(col(idCol).cast("long"), col("__v")).collect()
        .map(row => row.getLong(0) -> row.getSeq[Float](1).toSeq)
      cands = (cands ++ fill).distinctBy(_._1).sortBy(_._1)
    }
    if (cands.size <= k) return cands.map(_._2)

    // Weight every candidate by the corpus mass it attracts (one pass),
    // then reduce to k on the driver: weighted farthest-first — seed
    // with the heaviest candidate, then repeatedly add the candidate
    // maximizing weight·(1 − max cosine to the chosen set). Ties break
    // on candidate order (sorted by source id) — deterministic.
    val weightByCid = corpusN.crossJoin(candDf(cands))
      .withColumn("csim", simWithNorms(vecCol, "cvec", "__nrm", "__ctnrm"))
      .groupBy(col(idCol))
      .agg(min(struct(
        when(expr("isnan(csim)"), lit(0)).otherwise(lit(1)).as("__nn"),
        negate(col("csim")).as("__ns"), col("cid").as("cid"))).as("__b"))
      .groupBy(col("__b.cid").as("cid")).agg(count(lit(1)).as("w"))
      .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap

    def unit(v: Seq[Float]): Array[Double] = {
      val d = v.map(_.toDouble).toArray
      val n = math.sqrt(d.map(x => x * x).sum)
      if (n == 0.0) d else d.map(_ / n)
    }
    val cu = cands.map { case (_, v) => unit(v) }
    val weights = cands.indices.map(i => weightByCid.getOrElse(i, 0L).toDouble)
    def cos(i: Int, j: Int): Double = cu(i).zip(cu(j)).map { case (a, b) => a * b }.sum

    var chosen = Vector(cands.indices.maxBy(i => (weights(i), -i.toDouble)))
    while (chosen.size < k) {
      val next = cands.indices.filterNot(chosen.contains)
        .maxBy(i => (weights(i) * (1.0 - chosen.map(c => cos(i, c)).max), -i.toDouble))
      chosen = chosen :+ next
    }
    chosen.sorted.map(i => cands(i)._2)
  }

  /** Deterministic spherical k-means training for the IVF coarse
    * quantizer ([[ivfSearch]]'s `centroids` input): Lloyd iterations
    * with cosine assignment and direction-mean updates.
    *
    * Scale shape (the MLlib pattern): centroids are k·dim values and
    * live on the DRIVER between iterations — each iteration is one
    * broadcast of the centroids, one partial-aggregated struct-min
    * argmax over the n·k scored pairs, and one groupBy whose
    * output is k·dim rows. Nothing corpus-sized ever reaches the
    * driver. Seeding is [[kmeansParallelSeeds]] (k-means||, O(log k)
    * passes — not per-seed corpus scans), hash-deterministic; the
    * mean update merges float partials in shuffle-arrival order, so
    * reruns can differ in the last ulps (the usual distributed-kmeans
    * caveat). Empty clusters keep their previous centroid. Returns
    * `(centroids (cid, cvec), objective)` where `objective(i)` =
    * Σ(1 − cosine) under the iteration-i centroids — non-increasing
    * under Lloyd steps (spec-pinned; floats are not oracle-material,
    * so this operator is spec-verified, not oracle-witnessed). */
  def trainKmeans(corpus: DataFrame, idCol: String, vecCol: String,
                  dim: Int, k: Int, iters: Int): (DataFrame, Seq[Double]) = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && iters >= 1 && dim >= 1)
    val spark = corpus.sparkSession
    import spark.implicits._

    def toDf(cents: Seq[(Int, Seq[Float])]): DataFrame =
      cents.toDF("cid", "cvec").withColumn("cvec", col("cvec").cast("array<float>"))

    // A wrong `dim` or null vector/component would NULL every cosine
    // and silently corrupt assignments — fail the JOB loudly instead
    // (guard wraps the column itself; an asserted-then-dropped side
    // column would be pruned — repo-wide pattern).
    val corpusN = corpus
      .select(col(idCol), col(vecCol))
      .withColumn(vecCol, expr(
        s"CASE WHEN size($vecCol) = $dim AND NOT exists($vecCol, x -> isnull(x)) THEN $vecCol " +
          s"ELSE raise_error('trainKmeans: $vecCol must be a null-free array<float> of length $dim') END"))
      .withColumn("__nrm", expr(V.norm(vecCol)))
      .localCheckpoint() // scanned twice per iteration; fixed lineage

    var cents: Seq[(Int, Seq[Float])] =
      kmeansParallelSeeds(corpusN, idCol, vecCol, k).zipWithIndex.map(_.swap)
    val objective = Seq.newBuilder[Double]

    for (_ <- 0 until iters) {
      val centN = broadcast(toDf(cents).withColumn("__ctnrm", expr(V.norm("cvec"))))
      val assigned = corpusN.crossJoin(centN)
        .withColumn("csim", simWithNorms(vecCol, "cvec", "__nrm", "__ctnrm"))
        .groupBy(col(idCol))
        .agg(min(struct(
          when(expr("isnan(csim)"), lit(0)).otherwise(lit(1)).as("__nn"),
          negate(col("csim")).as("__ns"), col("cid").as("cid"),
          col(vecCol).as("__v"), col("csim").as("csim"))).as("__b"))
        .select(col(idCol), col("__b.__v").as(vecCol),
          col("__b.cid").as("cid"), col("__b.csim").as("csim"))
        .localCheckpoint() // feeds the objective AND the mean update
      objective += assigned.agg(sum(lit(1.0) - col("csim"))).head().getDouble(0)
      val means = assigned
        .select(col("cid"), posexplode(col(vecCol)).as(Seq("__idx", "__comp")))
        .groupBy(col("cid"), col("__idx"))
        .agg(avg(col("__comp").cast("double")).as("__m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          val m = rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
          val nrm = math.sqrt(m.map(x => x * x).sum)
          cid -> (if (nrm == 0.0) None else Some(m.map(x => (x / nrm).toFloat).toSeq))
        }
      cents = cents.map { case (cid, old) =>
        cid -> means.get(cid).flatten.getOrElse(old)
      }
    }
    (toDf(cents), objective.result())
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023
    * arXiv:2303.09540 — public method): coarse-cluster the corpus
    * with (broadcast) `centroids`, find within-cluster pairs with
    * cosine ≥ `minSim`, connect them transitively
    * ([[Components.connectedComponents]]), and KEEP one
    * representative (min id) per semantic-duplicate group. Returns
    * the surviving corpus with the input schema — the embedding-space
    * sibling of [[DedupOps.dropNearDuplicates]] (catches paraphrases
    * and re-renderings exact/shingle dedup can't).
    *
    * Scale shape: assignment is one broadcast crossJoin + partial-
    * aggregated struct-min argmax (each vector crosses the exchange
    * once, no per-id sort); the pair join is
    * blocked BY CLUSTER, with [[Blocking.withSubBlock]] capping a hot
    * cluster at `maxClusterSize` (pairs straddling sub-blocks of an
    * oversize cluster are skipped — the bounded-blocking recall
    * tradeoff; clusters at or under the cap are exhaustive and
    * exact); norms are computed once per vector; CC shuffles bare
    * ids; the final anti-join moves ids only. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, minSim: Double,
                    maxClusterSize: Int = 8192): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // A dim mismatch or null component NULLs every cosine, every pair
    // is filtered, and the dedup silently KEEPS EVERYTHING — the worst
    // failure mode for a dedup verb. Centroids are a driver-bounded
    // dim table: read their (single) dimensionality once and fail the
    // job loudly on any non-conforming corpus vector (guard wraps the
    // column itself — repo-wide pattern).
    val dims = centroids.select(expr("size(cvec)").as("d")).distinct()
      .collect().map(_.getInt(0))
    require(dims.length == 1 && dims.head >= 1,
      s"semanticDedup centroids must share one positive dimensionality, got ${dims.toSeq}")
    val dim = dims.head
    val centN = centroids.withColumn("__ctnrm", expr(V.norm("cvec")))
    val corpusN = corpus.select(col(idCol), col(vecCol))
      .withColumn(vecCol, expr(
        s"CASE WHEN size($vecCol) = $dim AND NOT exists($vecCol, x -> isnull(x)) THEN $vecCol " +
          s"ELSE raise_error('semanticDedup: $vecCol must be a null-free array<float> of length $dim') END"))
      .withColumn("__nrm", expr(V.norm(vecCol)))
    // Nearest-centroid pick as a PARTIAL-AGGREGATED struct-min, not a
    // rank window: the window shuffled every corpus vector k× (one
    // copy per centroid) and sorted per id; min(struct) collapses the
    // k candidates to one row per id map-side, so the exchange
    // carries each vector once and never sorts. The key
    // `(isnan gate, -csim, cid)` reproduces (csim DESC NaN-first,
    // cid ASC) exactly; payload fields ride behind the key (cid is
    // unique, so they never arbitrate).
    val assigned = corpusN.crossJoin(broadcast(centN))
      .withColumn("csim", simWithNorms(vecCol, "cvec", "__nrm", "__ctnrm"))
      .groupBy(col(idCol))
      .agg(min(struct(
        when(expr("isnan(csim)"), lit(0)).otherwise(lit(1)).as("__nn"),
        negate(col("csim")).as("__ns"), col("cid").as("cid"),
        col(vecCol).as("__v"), col("__nrm").as("__nrm"))).as("__b"))
      .select(col(idCol).as("id"), col("__b.__v").as(vecCol),
        col("__b.__nrm").as("__nrm"), col("__b.cid").as("cluster"))
    val sub = Blocking.withSubBlock(assigned, Seq(col("cluster")), "id", maxClusterSize, "__sub")
      .localCheckpoint() // feeds both sides of the pair self-join
    val x = sub.select(col("cluster"), col("__sub"), col("id").as("a_id"),
      col(vecCol).as("__va"), col("__nrm").as("__na"))
    val y = sub.select(col("cluster"), col("__sub"), col("id").as("b_id"),
      col(vecCol).as("__vb"), col("__nrm").as("__nb"))
    val pairs = x.join(y, Seq("cluster", "__sub"))
      .where(col("a_id") < col("b_id"))
      .withColumn("sim", simWithNorms("__va", "__vb", "__na", "__nb"))
      .where(col("sim") >= minSim)
      .select("a_id", "b_id")
    val clusters = Components.connectedComponents(pairs, "a_id", "b_id")
    val dropIds = clusters.where(col("id") =!= col("cluster_id"))
      .select(col("id").as("__drop_id"))
    corpus.join(dropIds, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** Symmetric per-vector int8 quantization — the ANN index
    * compression step (4× smaller storage/shuffle than float32, the
    * standard first rung before product quantization): `scale` =
    * max |component| (double), `code_i` = floor(x_i·127/scale + 0.5)
    * ∈ [−127, 127]; an all-zero vector quantizes to all-zero codes
    * with scale 0. Dequantize as `code_i·scale/127`.
    *
    * Everything is a per-row codegen'd expression — no shuffle, no
    * UDF — and the arithmetic is plain IEEE double ops in a fixed
    * order, so codes are bitwise-reproducible across engines
    * (oracle-witnessed; float→double is exact). Adds `codesCol`
    * (array<int>) and `scaleCol` (double). */
  def withQuantizedInt8(df: DataFrame, vecCol: String,
                        codesCol: String = "q8",
                        scaleCol: String = "q8_scale"): DataFrame = {
    val collisions = df.columns.toSet.intersect(Set(codesCol, scaleCol))
    require(collisions.isEmpty,
      s"withQuantizedInt8 output columns collide with input: ${collisions.mkString(", ")}")
    df.withColumn(scaleCol, expr(
      s"aggregate($vecCol, CAST(0.0 AS DOUBLE), (qacc, qx) -> greatest(qacc, abs(CAST(qx AS DOUBLE))))"))
      .withColumn(codesCol, expr(
        s"CASE WHEN $scaleCol = 0.0 THEN transform($vecCol, qz -> 0) " +
          s"ELSE transform($vecCol, qv -> CAST(floor((CAST(qv AS DOUBLE) * 127.0) / $scaleCol + 0.5) AS INT)) END"))
  }

  /** Quantized-domain MIPS: per query, the top-k corpus rows by the
    * EXACT integer inner product of their int8 codes — the search
    * half of [[withQuantizedInt8]] (quantize once, then rank in the
    * compressed domain without touching float vectors). Integer dots
    * have no accumulation-order problem, so scores — and therefore
    * rankings — are bitwise identical at any parallelism and across
    * engines, something float cosine ANN cannot promise. Callers
    * re-score the k survivors with float cosine when exact angles
    * matter (standard two-stage retrieval).
    *
    * Scale shape: [[knnJoin]]'s — queries broadcast, corpus streams
    * through one codegen'd scan (4× less IO than float32 thanks to
    * the codes), per-query top-k via the bounded bottom-k heap. */
  def int8TopK(corpus: DataFrame, corpusId: String, corpusCodes: String,
               queries: DataFrame, queryId: String, queryCodes: String,
               k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("dot_q", expr(
        s"aggregate(zip_with($corpusCodes, $queryCodes, " +
          "(ix, iy) -> CAST(ix AS BIGINT) * CAST(iy AS BIGINT)), " +
          "CAST(0 AS BIGINT), (ia, ib) -> ia + ib)"))
    // Integer top-k via the bounded bottom-k heap (dot is BIGINT —
    // `-dot_q` is an exact descending key): k rows per query per map
    // partition shuffle, no per-query rank window sort.
    scored
      .groupBy(col(queryId).as("q_id"))
      .agg(expr(s"graft_bottom_k(struct(-dot_q AS __nd, " +
        s"`$corpusId` AS c_id, dot_q), ${k}L)").as("__top"))
      .select(col("q_id"), posexplode(col("__top")).as(Seq("__pos", "__r")))
      .select(col("q_id"), col("__r.c_id").as("c_id"),
        (col("__pos") + 1).as("rank"), col("__r.dot_q").as("dot_q"))
      .orderBy("q_id", "rank")
  }

  /** Per-label centroid outlier scoring for LABELED embedding
    * corpora — the "prune vectors that don't belong to their class"
    * curation gate: each label's centroid is the component-wise
    * FIXED-POINT mean (components rounded to 1e-9 with
    * floor(x·1e9 + 0.5), summed as exact integers) — identical at
    * any parallelism (float partial-merge order never leaks into it)
    * AND bitwise-portable across engines, unlike decimal casts whose
    * tie-rounding mode differs. Every vector gets `centroid_cos`,
    * its cosine to its OWN label's centroid, via a strict
    * left-to-right fold (bitwise-reproducible).
    *
    * Scale shape: one posexplode + partial-agg groupBy over
    * (label, dim) — shuffle rows bounded by labels·dim, NOT corpus
    * size; centroids broadcast back (label-cardinality dim table);
    * scoring is per-row, no further shuffle. */
  def labelCentroidOutliers(df: DataFrame, idCol: String, vecCol: String,
                            labelCol: String): DataFrame = {
    val reserved = Set("__idx", "__comp", "__cvec", "centroid_cos")
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"labelCentroidOutliers reserves ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val comp = df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("__idx", "__comp")))
    // float → double (exact) → fixed-point long: floor(x·1e9 + 0.5)
    // is the same IEEE ops in every engine (decimal casts are NOT —
    // tie-rounding modes differ), and the long sum is exact.
    val cent = comp.groupBy(col(labelCol), col("__idx"))
      .agg((sum(expr("CAST(floor(CAST(__comp AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT)"))
        .cast("double") / (count(lit(1)).cast("double") * lit(1.0e9))).as("__c"))
    val cvec = cent.groupBy(col(labelCol))
      .agg(expr("transform(array_sort(collect_list(struct(__idx, __c))), kv -> kv.__c)")
        .as("__cvec"))
    // A zero vector or zero centroid (cancelling components) has no
    // direction: emit NULL, never a NaN that poisons downstream
    // min()/comparisons silently.
    val denom = s"(${VectorSql.spark.norm(vecCol)} * " +
      s"sqrt(aggregate(zip_with(__cvec, __cvec, (wx, wy) -> wx * wy), CAST(0.0 AS DOUBLE), (wa, wb) -> wa + wb)))"
    df.join(broadcast(cvec), Seq(labelCol))
      .withColumn("centroid_cos", expr(
        s"CASE WHEN $denom = 0.0 THEN CAST(NULL AS DOUBLE) ELSE " +
          s"aggregate(zip_with($vecCol, __cvec, (zx, zy) -> CAST(zx AS DOUBLE) * zy), CAST(0.0 AS DOUBLE), (za, zb) -> za + zb) / $denom END"))
      .drop("__cvec")
  }

  /** Deterministic random-projection dimensionality reduction:
    * project each embedding onto `k` pseudo-random integer
    * hyperplanes (the shared [[graft.functions.VectorSql.planeComponent]]
    * family — constant-folded literal arrays through the codegen'd
    * dot, so this is a per-row map, no shuffle, no stored projection
    * matrix to ship). The Johnson–Lindenstrauss workhorse for cheap
    * downstream clustering/visualization; components are plain IEEE
    * dot products, bitwise-reproducible across engines.
    *
    * Adds `p0..p{k-1}` double columns. `planeOffset` selects a
    * disjoint plane range (e.g. to avoid reusing the LSH planes). */
  def withRandomProjection(df: DataFrame, vecCol: String, dim: Int, k: Int,
                           planeOffset: Int = 0): DataFrame = {
    require(k >= 1, "k must be positive")
    require(planeOffset >= 0 && planeOffset + k <= 3000,
      "plane indexes past ~3037 overflow the int64 cube in planeComponent")
    val reserved = (0 until k).map(i => s"p$i").toSet
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"withRandomProjection reserves p0..p${k - 1}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    (0 until k).foldLeft(df) { (d, i) =>
      d.withColumn(s"p$i", expr(V.dotPlane(vecCol, planeOffset + i, dim)))
    }
  }

  /** Render an `m × K × dsub` codebook as a nested Spark array
    * literal (codebooks are dim-table bounded: `K·dim` doubles). */
  private def cbSql(cb: Seq[Seq[Seq[Double]]]): String =
    cb.map(sub => sub.map(c =>
      c.map(v => s"CAST($v AS DOUBLE)").mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")

  private def validateCodebooks(cb: Seq[Seq[Seq[Double]]]): (Int, Int, Int) = {
    require(cb.nonEmpty && cb.forall(_.nonEmpty), "codebooks must be non-empty")
    val ks = cb.map(_.size).distinct
    require(ks.size == 1, s"every subspace needs the same K, got $ks")
    val ds = cb.flatMap(_.map(_.size)).distinct
    require(ds.size == 1 && ds.head >= 1,
      s"every centroid needs the same positive sub-dimension, got $ds")
    (cb.size, ks.head, ds.head)
  }

  /** Product-quantization encode (Jégou et al., TPAMI 2011 — the
    * compression layer under IVF-PQ, the standard billion-scale ANN
    * design): the vector is split into `m` contiguous subspaces and
    * each sub-vector is replaced by the id of its nearest codebook
    * centroid (squared L2, first-min tie-break) — `m` small ints
    * instead of `dim` floats, a 32–64× shuffle/storage compression.
    * Codebooks come from per-subspace k-means ([[trainKmeans]] per
    * slice, offline) and ride along as a nested literal, so encoding
    * is one codegen'd per-row expression: no join, no shuffle, and
    * every distance is a fixed-order IEEE fold (float→double casts
    * exact) — codes are bitwise-reproducible across engines.
    *
    * Adds `out` = array<int> of length `m`. Wrong-dimension or
    * null-component vectors raise loudly (house guard pattern). */
  def pqEncode(df: DataFrame, vecCol: String, codebooks: Seq[Seq[Seq[Double]]],
               out: String = "pq_codes"): DataFrame = {
    val (m, _, dsub) = validateCodebooks(codebooks)
    val dim = m * dsub
    require(!df.columns.contains(out), s"pqEncode output column $out collides with input")
    val vg = // guard wraps the column itself (optimizer-proof)
      s"CASE WHEN size($vecCol) = $dim AND NOT exists($vecCol, x -> isnull(x)) THEN $vecCol " +
        s"ELSE raise_error('pqEncode: $vecCol must be a null-free array<float> of length $dim') END"
    // native codegen'd kernel (graft_pq_encode); the codebook ships
    // flattened as one foldable literal, evaluated once at codegen.
    // pqEncodeHof is the interpreted-HOF rendering it is spec-pinned
    // bitwise-equal to.
    df.withColumn(out, call_function("graft_pq_encode",
      expr(vg), typedlit(codebooks.flatten.flatten), lit(m)))
  }

  /** Pure built-in (interpreted HOF) rendering of [[pqEncode]] —
    * registration-free environments + the bitwise-parity spec. */
  def pqEncodeHof(df: DataFrame, vecCol: String, codebooks: Seq[Seq[Seq[Double]]],
                  out: String = "pq_codes"): DataFrame = {
    val (m, _, dsub) = validateCodebooks(codebooks)
    val dim = m * dsub
    require(!df.columns.contains(out), s"pqEncodeHof output column $out collides with input")
    val vg =
      s"CASE WHEN size($vecCol) = $dim AND NOT exists($vecCol, x -> isnull(x)) THEN $vecCol " +
        s"ELSE raise_error('pqEncode: $vecCol must be a null-free array<float> of length $dim') END"
    // let-bound codebook + per-subspace distance array (see cdcChunks
    // for why naming intermediates with withColumn would be O(n²))
    val codes =
      s"transform(sequence(0, ${m - 1}), s -> " +
        s"CAST(element_at(transform(array(" +
        s"transform(element_at(cb, s + 1), c -> " +
        s"aggregate(sequence(1, $dsub), CAST(0 AS DOUBLE), (acc, i) -> " +
        s"acc + (CAST(element_at(__vg, s * $dsub + i) AS DOUBLE) - element_at(c, i)) " +
        s"* (CAST(element_at(__vg, s * $dsub + i) AS DOUBLE) - element_at(c, i))))" +
        s"), ds -> array_position(ds, array_min(ds)) - 1), 1) AS INT))"
    val full =
      s"element_at(transform(array(${cbSql(codebooks)}), cb -> " +
        s"element_at(transform(array($vg), __vg -> $codes), 1)), 1)"
    df.withColumn(out, expr(full))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    * un-quantized, per-subspace distances to every centroid form an
    * `m × K` lookup table (computed once, constant-folded into the
    * scan), and each row's approximate squared distance is `m` table
    * lookups summed in fixed order — no floats are touched per row at
    * all. Selection is TakeOrderedAndProject (per-partition heaps),
    * never a global sort. Returns `(idCol, adc)`, nearest first
    * (id tiebreak). */
  def pqAdcTopK(df: DataFrame, idCol: String, codesCol: String,
                codebooks: Seq[Seq[Seq[Double]]], query: Seq[Double],
                k: Int): DataFrame = {
    val (m, _, dsub) = validateCodebooks(codebooks)
    require(query.size == m * dsub,
      s"query must have dimension ${m * dsub}, got ${query.size}")
    require(k >= 1, "k must be positive")
    val qSql = query.map(v => s"CAST($v AS DOUBLE)").mkString("array(", ", ", ")")
    val lut = // m × K table of query-sub-to-centroid squared distances
      s"transform(sequence(0, ${m - 1}), s -> " +
        s"transform(element_at(cb, s + 1), c -> " +
        s"aggregate(sequence(1, $dsub), CAST(0 AS DOUBLE), (acc, i) -> " +
        s"acc + (element_at(ql, s * $dsub + i) - element_at(c, i)) " +
        s"* (element_at(ql, s * $dsub + i) - element_at(c, i)))))"
    val adc =
      s"aggregate(sequence(0, ${m - 1}), CAST(0 AS DOUBLE), (acc, s) -> " +
        s"acc + element_at(element_at(lut, s + 1), element_at($codesCol, s + 1) + 1))"
    val full =
      s"element_at(transform(array(${cbSql(codebooks)}), cb -> " +
        s"element_at(transform(array($qSql), ql -> " +
        s"element_at(transform(array($lut), lut -> $adc), 1)), 1)), 1)"
    df.withColumn("adc", expr(full))
      .orderBy(col("adc"), col(idCol))
      .limit(k)
      .select(col(idCol), col("adc"))
  }

  /** Train PQ codebooks: independent L2 k-means per subspace, all
    * `m` subspaces trained SIMULTANEOUSLY — the corpus explodes once
    * into `(id, s, subvector)` rows and every Lloyd iteration is ONE
    * broadcast-join assignment + ONE mean aggregation over all
    * subspaces together, not `m` sequential trainings (the
    * trainKmeans scale lesson applied at design time). Codebook rows
    * (`m·K·dsub` doubles) live on the driver between iterations.
    * Seeding is deterministic hash-order (first `K` subvectors per
    * subspace by `xxhash64(id)` — PQ codebooks don't need k-means||
    * quality, and this is one pass). Empty clusters keep their
    * previous centroid; reruns can differ in final ulps (float
    * partials merge in shuffle-arrival order — the distributed-kmeans
    * caveat, so this trainer is spec-verified, not oracle-witnessed).
    *
    * Returns `(codebooks, objective)` with `codebooks` directly
    * feedable to [[pqEncode]]/[[pqAdcTopK]]/[[ivfPqSearch]] and
    * `objective(i)` = Σ squared quantization error under iteration
    * i's codebooks — non-increasing (spec-pinned). */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                       dim: Int, m: Int, k: Int, iters: Int)
      : (Seq[Seq[Seq[Double]]], Seq[Double]) = {
    import org.apache.spark.sql.expressions.Window
    require(m >= 1 && dim >= 1 && dim % m == 0,
      s"dim ($dim) must be a positive multiple of m ($m)")
    require(k >= 1 && iters >= 1, "k and iters must be positive")
    val dsub = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    val vg =
      s"CASE WHEN size($vecCol) = $dim AND NOT exists($vecCol, x -> isnull(x)) THEN $vecCol " +
        s"ELSE raise_error('trainPqCodebooks: $vecCol must be a null-free array<float> of length $dim') END"
    val rows = corpus
      .select(col(idCol).as("__id"), expr(vg).as("__v"))
      .select(col("__id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> slice(__v, s * $dsub + 1, $dsub))"))
        .as(Seq("s", "__sv")))
      .localCheckpoint() // scanned twice per iteration; fixed lineage
    // bottom-k by hash per subspace: `s` has only m values, so a rank
    // window would funnel the WHOLE corpus through m reducers' sorts;
    // the k-bounded heap aggregate shuffles k·m·partitions rows only
    // (the posexplode index over the ascending array IS rank-1 = cid)
    var cents: Map[(Int, Int), Seq[Double]] = rows
      .groupBy(col("s"))
      .agg(expr(s"graft_bottom_k(struct(xxhash64(__id) AS h, __id, __sv), $k)")
        .as("__smp"))
      .select(col("s"),
        posexplode(expr("transform(__smp, x -> x.__sv)")).as(Seq("cid", "__sv")))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        r.getAs[scala.collection.Seq[Float]](2).map(_.toDouble).toSeq)
      .toMap
    require(cents.size == m * k,
      s"corpus has fewer than k=$k rows — cannot seed ${m * k} centroids")
    def centDf: DataFrame =
      cents.toSeq.map { case ((s, cid), v) => (s, cid, v) }.toDF("s", "cid", "cvec")
    val sqd =
      s"aggregate(sequence(1, $dsub), CAST(0 AS DOUBLE), (acc, i) -> " +
        s"acc + (CAST(element_at(__sv, i) AS DOUBLE) - element_at(cvec, i)) " +
        s"* (CAST(element_at(__sv, i) AS DOUBLE) - element_at(cvec, i)))"
    val objective = Seq.newBuilder[Double]
    for (_ <- 0 until iters) {
      // ascending-distance argmin as a struct-min (exact: NaN sorts
      // last under both the asc window and the min aggregate)
      val assigned = rows.join(broadcast(centDf), Seq("s"))
        .withColumn("__d", expr(sqd))
        .groupBy(col("__id"), col("s"))
        .agg(min(struct(col("__d").as("__d"), col("cid").as("cid"),
          col("__sv").as("__sv"))).as("__b"))
        .select(col("__id"), col("s"), col("__b.__d").as("__d"),
          col("__b.cid").as("cid"), col("__b.__sv").as("__sv"))
        .localCheckpoint() // feeds the objective AND the mean update
      objective += assigned.agg(sum(col("__d"))).head().getDouble(0)
      val means = assigned
        .select(col("s"), col("cid"), posexplode(col("__sv")).as(Seq("__idx", "__c")))
        .groupBy(col("s"), col("cid"), col("__idx"))
        .agg(avg(col("__c").cast("double")).as("__mv"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (key, rs) =>
          key -> rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
        }
      cents = cents.map { case (key, old) => key -> means.getOrElse(key, old) }
      assigned.rdd.unpersist(blocking = false)
    }
    rows.rdd.unpersist(blocking = false)
    val cb = (0 until m).map(s => (0 until k).map(cid => cents((s, cid))))
    (cb, objective.result())
  }

  /** Maximal-marginal-relevance top-k (Carbonell & Goldstein, SIGIR
    * 1998): greedily pick the candidate maximizing
    * `λ·sim(q, d) − (1−λ)·max_{s∈selected} sim(d, s)` — relevant
    * results that are NOT near-duplicates of each other, the
    * retrieval-side answer to redundant corpora. Deterministic: id
    * tiebreak at every pick.
    *
    * Scale shape: `k` driver-paced passes (the same bounded-rounds
    * pattern as Lloyd iterations / connected components): each pass
    * is one distributed scan scoring every candidate against the
    * query and the ≤ k already-selected vectors (shipped back as
    * constant-folded float literals — k·dim bounded), then a 1-row
    * TakeOrdered. Use it on a candidate pool (e.g. the top-few-
    * hundred from [[topK]]/[[ivfPqSearch]]), not a raw corpus —
    * k scans of a 100 TB corpus would be k corpus reads. */
  def mmrTopK(corpus: DataFrame, idCol: String, vecCol: String,
              query: DataFrame, k: Int, lambda: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be positive")
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0, 1]")
    def floatArraySql(v: Seq[Float]): String =
      v.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")
    val base = corpus.withColumn("__nrm", expr(V.norm(vecCol)))
      .crossJoin(broadcast(query.withColumn("__qnrm", expr(V.norm("q")))))
      .withColumn("__qsim", simWithNorms(vecCol, "q", "__nrm", "__qnrm"))
      .select(col(idCol), col(vecCol), col("__qsim"))
      .localCheckpoint() // scored once; k passes re-read, never recompute
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Float])]
    (0 until k).foreach { _ =>
      val already = selected.map(_._1)
      val notTaken = if (already.isEmpty) base
        else base.where(!col(idCol).isin(already.toSeq: _*))
      val sims = selected.map { case (_, v) =>
        expr(V.cosine(vecCol, floatArraySql(v)))
      }.toSeq
      val penalty = sims match {
        case Seq() => lit(0.0)
        case Seq(one) => one // greatest() requires >= 2 args
        case many => greatest(many: _*)
      }
      val pick = notTaken
        .withColumn("__mmr", lit(lambda) * col("__qsim") - lit(1 - lambda) * penalty)
        .orderBy(col("__mmr").desc, col(idCol))
        .limit(1).select(col(idCol), col(vecCol)).collect().headOption
      pick.foreach(p => selected += ((p.getLong(0),
        p.getAs[scala.collection.Seq[Float]](1).toSeq)))
      // corpus exhausted before k picks: return what exists
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    val ranked = selected.zipWithIndex.map { case ((id, _), r) => (id, r + 1) }.toSeq
    val rdf = ranked.toDF(idCol, "mmr_rank")
    base.rdd.unpersist(blocking = false)
    rdf.orderBy("mmr_rank")
  }

  /** The full IVF-PQ search path (the standard billion-scale ANN
    * layout): coarse-quantize the corpus onto broadcast centroids,
    * probe the query's `nProbe` nearest clusters, and rank ONLY the
    * probed candidates by PQ asymmetric distance — so the scan
    * touches `nProbe/K_coarse` of the corpus and the ranking touches
    * `m` bytes per candidate instead of `4·dim`. With a
    * [[writeIvfIndex]]-style cluster-partitioned store of codes the
    * probe becomes a partition-pruned scan; here the assignment runs
    * inline so the operator is self-contained and oracle-checkable.
    * Returns `(idCol, adc)`, nearest first. */
  def ivfPqSearch(corpus: DataFrame, idCol: String, vecCol: String,
                  coarse: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
                  query: Seq[Double], k: Int, nProbe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (m, _, dsub) = validateCodebooks(codebooks)
    require(query.size == m * dsub,
      s"query must have dimension ${m * dsub}, got ${query.size}")
    require(nProbe >= 1, "nProbe must be positive")
    val centN = coarse.withColumn("__ctnrm", expr(V.norm("cvec")))
    val corpusN = corpus.withColumn("__nrm", expr(V.norm(vecCol)))
    val assigned = corpusN.crossJoin(broadcast(centN))
      .withColumn("csim", simWithNorms(vecCol, "cvec", "__nrm", "__ctnrm"))
      .groupBy(col(idCol))
      .agg(min(struct(
        when(expr("isnan(csim)"), lit(0)).otherwise(lit(1)).as("__nn"),
        negate(col("csim")).as("__ns"), col("cid").as("cid"),
        col(vecCol).as("__v"))).as("__b"))
      .select(col(idCol), col("__b.__v").as(vecCol),
        col("__b.cid").as("cluster"))
    val spark = corpus.sparkSession
    import spark.implicits._
    // float cast for the cosine probe: graft_dot_f32 is float-typed,
    // and any query value exactly representable in float (e.g. the
    // witness's n/4 rationals) probes identically to its double form
    val probed = Seq(Tuple1(query.map(_.toFloat))).toDF("q")
      .withColumn("__qnrm", expr(V.norm("q")))
      .crossJoin(broadcast(centN))
      .withColumn("csim", simWithNorms("q", "cvec", "__qnrm", "__ctnrm"))
      .orderBy(col("csim").desc, col("cid")).limit(nProbe)
      .select(col("cid").as("cluster"))
    val cand = assigned.join(broadcast(probed), Seq("cluster"))
    pqAdcTopK(pqEncode(cand, vecCol, codebooks), idCol, "pq_codes",
      codebooks, query, k)
  }

  /** Random-hyperplane LSH near-dup pairs over an embedding column —
    * the SCALE path for embedding dedup (no blocking attribute
    * needed, unlike [[nearDupPairStats]]'s label blocking): the sign
    * pattern of `planesPerBand` deterministic hyperplane projections
    * forms a band key (SimHash for vectors — collision probability
    * per plane is 1 - angle/pi), vectors are self-joined per band on
    * that key, and candidates are verified with exact cosine at
    * `minSim`.
    *
    * Cost shape: `bands` hash self-joins over `2^planesPerBand`
    * buckets per band (the default 16 planes = 65,536 — the same
    * key-width lesson as the text simhash operator: bucket count must
    * outgrow `n / targetBucketSize`, so raise `planesPerBand` with
    * corpus size, `bands` only for recall), then one exact fold per
    * surviving candidate pair. Projections are per-row codegen'd dots
    * against constant-folded literal plane arrays — no shuffle until
    * the band join, never an unblocked cross join. */
  def hyperplaneLshPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         dim: Int, minSim: Double,
                         bands: Int = 2, planesPerBand: Int = 16): DataFrame = {
    require(bands >= 1 && planesPerBand >= 1 && planesPerBand <= 62)
    // planeComponent cubes x = p*1000003 + i + 1 in int64; x*x needs
    // x < 2^31.5, i.e. plane index p <= ~3037. Spark would wrap
    // silently past that (non-ANSI) while the DuckDB oracle raises on
    // BIGINT overflow — corrupted band keys, diverging engines. Keep
    // the total plane count inside the exact-arithmetic envelope.
    require(bands.toLong * planesPerBand <= 3000,
      s"bands * planesPerBand must be <= 3000 (got ${bands.toLong * planesPerBand}): " +
        "plane indexes past ~3037 overflow the int64 cube in planeComponent")
    // A wrong `dim` or a null vector/component would NULL every plane
    // dot, mapping every row to band key 0 — a silent full cross join.
    // Fail the job loudly instead: the guard wraps the vector column
    // itself (an asserted-then-dropped side column would be pruned by
    // the optimizer and never evaluated). The null-condition CASE also
    // routes null vectors to the error branch.
    val guarded = corpus.withColumn(vecCol, expr(
      s"CASE WHEN size($vecCol) = $dim AND NOT exists($vecCol, x -> isnull(x)) THEN $vecCol " +
        s"ELSE raise_error('hyperplaneLshPairs: $vecCol must be a null-free array<float> of length $dim') END"))
    val n = guarded.withColumn("__nrm", expr(V.norm(vecCol)))
    val keyed = (0 until bands).foldLeft(n) { (d, b) =>
      val key = (0 until planesPerBand).map { j =>
        val p = b * planesPerBand + j
        when(expr(V.dotPlane(vecCol, p, dim)) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      d.withColumn(s"__hpb$b", key)
    }.localCheckpoint() // feeds both sides of every band self-join
    // Band joins and the cross-band dedup move bare id pairs only;
    // vectors/norms re-join from the checkpointed frame afterwards, so
    // the dedup exchange carries O(candidates) ids, not O(candidates x
    // dim) floats (same shape as DedupOps.verifyJaccard).
    val pairs = (0 until bands).map { b =>
      val x = keyed.select(col(idCol).as("a_id"), col(s"__hpb$b").as("bk"))
      val y = keyed.select(col(idCol).as("b_id"), col(s"__hpb$b").as("bk"))
      x.join(y, "bk").where(col("a_id") < col("b_id")).select("a_id", "b_id")
    }.reduce(_ unionAll _)
      .dropDuplicates("a_id", "b_id")
    pairs
      .join(keyed.select(col(idCol).as("a_id"), col(vecCol).as("va"), col("__nrm").as("na")), "a_id")
      .join(keyed.select(col(idCol).as("b_id"), col(vecCol).as("vb"), col("__nrm").as("nb")), "b_id")
      .withColumn("sim", simWithNorms("va", "vb", "na", "nb"))
      .where(col("sim") >= minSim)
      .select(col("a_id"), col("b_id"), col("sim"))
      .orderBy("a_id", "b_id")
  }

  /** Embedding-cosine near-dup pair counts within equality blocks
    * (`blockCol`), pairs above `minSim`. Norms are computed once per
    * vector BEFORE the pair join, so each candidate pair costs one
    * fold.
    *
    * Hot-block guard: a block larger than `maxBlockSize` is split into
    * `ceil(size / maxBlockSize)` deterministic sub-blocks (xxhash64 of
    * the id), bounding per-block pair work at ~maxBlockSize²/2 instead
    * of letting one dominant block go quadratic in the corpus. The
    * cost is recall: pairs straddling sub-blocks of an oversize block
    * are not compared — the standard bounded-blocking tradeoff. Blocks
    * at or under the cap are compared exhaustively (one sub-block), so
    * results are exact whenever no block exceeds the cap. */
  def nearDupPairStats(corpus: DataFrame, idCol: String, vecCol: String,
                       blockCol: String, minSim: Double,
                       maxBlockSize: Int = 8192): DataFrame = {
    val n = Blocking.withSubBlock(
      corpus.withColumn("__nrm", expr(V.norm(vecCol))),
      Seq(col(blockCol)), idCol, maxBlockSize, "__sub")
    val x = n.select(col(blockCol).as("blk"), col("__sub"), col(idCol).as("a_id"),
      col(vecCol).as("va"), col("__nrm").as("na"))
    val y = n.select(col(blockCol).as("blk"), col("__sub"), col(idCol).as("b_id"),
      col(vecCol).as("vb"), col("__nrm").as("nb"))
    x.join(y, Seq("blk", "__sub")).where(col("a_id") < col("b_id"))
      .withColumn("sim", simWithNorms("va", "vb", "na", "nb"))
      .where(col("sim") >= minSim)
      .groupBy(col("blk").as(blockCol))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col(blockCol))
  }

  /** Truncated-toward-zero scaled integer division `(s·x) div m` —
    * rendered with an explicit sign split so ANY engine (floor- or
    * truncate-division) reproduces it bitwise. */
  private def rescaleSql(x: String, m: String, s: Long): String =
    s"CASE WHEN $x < 0 THEN -((${s}L * -$x) div $m) ELSE (${s}L * $x) div $m END"

  /** Distributed power iteration for the corpus's top principal
    * direction, in EXACT integer arithmetic: embeddings quantize on a
    * fixed global grid (`q = trunc-round(x · scale)`, so |q| ≤ scale
    * for unit-bounded inputs), and each iteration is the classic
    * two-sided mat-vec —
    * `u_i = Σ_j q_ij·v_j` (per-row dot), rescaled to max |u| = scale,
    * then `w_j = Σ_i q_ij·u_i` (per-dimension fold), rescaled to
    * max |w| = scale as the next `v`. All products stay far inside
    * int64 BECAUSE of the per-side rescale (|q|,|v|,|u| ≤ scale ⇒
    * every partial ≤ n·scale² — switch the w-fold to DECIMAL(38,0)
    * past ~10¹² rows); truncated division is rendered sign-split so
    * the result is bitwise engine-invariant (floor-vs-truncate
    * division of negatives is the classic cross-engine trap).
    * Output: `(dim, v)` — the converged direction on the
    * [−scale, scale] grid, one row per dimension.
    *
    * Scale shape: the long-form `(row, dim, q)` frame is derived
    * once; per iteration ONE row-keyed aggregation (the dot — the
    * dim-table v broadcasts) materialized via localCheckpoint so the
    * max-|u| scalar AND the dim-keyed w-fold both read its cached
    * blocks instead of recomputing the mat-vec, then one dim-keyed
    * aggregation (64 keys — map-side combined to nothing) and one
    * scalar max. The driver holds only d-sized vectors per round
    * (the k-means/centroid convention). Iterations are a fixed
    * constant — classic BSP; each round's u blocks release eagerly.
    */
  def powerIterationInt(df: DataFrame, idCol: String, vecCol: String,
                        iters: Int = 3, scale: Long = 1000L): DataFrame = {
    require(iters >= 1, "iters must be positive")
    require(scale >= 10, "scale must be at least 10")
    val spark = df.sparkSession
    import spark.implicits._
    val e = df.select(col(idCol).as("__id"),
        posexplode(expr(
          s"transform($vecCol, px -> CAST(floor(CAST(px AS DOUBLE) * $scale.0D + 0.5D) AS BIGINT))"))
          .as(Seq("__j", "__q")))
      .persist()
    val dims = e.agg(max(col("__j"))).head().getInt(0) + 1
    var v: Array[Long] = Array.fill(dims)(scale)
    (1 to iters).foreach { _ =>
      val vDf = broadcast(v.toSeq.zipWithIndex
        .map { case (x, j) => (j, x) }.toDF("__j", "__v"))
      // the mat-vec runs ONCE per iteration: localCheckpoint
      // truncates the plan, and the max-|u| probe (the round's first
      // action, below) materializes the blocks in ITS job — one
      // driver-paced job per round instead of checkpoint + probe (the
      // connectedComponents lazy fusion; the blocks are cached before
      // the w-fold reads them and before the round-end free)
      val u = e.join(vDf, Seq("__j"))
        .groupBy(col("__id"))
        .agg(sum(col("__q") * col("__v")).cast("bigint").as("__u"))
        .localCheckpoint(eager = false)
      val mu = math.max(1L,
        u.agg(max(abs(col("__u")))).head().getLong(0))
      val us = u.withColumn("__us", expr(rescaleSql("__u", mu.toString, scale)))
        .select(col("__id"), col("__us"))
      val w = e.join(us, Seq("__id"))
        .groupBy(col("__j"))
        .agg(sum(col("__q") * col("__us")).cast("bigint").as("__w"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // this round's u is spent — free its blocks before the next one
      u.queryExecution.analyzed.collectLeaves().foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
      val mw = math.max(1L, w.values.map(math.abs).max)
      v = Array.tabulate(dims) { j =>
        val x = w.getOrElse(j, 0L)
        val a = (scale * math.abs(x)) / mw
        if (x < 0) -a else a
      }
    }
    // the result is the driver-side v vector — e's blocks can go now
    e.unpersist(blocking = false)
    v.toSeq.zipWithIndex.map { case (x, j) => (j.toLong, x) }
      .toDF("dim", "v")
      .orderBy("dim")
  }
}
