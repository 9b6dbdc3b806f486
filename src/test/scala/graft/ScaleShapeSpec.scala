package graft

import graft.operators.{Components, Decontaminate, DedupOps, Relevance, SimilarityOps, TextOps}
import org.apache.spark.sql.functions._

/** Scale-shape assertions: the properties that make the LSH operators
  * survive a 100 TB corpus are checked directly on the KEY
  * DISTRIBUTIONS (candidate-pair mass = Σ bucket·(bucket-1)/2 over
  * each band's buckets), not on wall-clock — a 10k-doc synthetic
  * corpus is enough to distinguish near-linear candidate growth from
  * the quadratic collapse the round-2 verdict flagged (64-bucket
  * banding ⇒ O(n²/64)).
  */
class ScaleShapeSpec extends SparkSpec {

  // 10k deterministic docs, 20 tokens each from a 500-word vocabulary.
  private def corpus = spark.range(10000).selectExpr(
    "id AS doc_id",
    "array_join(transform(sequence(1, 20), i -> concat('w', pmod(hash(id * 31 + i), 500))), ' ') AS text")

  private def candidateMass(keyed: org.apache.spark.sql.DataFrame, keyCol: String): Long =
    keyed.groupBy(col(keyCol)).agg(count(lit(1)).as("k"))
      .agg(sum(expr("k * (k - 1) div 2"))).head.getLong(0)

  test("60-bit/4-band simhash keys keep per-band candidate pairs near-linear at 10k docs") {
    val sims = TextOps.withSimhash(corpus, "text", 60, "sim").localCheckpoint()
    val n = 10000L
    (0 until 4).foreach { b =>
      val div = 1L << (15 * b)
      val mass = candidateMass(
        sims.select(expr(s"(sim div ${div}L) % 32768L").as("bk")), "bk")
      // quadratic collapse would be ~n²/(2·buckets) ≈ 1.5M pairs even
      // under uniform hashing with 64 buckets; with 32,768 buckets the
      // uniform expectation is ~1.5k. Allow 10x slack for skew.
      assert(mass < 15L * n,
        s"band $b candidate mass $mass exceeds the near-linear bound (${15L * n})")
    }
  }

  test("LSH band self-joins are hot-bucket capped: a boilerplate cluster's fan-out is bounded") {
    import spark.implicits._
    // 600 IDENTICAL docs: every band key collides, the adversarial
    // hot-bucket case. Uncapped, the candidate join emits C(600,2) =
    // 179,700 pairs; capped at 64, each sub-block contributes at most
    // C(ceil(600/ceil(600/64)),2) pairs — bounded fan-out, pairs
    // across sub-blocks skipped (the documented recall tradeoff).
    val boiler = spark.range(600).selectExpr("id AS doc_id",
      "'the same boilerplate wrapper text repeated verbatim' AS text")
    val capped = DedupOps.lshNearDupPairs(boiler, "doc_id", "text",
      maxBucketSize = 64)
    val nCapped = capped.count()
    assert(nCapped > 0L, "pairs inside a sub-block must still surface")
    assert(nCapped < 179700L / 4,
      s"capped hot bucket must emit far fewer than all C(600,2) pairs, got $nCapped")
    // at or under the cap the results are EXACT — the test-scale regime
    val small = spark.range(50).selectExpr("id AS doc_id",
      "'the same boilerplate wrapper text repeated verbatim' AS text")
    assert(DedupOps.lshNearDupPairs(small, "doc_id", "text",
      maxBucketSize = 64).count() == 50L * 49L / 2L,
      "buckets at or under the cap compare exhaustively")
    // simhash shares the guard. Per-band salting makes each band drop
    // a DIFFERENT cross-sub-block pair set, so the union recall is
    // 1-(1-1/nSub)^bands of the exhaustive mass (~34% at nSub=10,
    // bands=4) while per-band JOIN COST stays Θ(size·cap): the union
    // must stay far below exhaustive AND above a single band's share
    // (the salt actually buying multi-band recall).
    // lower bound sits strictly ABOVE the worst-case single-band mass
    // (balanced 10x60 split = 10*C(60,2) = 17,700): an unsalted
    // regression collapses the union to one band's share and FAILS
    val sCapped = DedupOps.simhashNearDupPairs(boiler, "doc_id", "text",
      maxBucketSize = 64).count()
    assert(sCapped > 25000L && sCapped < 179700L / 2,
      s"simhash hot bucket must be capped with salted sub-blocks, got $sCapped")
  }

  test("hyperplane band keys keep candidate pairs near-linear at 10k vectors") {
    import graft.functions.VectorSql.{spark => V}
    // deterministic 16-dim vectors derived from the id
    val vecs = spark.range(10000).selectExpr(
      "id AS vec_id",
      "transform(sequence(1, 16), i -> cast(pmod(hash(id * 17 + i), 1000) - 500 as float)) AS embedding")
    val n = 10000L
    (0 until 2).foreach { b =>
      val key = (0 until 16).map { j =>
        val p = b * 16 + j
        when(expr(V.dotPlane("embedding", p, 16)) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      val mass = candidateMass(vecs.select(key.as("bk")), "bk")
      assert(mass < 15L * n,
        s"hyperplane band $b candidate mass $mass exceeds the near-linear bound (${15L * n})")
    }
  }

  test("winnow fingerprint df cap bounds the clone-pair candidate mass") {
    import graft.operators.TextOps
    // Worst case for fingerprint space: a tiny vocabulary makes most
    // 5-grams corpus-wide boilerplate — exactly this repo's synthetic
    // corpus shape. The candidate mass is Σ df·(df-1)/2 over the
    // fingerprints the self-join actually keeps.
    val fps = TextOps.withWinnowedFingerprints(corpus, "text", k = 5, w = 4)
      .select(col("doc_id"), explode(col("fps")).as("fp")).distinct()
      .localCheckpoint()
    val dfs = fps.groupBy("fp").agg(count(lit(1)).as("k")).localCheckpoint()
    val n = 10000L
    val maxDf = (n * 0.02).toLong // the operator's hot-fingerprint cap
    val uncapped = dfs.agg(sum(expr("k * (k - 1) div 2"))).head.getLong(0)
    val kept = dfs.where(col("k") <= maxDf)
    val capped = kept.agg(coalesce(sum(expr("k * (k - 1) div 2")), lit(0L))).head.getLong(0)
    val keptRows = kept.agg(coalesce(sum(col("k")), lit(0L))).head.getLong(0)
    // the structural guarantee the cap buys: per-fingerprint pair work
    // ≤ df·maxDf/2, so total mass ≤ maxDf/2 · kept (fp, doc) rows —
    // LINEAR in the kept postings for a fixed cap, where the uncapped
    // mass grows with Σ df² (quadratic on boilerplate corpora)
    assert(capped <= maxDf * keptRows / 2,
      s"capped mass $capped exceeds the maxDf·rows/2 bound (${maxDf * keptRows / 2})")
    assert(capped < uncapped / 10,
      s"cap is not biting on a boilerplate-heavy corpus: capped=$capped uncapped=$uncapped")
  }

  test("sorted write layout: selective scans skip row groups (zone maps)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // The data-layout claim behind 'sort your fact tables': parquet
    // row-group min/max stats + pushed filters skip whole groups when
    // the data is SORTED on the filter column, and skip nothing when
    // the same rows are written hash-shuffled. Measured on the scan's
    // own numOutputRows metric (rows surviving group-level skipping),
    // not wall-clock.
    withTempDir { dir =>
      val df = spark.range(200000).selectExpr("id", "id % 997 AS k")
      df.orderBy("id").coalesce(1).write
        .option("parquet.block.size", 64 * 1024).parquet(s"$dir/sorted")
      df.orderBy(expr("xxhash64(id)")).coalesce(1).write
        .option("parquet.block.size", 64 * 1024).parquet(s"$dir/shuffled")
      def scanned(path: String): Long = {
        val q = spark.read.parquet(path).where(col("id").between(100000, 100999))
        // materialize THIS plan (count() would execute a different
        // one and leave these metrics at zero)
        assert(q.collect().length == 1000)
        val root = q.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        root.collect { case s: FileSourceScanExec =>
          s.metrics("numOutputRows").value
        }.sum
      }
      val (srt, shf) = (scanned(s"$dir/sorted"), scanned(s"$dir/shuffled"))
      assert(shf == 200000L, s"shuffled layout should read every row group, read $shf")
      assert(srt < shf / 10,
        s"sorted layout should skip most row groups: sorted read $srt vs shuffled $shf")
    }
  }

  test("z-order layout: zone maps skip on BOTH dimensions; plain sort only on its leading one") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // The ZORDER BY claim, measured: writing the same 512×512 grid
    // (a) sorted by x and (b) sorted by the Morton key, a selective
    // filter on y skips most row groups only under (b) — a plain
    // x-sort gives every row group the full y range, so its min/max
    // stats prune nothing on y.
    withTempDir { dir =>
      val df = spark.range(262144).selectExpr(
        "CAST(id div 512 AS INT) AS x", "CAST(id % 512 AS INT) AS y")
      df.orderBy("x", "y").coalesce(1).write
        .option("parquet.block.size", 64 * 1024).parquet(s"$dir/xsorted")
      graft.operators.Sequencing.withZValue(df, "x", "y")
        .orderBy("zval").drop("zval").coalesce(1).write
        .option("parquet.block.size", 64 * 1024).parquet(s"$dir/zorder")
      def scanned(path: String, pred: org.apache.spark.sql.Column): Long = {
        val q = spark.read.parquet(path).where(pred)
        assert(q.collect().length == 512 * 16)
        val root = q.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        root.collect { case s: FileSourceScanExec =>
          s.metrics("numOutputRows").value
        }.sum
      }
      val yPred = col("y").between(96, 111)
      val xPred = col("x").between(96, 111)
      val (xsY, zY) = (scanned(s"$dir/xsorted", yPred), scanned(s"$dir/zorder", yPred))
      assert(xsY > 262144L * 9 / 10,
        s"x-sorted layout has no y locality — expected a near-full read, got $xsY")
      assert(zY < 262144L / 3,
        s"z-ordered layout should skip most row groups on y: read $zY of 262144")
      val zX = scanned(s"$dir/zorder", xPred)
      assert(zX < 262144L / 3,
        s"z-ordered layout should ALSO skip on x: read $zX of 262144")
    }
  }

  test("cooccurrencePairs plan: pair generation is map-side (no join below the aggregate)") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val plan = Relevance.cooccurrencePairs(docs, "text", maxDist = 2, k = 20)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"context pairs must come from zip_with shifts, not a self-join:\n$plan")
    assert(plan.contains("Generate"), s"expected the explode of zipped pairs:\n$plan")
  }

  test("miningTriplets plan: one anchor-keyed shuffle, no window") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val anchors = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("a_id"), col("embedding").as("av"), col("label").as("a_label"))
    val cands = emb.where(col("vec_id") >= 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"), col("label").as("c_label"))
    val plan = SimilarityOps.miningTriplets(anchors, "a_id", "av", "a_label",
      cands, "c_id", "cv", "c_label", simMax = 0.95)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"argmax must be an aggregate, not a window:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1,
      s"expected exactly one anchor-keyed shuffle, found $shuffles:\n$plan")
  }

  test("AQE splits a skewed join partition at runtime (no manual salting needed)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // The automatic companion to the q26/q65 salting operators: with
    // skew-join enabled and thresholds scaled to the test data, the
    // final adaptive plan marks the sort-merge join as skew-handled.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one hot key carrying 200k rows vs 1k-row uniform tail
      val big = spark.range(201000).selectExpr(
        "CASE WHEN id < 200000 THEN 7L ELSE id END AS k", "id AS payload")
      val dim = spark.range(1000).selectExpr("id AS k", "id * 2 AS attr")
      val joined = big.join(dim.hint("merge"), "k")
      // materialize THIS frame — the adaptive final plan only exists
      // after execution (count() would execute a different plan)
      assert(joined.collect().length == 200000) // hot key matches dim key 7; tail misses
      val plan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the join skew-handled:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning: a dim filter prunes the fact scan's partitions") {
    // The partition-elimination story at join time: a hive-partitioned
    // fact joined to a filtered dim must carry a dynamicpruning
    // expression on its scan — only matching partitions are read.
    withTempDir { dir =>
      spark.range(100000)
        .selectExpr("id", "CAST(id % 20 AS INT) AS part")
        .write.partitionBy("part").parquet(s"$dir/fact")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.range(20).selectExpr("CAST(id AS INT) AS part", "id * 3 AS attr")
        .where(col("attr") === 9) // selects part = 3 only, known at runtime
      val joined = fact.join(dim, "part")
      assert(joined.count() == 5000L)
      val scan = joined.queryExecution.executedPlan.toString
      assert(scan.contains("dynamicpruning"),
        s"expected a dynamic partition pruning filter on the fact scan:\n$scan")
    }
  }

  test("decontamination plan: corpus-side shingle join is a broadcast semi-join") {
    import spark.implicits._
    val docs = corpus
    val bench = Seq((0L, "w1 w2 w3 w4")).toDF("doc_id", "text")
    val plan = Decontaminate.flagContaminated(docs, bench, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected a broadcast left-semi join against benchmark shingles:\n$plan")
  }

  test("prefixJaccardPairs plan: equi-joins only — no cartesian/nested-loop anywhere") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .where(col("doc_id") < 200)
    // budget 0: the distributed tier, whose joins this pins
    val plan = DedupOps.prefixJaccardPairsImpl(docs, "doc_id", "text", 9, 10, 0L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Join"), s"expected the distributed tier's joins:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"prefix filtering must candidate via token equi-joins, never all-pairs:\n$plan")
    // below the budget, the driver tier answers with a local relation
    val local = DedupOps.prefixJaccardPairs(docs, "doc_id", "text", 9, 10)
      .queryExecution.executedPlan.toString
    assert(local.contains("LocalTableScan") && !local.contains("Exchange") &&
      !local.contains("Join"), s"expected the driver tier's local relation:\n$local")
  }

  test("zvalue clustering keys: range partitioning on the curve gives tight per-file envelopes on BOTH columns") {
    // the property OPTIMIZE ZORDER BY banks on: range-bucketing rows
    // by the Morton value makes every bucket's min/max span on EACH
    // clustered column ~sqrt(buckets) narrower than the domain,
    // where single-column clustering leaves the other column's span
    // at the full domain
    graft.functions.catalyst.GraftFunctions.register(spark)
    val n = 10000L
    val df = spark.range(n).selectExpr(
      "cast(pmod(hash(id * 31), 1024) as double) AS x",
      "cast(pmod(hash(id * 47), 1024) as double) AS y")
    val perCol = 255
    val bounds = (1 to perCol).map(i => 1024.0 * i / (perCol + 1))
    val boundsFlat = (bounds ++ bounds).map(v => s"${v}D").mkString(",")
    val keyed = df.selectExpr("x", "y",
      s"graft_zvalue(array(x, y), array($boundsFlat), $perCol) AS z")
    // 64 z-range buckets ~ the files a rewrite would land
    val r = keyed.selectExpr("ntile(64) OVER (ORDER BY z) AS f", "x", "y")
      .groupBy(col("f"))
      .agg((max(col("x")) - min(col("x"))).as("sx"),
        (max(col("y")) - min(col("y"))).as("sy"))
      .agg(avg(col("sx")), avg(col("sy"))).head()
    val (ax, ay) = (r.getDouble(0), r.getDouble(1))
    // 64 files over a 2-D curve ≈ an 8×8 grid: each file's span per
    // axis should be well under half the 1024 domain; single-column
    // sorting would leave the OTHER axis at ~1024
    assert(ax < 512 && ay < 512,
      s"curve files must bound BOTH axes: avg spans x=$ax y=$ay")
  }

  test("int8TopK plan: query side broadcast, corpus never shuffled before the top-k window") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val coded = SimilarityOps.withQuantizedInt8(emb, "embedding")
    val out = SimilarityOps.int8TopK(
      coded.select(col("vec_id"), col("q8")), "vec_id", "q8",
      coded.where(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("q8").as("qc")),
      "q_id", "qc", k = 5)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"queries must broadcast into the corpus scan:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1,
      s"expected exactly one q_id-keyed shuffle for the window, found $shuffles:\n$plan")
  }

  test("pageRank per-iteration plan: edge/degree frames are reused checkpoints, not recomputed scans") {
    import spark.implicits._
    val e = (1 to 200).map(i => (s"n$i", s"n${i % 37}")).toDF("s", "d")
    val ranked = Components.pageRank(e, "s", "d", iters = 3)
    // After checkpointing, every iteration reads LogicalRDD leaves —
    // the source frame is materialized once, not re-derived per round.
    val leaves = ranked.queryExecution.analyzed.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
      s"expected all leaves to be checkpointed RDDs, got:\n${leaves.mkString("\n")}")
  }

  test("prioritySample plan: global bottom-k is TakeOrdered, never a full sort") {
    import spark.implicits._
    val docs = (0L until 1000L).map(i => (i, s"text $i", 1L + i % 7))
      .toDF("doc_id", "text", "w")
    val plan = operators.Mixing.prioritySample(docs, "doc_id", "text", "w", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject (per-partition k + driver merge):\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"a range-partitioned global sort must not appear:\n$plan")
  }

  test("repeatedCharSpans plan: no cartesian; gram window and interval merge are the only wide ops") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"document body text number $i padded out"))
      .toDF("doc_id", "text")
    val plan = operators.DedupOps.repeatedCharSpans(docs, "doc_id", "text", gramLen = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"gram blocking must never go all-pairs:\n$plan")
    // wide ops: the gram-count window (hash by gram), the doc-keyed
    // interval-merge window + its aggregate sharing one doc shuffle,
    // and the final left join back to the per-doc lengths
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 4,
      s"expected at most 4 keyed shuffles (gram window, doc window+agg, length join), found $shuffles:\n$plan")
  }

  test("assembleSessions plan: one user-keyed shuffle feeds windows AND the aggregate") {
    import spark.implicits._
    val ev = (0L until 500L).map(i => (i % 17, i, i * 1000000L, "e"))
      .toDF("uid", "ord", "us", "etype")
    val plan = operators.Dialogue.assembleSessions(ev, "uid", "us", "etype", "ord", 60000000L)
      .queryExecution.executedPlan.toString
    // ONE uid hash shuffle total: both windows ride it, and the
    // (uid, session) aggregate is satisfied by the same clustering
    // (uid partitioning co-locates every (uid, session) group) — no
    // re-key before the groupBy. The only other exchange is the
    // output ORDER BY's range partitioning.
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1,
      s"expected exactly 1 uid hash shuffle (windows + aggregate share it), found $shuffles:\n$plan")
  }

  test("attribution plan: one user shuffle, one sort, all windows share it — no join") {
    import spark.implicits._
    val ev = (0L until 500L).map(i =>
      (i % 17, i * 1000L, i, if (i % 5 == 0) "buy" else "view"))
      .toDF("uid", "ts", "id", "etype")
    val plan = operators.Funnel.attribution(ev, "uid", "ts", "etype", "id",
      Seq("view"), "buy")
      .queryExecution.executedPlan.toString
    // the segment-gating rewrite is join-free: every window aggregate
    // rides ONE uid hash shuffle and ONE (ts, id) in-task sort
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    val sorts = "\\bSort \\[".r.findAllIn(plan).length
    assert(shuffles == 1,
      s"expected exactly 1 uid hash shuffle, found $shuffles:\n$plan")
    assert(sorts == 1,
      s"expected the windows to share one sort, found $sorts:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"attribution must be join-free:\n$plan")
  }

  test("cusumUpcrossings plan: one key shuffle shared by all three windows and the aggregate") {
    import spark.implicits._
    val ev = (0L until 500L).map(i => (i % 17, i, i, (i % 30)))
      .toDF("k", "ts", "id", "v")
    val plan = operators.TimeSeries.cusumUpcrossings(ev, "k", "ts", "id", "v",
      target = 10L, threshold = 5L)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1,
      s"expected exactly 1 key hash shuffle (windows + aggregate share it), found $shuffles:\n$plan")
  }

  test("conjunctiveTopK plan: term filter below the shuffle, top-k is TakeOrdered, no join") {
    import spark.implicits._
    val docs = (0L until 500L).map(i => (i, s"alpha beta w$i gamma"))
      .toDF("doc_id", "text")
    val q = Relevance.conjunctiveTopK(docs, "doc_id", "text",
      Seq("alpha", "gamma"), k = 10)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition k + driver merge:\n$plan")
    assert(!plan.contains("Join"),
      s"conjunctive AND is an aggregate, never a posting join:\n$plan")
    // the isin() term filter must sit under the first exchange (only
    // query-term postings shuffle, not the token stream)
    val firstExchange = plan.indexOf("Exchange hashpartitioning")
    val filterAt = plan.indexOf("alpha")
    assert(firstExchange >= 0 && filterAt > firstExchange,
      s"expected the term filter below (after, in bottom-up print) the doc shuffle:\n$plan")
  }

  test("winRateMatrix / pairRules / linkPrediction / acf plans: equi-joins only, no cartesian") {
    import spark.implicits._
    val scores = (0L until 300L).map(i => (s"m${i % 4}", i % 50, i))
      .toDF("model", "item", "score")
    val p1 = operators.EvalStats.winRateMatrix(scores, "model", "item", "score")
      .queryExecution.executedPlan.toString
    val baskets = (0L until 400L).map(i => (i % 60, s"i${i % 13}")).toDF("bk", "it")
    val p2 = operators.Associations.pairRules(baskets, "bk", "it", 1L, 10)
      .queryExecution.executedPlan.toString
    val edges = (1L to 100L).map(i => (i, i % 23)).toDF("a", "b")
    val p3 = Components.linkPrediction(edges, "a", "b", 10)
      .queryExecution.executedPlan.toString
    val ev = (0L until 500L).map(i => Tuple1(i * 1000000000L)).toDF("ts")
    val p4 = operators.TimeSeries.acf(ev, "ts", Seq(1, 2), 60L)
      .queryExecution.executedPlan.toString
    Seq("winRateMatrix" -> p1, "pairRules" -> p2,
      "linkPrediction" -> p3, "acf" -> p4).foreach { case (name, plan) =>
      assert(!plan.contains("CartesianProduct"),
        s"$name must pair via equi-joins, never all-pairs:\n$plan")
      // the only nested-loop allowed is the 1-row scalar broadcast
      // attach (crossJoin(broadcast(agg))) — a conditioned or inner
      // BNLJ would be a disguised all-pairs join
      plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
        .foreach(l => assert(l.contains("Cross"),
          s"$name: non-scalar nested-loop join found: $l\n$plan"))
    }
  }

  test("poissonBootstrapCi plan: explode feeds a partial aggregate; one replicate-keyed shuffle") {
    import spark.implicits._
    val docs = (0L until 500L).map(i => (s"doc $i", i)).toDF("text", "x")
    val plan = operators.EvalStats.poissonBootstrapCi(docs, "text", "x", reps = 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate explode"),
      s"replicates must fan out via explode, not a join:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1,
      s"expected exactly one b-keyed shuffle (map-side partial sums), found $shuffles:\n$plan")
    assert(!plan.contains("Join"), s"bootstrap is join-free:\n$plan")
  }

  test("ordinal-backed operators never range-partition a global sort") {
    import spark.implicits._
    val docs = (0L until 800L).map(i => (i, s"s${i % 5}", i % 97)).toDF("id", "g", "v")
    val plans = Seq(
      "quantileNormalize" -> operators.RobustStats
        .quantileNormalize(docs, "v", "g", "id"),
      "lorenzCurve" -> operators.Mixing.lorenzCurve(docs, "id", "v"),
      "runLengthStats" -> Sequencing_runLength(docs))
    plans.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange rangepartitioning"),
        s"$name must ride the ordinal bucket decomposition, not a global sort:\n$plan")
    }
  }

  private def Sequencing_runLength(docs: org.apache.spark.sql.DataFrame) =
    operators.Sequencing.runLengthStats(docs, "id", "v", Seq("g"))

  test("bfsDistances result leaves are checkpointed RDDs (flat lineage across rounds)") {
    import spark.implicits._
    val e = (1 to 300).map(i => (i.toLong, (i % 41).toLong)).toDF("a", "b")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val out = Components.bfsDistances(e, "a", "b", seeds, "node", maxHops = 3)
    val leaves = out.queryExecution.analyzed.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
      s"expected checkpointed leaves, got:\n${leaves.mkString("\n")}")
  }

  test("maintainCountSum plan: both outer-join inputs are aggregates (delta pre-collapsed)") {
    import spark.implicits._
    val base = (0 until 50).map(i => (s"k$i", 1L, 1L)).toDF("k", "cnt", "total")
    val delta = (0 until 500).map(i => (s"k${i % 50}", "I", 1L)).toDF("k", "op", "v")
    val plan = operators.IncrementalAgg
      .maintainCountSum(base, delta, Seq("k"), "op", "v")
      .queryExecution.executedPlan.toString
    // the fact-sized delta must hash-aggregate BEFORE the join — the
    // join then runs on key-cardinality frames only
    val joinAt = plan.indexOf("Join")
    val aggAfterJoin = plan.indexOf("HashAggregate", joinAt)
    assert(joinAt >= 0 && aggAfterJoin > joinAt,
      s"expected an aggregate below the outer join (delta collapsed first):\n$plan")
  }

  test("theilSenSlope plan: pair join is entity-keyed, never cartesian") {
    import spark.implicits._
    val df = (0 until 200).map(i => (s"e${i % 20}", (i / 20).toLong, i.toLong))
      .toDF("e", "b", "v")
    val plan = operators.RobustStats.theilSenSlope(df, "e", "b", "v")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"pairwise slopes must join on the entity key:\n$plan")
    // the median window is entity-partitioned (no empty partitionBy)
    assert(!plan.contains("windowspecdefinition(__slope_ppm"),
      s"median window must be keyed by entity:\n$plan")
  }

  test("seriesCorrelation plan: only broadcast scalar/dimension crosses, no cartesian") {
    import spark.implicits._
    val G = 1000000000L
    val df = (0 until 300).map(i => (s"k${i % 5}", (i % 30).toLong * G))
      .toDF("k", "ts")
    val plan = operators.TimeSeries
      .seriesCorrelation(df, "ts", "k", bucketSec = 1L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"span scalars and key-pair frames must broadcast:\n$plan")
    // the lag join on buckets must be a hash join, not nested-loop
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the bucket-keyed lag join to hash:\n$plan")
  }

  test("aucDeLong plan: no single-reducer window (bucket-decomposed cumulative)") {
    import spark.implicits._
    val df = (0 until 400).map(i => (i.toLong % 37, i % 3 == 0)).toDF("v", "p")
    val plan = operators.EvalStats.aucDeLong(df, "v", "p")
      .queryExecution.executedPlan.toString
    // runningTotalsBefore partitions its window by quantile bucket
    val winAt = plan.indexOf("windowspecdefinition(__bkt")
    assert(winAt >= 0, s"expected the bucket-partitioned window:\n$plan")
    assert(!plan.contains("windowspecdefinition(__ordg,"),
      s"cumulative must never run on one reducer:\n$plan")
  }

  test("bigramLmSurprisal plan: token-keyed equi-joins + broadcast vocab scalar, no cartesian") {
    val plan = TextOps.bigramLmSurprisal(corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"count-table joins must be equi-joins; only the 1-row vocab may cross:\n$plan")
    // the c12/c1 joins hash or sort-merge on the token keys
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected keyed joins for the count tables:\n$plan")
  }

  test("mooreLewisSelect plan: four token-keyed equi-joins, only vocab scalars cross") {
    val plan = TextOps.mooreLewisSelect(corpus, "doc_id", "text",
        col("doc_id") % 2 === 0, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"count-table joins must be equi-joins; only the 1-row vocab scalars may cross:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected keyed joins for the two LMs' count tables:\n$plan")
    // the final top-k is a TakeOrdered, not a global sort
    assert(plan.contains("TakeOrderedAndProject"),
      s"k-selection must ride TakeOrdered (size-k per partition), not a global sort:\n$plan")
  }

  test("sprtMonitor plan: walk window is group-partitioned, never one reducer") {
    import spark.implicits._
    val df = (0 until 300).map(i => (s"g${i % 7}", i.toLong, i % 3 == 0))
      .toDF("g", "i", "s")
    val plan = operators.TimeSeries
      .sprtMonitor(df, "g", "i", col("s"), 0.25, 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(__grp"),
      s"expected the group-partitioned running sum:\n$plan")
    assert(!plan.contains("windowspecdefinition(__ord,") ||
      plan.indexOf("windowspecdefinition(__ord,") >
        plan.indexOf("windowspecdefinition(__grp"),
      s"no un-partitioned window may carry the walk:\n$plan")
  }

  test("stratifiedContrast plan: keyed aggregations only — no join of unit-level data") {
    import spark.implicits._
    val df = (0 until 500).map(i => (i.toLong % 7, i % 3 == 0, i.toDouble))
      .toDF("s", "tr", "y")
    val plan = operators.EvalStats.stratifiedContrast(df, "s", col("tr"), "y")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"arms pivot inside the stratum aggregation; nothing joins:\n$plan")
  }

  test("exactJaccardJoin plan: prefix-keyed candidate join, no cartesian anywhere") {
    val plan = DedupOps.exactJaccardJoin(corpus, "doc_id", "text", 4L, 5L)
      .queryExecution.executedPlan.toString
    // (the rank window sits behind ranked's localCheckpoint and is
    // spec'd by the operator's own correctness tests; what must hold
    // in the DOWNSTREAM plan is the join discipline)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"every join must key on prefix tokens or ids:\n$plan")
  }

  test("ipfRaking plan: corpus collapses to cells before any scaling join") {
    import spark.implicits._
    val df = (0 until 400).map(i => (s"r${i % 5}", s"c${i % 3}")).toDF("r", "c")
    val plan = operators.Mixing.ipfRaking(df, "r", "c", iters = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"margin frames must broadcast-join on the margin key:\n$plan")
  }

  test("captureRecapture plan: distinct id sets meet in one equi-join; counts cross as broadcast scalars") {
    import spark.implicits._
    val a = (0 until 400).map(_.toLong % 97).toDF("id")
    val b = (0 until 400).map(i => (i.toLong % 89) + 50).toDF("id")
    val plan = operators.EvalStats.captureRecapture(a, b, "id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"only the three 1-row count frames may cross:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"the overlap must be a keyed join on the id:\n$plan")
  }

  test("exactJaccardJoinIncremental plan: prefix-keyed probes only — no corpus-side cartesian") {
    val docs = corpus.localCheckpoint()
    val plan = DedupOps.exactJaccardJoinIncremental(
        docs.where(col("doc_id") % 4 =!= 0), docs.where(col("doc_id") % 4 === 0),
        "doc_id", "text", 4L, 5L)
      .queryExecution.executedPlan.toString
    // the standing-index probe and the batch self-join must both key
    // on prefix tokens; verification joins key on ids
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"every join must key on prefix tokens or ids:\n$plan")
  }

  test("DeltaReader scan plan: data-column filters push into the parquet scan") {
    withTempDir { dir =>
      import spark.implicits._
      // minimal one-commit Delta table over a plain parquet file
      val table = s"$dir/t"
      val frag = java.nio.file.Files.createTempDirectory("ss-delta")
      Seq(1L, 5L, 9L).toDF("v").coalesce(1)
        .write.mode("overwrite").parquet(frag.toString)
      val part = java.nio.file.Files.list(frag)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val dest = java.nio.file.Paths.get(table, "f0.parquet")
      java.nio.file.Files.createDirectories(dest.getParent)
      java.nio.file.Files.copy(part, dest)
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      val schemaJson = sch.json.replace("\\", "\\\\").replace("\"", "\\\"")
      val logDir = java.nio.file.Paths.get(table, "_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.json"),
        (Seq(
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          s"""{"metaData":{"id":"ss","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":1700000000000}}""",
          """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":1700000000000,"dataChange":true}}""")
          .mkString("\n") + "\n").getBytes("UTF-8"))
      val scan = graft.sources.DeltaReader.scan(table).get.where(col("v") > 4L)
      val formatted = scan.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(formatted.contains("PushedFilters") &&
        formatted.matches("(?s).*PushedFilters: \\[.*GreaterThan\\(v,4\\).*"),
        s"the filter must reach the parquet scan:\n$formatted")
      assert(scan.collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 9L))
    }
  }
  test("survey-sampling plan: two-phase bottom-k — no rank window, no per-stratum sort") {
    // the round-13 scale-killer: row_number().over(partitionBy(stratum))
    // rode a FULL sort of each stratum through one reducer. The
    // two-phase graft_bottom_k shape keeps a k-heap per map partition
    // (partial ObjectHashAggregate) and merges per stratum — only
    // k*strata*partitions summary rows shuffle, nothing ever sorts a
    // stratum in one task.
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("cents", expr("cast(floor(value * 100d + 0.5d) as bigint)"))
      .withColumn("plen", expr("cast(length(props) as bigint)"))
    for (out <- Seq(
      graft.operators.Mixing.horvitzThompson(
        ev, "event_type", "cents", "event_id", nPerStratum = 25L),
      graft.operators.Mixing.ratioEstimator(
        ev, "event_type", "cents", "plen", "event_id", nPerStratum = 25L))) {
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"the sample must be a bounded aggregate, not a rank window:\n$plan")
      assert("ObjectHashAggregate".r.findAllIn(plan).nonEmpty &&
        plan.contains("partial_graft_bottom_k"),
        s"bottom-k must partial-aggregate map-side:\n$plan")
      // no Sort node anywhere below the aggregate: heaps replace sorts
      assert(!plan.contains("Sort "),
        s"no per-stratum sort may survive:\n$plan")
    }
  }

  test("round-15 argmax conversions: no rank/count window in the three converted plans") {
    // The last three argmax-shaped windows (round-14 verdict #1–#3):
    // a boilerplate-heavy corpus makes each partition key corpus-sized
    // (one giant transitive LSH cluster / one viral digest / one hot
    // boundary shingle), so the pick must be a partial aggregate —
    // map-side combined — never a single reducer's sort.
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .limit(300).localCheckpoint()
    // 1. dropNearDuplicates(keepBestBy): cluster-representative pick,
    // on the distributed tier (budget 0) — the driver tier's plan is a
    // filter, which would pass this check without testing the pick
    val dnd = graft.operators.DedupOps.dropNearDuplicatesImpl(
      docs, "doc_id", "text", 2, 4, 0.3, Some("n_chars"), driverMaxBytes = 0L)
      .queryExecution.executedPlan.toString
    assert(dnd.contains("LeftAnti"), s"budget 0 must plan the distributed tier:\n$dnd")
    assert(!dnd.contains("Window"),
      s"keepBestBy pick must be max-score/min-id aggregates, not a rank window:\n$dnd")
    // 2. CurationPipeline digest pick
    val cur = graft.operators.CurationPipeline.curate(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!cur.contains("Window"),
      s"digest pick must be groupBy(min)+join, not a rank window:\n$cur")
    // 3. boundaryOverlapPairs hot-shingle cap
    val bop = graft.operators.DedupOps.boundaryOverlapPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!bop.contains("Window"),
      s"the frequency cap must be a two-phase count + anti-join, not a count window:\n$bop")
  }
}
