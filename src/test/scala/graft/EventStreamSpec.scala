package graft

import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming specs: the same transform runs on a batch
  * frame and on a MemoryStream, and the streaming results match the
  * batch results — Spark's unified-batch/stream contract. */
class EventStreamSpec extends SparkSpec {

  private val HourNs = 3600L * 1000 * 1000 * 1000

  private def eventRows: Seq[(Long, Long, Long, String, Double)] =
    // (event_id, ts_nanos, user_id, event_type, value)
    Seq(
      (0L, 0L * HourNs + 1000L, 1L, "click", 1.0),
      (1L, 0L * HourNs + 2000L, 1L, "view", 2.0),
      (2L, 0L * HourNs + 3000L, 2L, "click", 3.0),
      (3L, 1L * HourNs + 1000L, 1L, "click", 4.0),
      (4L, 2L * HourNs + 1000L, 2L, "view", 5.0))

  private def batchEvents = {
    import spark.implicits._
    eventRows.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("windowed counts: batch semantics") {
    val out = EventStream.windowedCounts(batchEvents)
      .orderBy("window_start", "event_type").collect()
    val key = out.map(r => (r.getTimestamp(0).toInstant.getEpochSecond, r.getString(1), r.getLong(2)))
    assert(key.toSeq == Seq(
      (0L, "click", 2L), (0L, "view", 1L), (3600L, "click", 1L), (7200L, "view", 1L)))
  }

  test("windowed counts: streaming over MemoryStream matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val streamDf = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")

    val query = EventStream.windowedCounts(streamDf)
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      mem.addData(eventRows: _*)
      query.processAllAvailable()
      val streamed = spark.table("win_counts")
      assertSameData(streamed, EventStream.windowedCounts(batchEvents))
    } finally query.stop()
  }

  test("sliding windows: each event in two windows; streaming matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = EventStream.slidingCounts(batchEvents)
    // every event contributes to exactly windowDuration/slide = 2 windows
    val totalN = batch.agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0)
    assert(totalN == 2L * batchEvents.count())
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val streamDf = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.slidingCounts(streamDf)
      .writeStream.format("memory").queryName("slide_counts")
      .outputMode("complete").start()
    try {
      mem.addData(eventRows: _*)
      query.processAllAvailable()
      assertSameData(spark.table("slide_counts"), batch)
    } finally query.stop()
  }

  test("stream-static join: dim-table enrichment matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the standard streaming enrichment: a static dim table joined
    // into every micro-batch (broadcast per batch, no stream state)
    val dim = Seq(("click", 1.5), ("view", 0.5)).toDF("event_type", "weight")
    def enrich(df: org.apache.spark.sql.DataFrame) =
      df.join(dim, "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(value AS DECIMAL(18,2)) * CAST(weight AS DECIMAL(18,2))"))
            .cast("double").as("weighted"))
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val streamDf = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = enrich(streamDf)
      .writeStream.format("memory").queryName("dim_join")
      .outputMode("complete").start()
    try {
      mem.addData(eventRows: _*)
      query.processAllAvailable()
      assertSameData(spark.table("dim_join"), enrich(batchEvents))
    } finally query.stop()
  }

  test("stream-stream interval join: click/view pairing matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicksRows = eventRows.filter(_._4 == "click")
    val viewsRows = eventRows.filter(_._4 == "view")
    val memC = MemoryStream[(Long, Long, Long, String, Double)]
    val memV = MemoryStream[(Long, Long, Long, String, Double)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.clickViewPairs(
      memC.toDF().toDF(cols: _*), memV.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName("cv_pairs")
      .outputMode("append").start()
    try {
      // split across two micro-batches so matches span batch boundaries
      memC.addData(clicksRows.head)
      memV.addData(viewsRows: _*)
      query.processAllAvailable()
      memC.addData(clicksRows.tail: _*)
      query.processAllAvailable()
      val batch = EventStream.clickViewPairs(
        clicksRows.toDF(cols: _*), viewsRows.toDF(cols: _*))
      val streamed = spark.table("cv_pairs")
      assert(streamed.count() > 0, "the witness data must produce pairs")
      assertSameData(streamed, batch)
    } finally query.stop()
  }

  test("dropDuplicatesWithinWatermark: re-sent events collapse to one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val streamDf = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.dedupWithinWatermark(streamDf)
      .select("event_id", "event_type")
      .writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append").start()
    try {
      mem.addData(eventRows: _*)
      query.processAllAvailable()
      mem.addData(eventRows: _*) // exact re-send in a later micro-batch
      query.processAllAvailable()
      val got = spark.table("wm_dedup").orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == eventRows.sortBy(_._1).map(r => (r._1, r._4)))
    } finally query.stop()
  }

  test("mapGroupsWithState: state accumulates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val streamDf = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")

    val query = EventStream.runningUserTotals(streamDf)
      .writeStream.format("memory").queryName("user_totals")
      .outputMode("update").start()
    try {
      mem.addData((0L, 1L, 7L, "click", 1.0), (1L, 2L, 7L, "view", 2.0))
      query.processAllAvailable()
      val b1 = spark.table("user_totals").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(b1.toSet == Set((7L, 2L, 3.0)))

      mem.addData((2L, 3L, 7L, "click", 4.0), (3L, 4L, 8L, "view", 10.0))
      query.processAllAvailable()
      val b2 = spark.table("user_totals").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // user 7's state carried over (2+1 events); user 8 is new
      assert(b2.contains((7L, 3L, 7.0)) && b2.contains((8L, 1L, 10.0)))
    } finally query.stop()
  }

  test("transformWithState: RocksDB-backed totals equal the mapGroupsWithState operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val streamDf = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.runningUserTotalsTws(streamDf)
      .writeStream.format("memory").queryName("user_totals_tws")
      .outputMode("update").start()
    try {
      mem.addData((0L, 1L, 7L, "click", 1.0), (1L, 2L, 7L, "view", 2.0))
      query.processAllAvailable()
      mem.addData((2L, 3L, 7L, "click", 4.0), (3L, 4L, 8L, "view", 10.0))
      query.processAllAvailable()
      val got = spark.table("user_totals_tws").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // same cross-batch accumulation the legacy operator's test pins
      assert(got.contains((7L, 3L, 7.0)) && got.contains((8L, 1L, 10.0)))
    } finally {
      query.stop()
      prev.fold(spark.conf.unset("spark.sql.streaming.stateStore.providerClass"))(
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    }
  }

  test("streaming dedup: first occurrence survives within and across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val streamDf = mem.toDF().toDF("doc_id", "text")
    val query = EventStream.streamingDedup(streamDf)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // batch 1: one in-batch duplicate pair (11/10 same text, lowest id wins)
      mem.addData((11L, "same text"), (10L, "same text"), (12L, "unique one"))
      query.processAllAvailable()
      val b1 = spark.table("dedup_out").collect().map(_.getLong(0)).toSet
      assert(b1 == Set(10L, 12L))

      // batch 2: cross-batch duplicate dropped, new content emitted
      mem.addData((20L, "same text"), (21L, "brand new"))
      query.processAllAvailable()
      val b2 = spark.table("dedup_out").collect().map(_.getLong(0)).toSet
      assert(b2 == Set(10L, 12L, 21L),
        s"doc 20 repeats batch-1 content and must be dropped, got $b2")
    } finally query.stop()
  }

  test("streaming CUSUM: cross-batch alarms equal the batch operator on ordered replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)]
    val query = EventStream.streamingCusum(
      mem.toDF().toDF("user_id", "ts", "value"),
      target = 10L, threshold = 5L)
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode("append").start()
    try {
      // the q252 hand case split mid-drift ACROSS the batch boundary:
      // s path 0,0,3,6(alarm),10,2,6(alarm) for user 1
      mem.addData((1L, 1L, 10L), (1L, 2L, 10L), (1L, 3L, 13L))
      query.processAllAvailable()
      mem.addData((1L, 4L, 13L), (1L, 5L, 14L), (1L, 6L, 2L), (1L, 7L, 14L),
        (2L, 1L, 9L), (2L, 2L, 9L))
      query.processAllAvailable()
      val streamed = spark.table("cusum_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == Set((1L, 4L, 6L), (1L, 7L, 6L)),
        s"cross-batch state must carry the drift, got $streamed")
      // and the batch operator on the full replay agrees
      val batch = graft.operators.TimeSeries.cusumUpcrossings(
        Seq((1L, 1L, 10L), (1L, 2L, 10L), (1L, 3L, 13L), (1L, 4L, 13L),
          (1L, 5L, 14L), (1L, 6L, 2L), (1L, 7L, 14L),
          (2L, 1L, 9L), (2L, 2L, 9L)).toDF("k", "ts", "v"),
        "k", "ts", "ts", "v", target = 10L, threshold = 5L)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(batch(1L) == 2L && batch(2L) == 0L)
    } finally query.stop()
  }

  test("streaming debounce: cross-batch throttle equals the batch operator on ordered replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val query = EventStream.streamingDebounce(
      mem.toDF().toDF("user_id", "ts"), minGap = 60L)
      .writeStream.format("memory").queryName("debounce_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 bursts (0, 30, 60, 150); user 2 single event
      mem.addData((1L, 0L), (1L, 30L), (1L, 60L), (1L, 150L), (2L, 10L))
      query.processAllAvailable()
      // batch 2: user 1 continues — 190 is < 60 after last-kept 150,
      // 220 makes it (state crossed the batch boundary); user 2 at 95
      // is 85 after 10 → kept
      mem.addData((1L, 190L), (1L, 220L), (2L, 95L))
      query.processAllAvailable()
      val streamed = spark.table("debounce_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == Set((1L, 0L), (1L, 60L), (1L, 150L), (1L, 220L),
        (2L, 10L), (2L, 95L)))
      // counts agree with the batch recurrence on the full replay
      val all = Seq((1L, 0L), (1L, 30L), (1L, 60L), (1L, 150L), (1L, 190L),
        (1L, 220L), (2L, 10L), (2L, 95L)).toDF("user_id", "ts")
      val batch = graft.operators.TimeSeries
        .debounceCounts(all, "user_id", "ts", minGap = 60L)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val perKey = streamed.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      assert(perKey == batch,
        s"stream kept $perKey but batch recurrence says $batch")
    } finally query.stop()
  }

  test("streaming debounce: kept set is invariant to the micro-batch split point") {
    // The keyed last-kept state must make the throttle a pure function
    // of the per-key ordered event sequence, however the replay is cut
    // into micro-batches. Replay one corpus split at every boundary
    // and assert the identical kept set each time.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = Seq((1L, 0L), (1L, 30L), (1L, 60L), (1L, 150L), (1L, 190L),
      (1L, 220L), (2L, 10L), (2L, 95L))
    val expected = Set((1L, 0L), (1L, 60L), (1L, 150L), (1L, 220L),
      (2L, 10L), (2L, 95L))
    for (cut <- Seq(2, 4, 6)) {
      val mem = MemoryStream[(Long, Long)]
      val name = s"debounce_split_$cut"
      val query = EventStream.streamingDebounce(
        mem.toDF().toDF("user_id", "ts"), minGap = 60L)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        mem.addData(all.take(cut): _*)
        query.processAllAvailable()
        mem.addData(all.drop(cut): _*)
        query.processAllAvailable()
        val got = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == expected, s"split at $cut kept $got")
      } finally query.stop()
    }
  }

  test("stream-static dedup gate: corpus content dropped, fresh content passes, no stream state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "known text"), (2L, "other known")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val query = EventStream.dedupAgainstCorpus(
      mem.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("anti_corpus_out")
      .outputMode("append").start()
    try {
      mem.addData((30L, "known text"), (31L, "fresh content"))
      query.processAllAvailable()
      assert(spark.table("anti_corpus_out").collect().map(_.getLong(0)).toSet
        == Set(31L))
      // The gate is stateless on the stream side: batch-2 repeats of
      // batch-1 STREAM content pass (only the static corpus filters) —
      // compose with streamingDedup for stream-self dedup.
      mem.addData((32L, "other known"), (33L, "fresh content"))
      query.processAllAvailable()
      assert(spark.table("anti_corpus_out").collect().map(_.getLong(0)).toSet
        == Set(31L, 33L))
    } finally query.stop()
  }

  test("streaming upsert sink: foreachBatch + HiveDataset.upsert converges to last-writer state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir { dir =>
      val ds = graft.sources.HiveDataset(dir + "/ds", Seq("p1"))
      val mem = MemoryStream[(String, Long, Long)]
      val query = mem.toDF().toDF("p1", "k", "v")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          ds.upsert(batch, Seq("k"))
        }
        .option("checkpointLocation", dir + "/ckpt")
        .start()
      try {
        mem.addData(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L))
        query.processAllAvailable()
        mem.addData(("a", 1L, 11L), ("b", 4L, 40L)) // update k=1, insert k=4
        query.processAllAvailable()
        val got = ds.scan().get.select($"k", $"v").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == Map(1L -> 11L, 2L -> 20L, 3L -> 30L, 4L -> 40L),
          s"streamed upserts must converge to last-writer-wins state, got $got")
      } finally query.stop()
    }
  }

  test("model-scoring seam runs unchanged on a stream; scores equal the batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "epsilon"))
    val batch = graft.operators.Scoring.scoredPairs(
      rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mem = MemoryStream[(Long, String)]
    val query = graft.operators.Scoring.scoredPairs(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("score_out")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(2): _*)
      query.processAllAvailable()
      mem.addData(rows.drop(2): _*)
      query.processAllAvailable()
      val streamed = spark.table("score_out").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch,
        "the typed-Dataset seam must score identically under Structured Streaming")
    } finally query.stop()
  }

  test("stateless curation ops (quality gate + weighted mix) run unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The stateless curation operators are pure per-row expressions +
    // a broadcast join, so the SAME calls compose with readStream —
    // streamed results must equal the batch run on identical input.
    val rows = Seq(
      (1L, "good words flow here nicely along", "web"),
      (2L, "spam spam spam spam spam spam", "web"), // repetition-gated
      (3L, "another perfectly reasonable document body", "code"),
      (4L, "short", "code"))
    val weights = Seq(("web", 1000L), ("code", 1000L)).toDF("source", "permille")
    def curate(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Mixing.weightedSample(
        graft.operators.TextOps.withRepetitionStats(df, "text")
          .where(col("dup_bigram_frac") <= 0.2)
          .select("doc_id", "text", "source"),
        "text", "source", weights)

    val batch = curate(rows.toDF("doc_id", "text", "source"))
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val mem = MemoryStream[(Long, String, String)]
    val query = curate(mem.toDF().toDF("doc_id", "text", "source"))
      .writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()
    try {
      mem.addData(rows: _*)
      query.processAllAvailable()
      val streamed = spark.table("curate_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(batch.contains(1L) && !batch.contains(2L)) // the gate actually gated
    } finally query.stop()
  }

  test("watermark drops late data in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val streamDf = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = EventStream.windowedCounts(streamDf, watermark = "2 hours")
      .writeStream.format("memory").queryName("wm_counts")
      .outputMode("append").start()
    try {
      // window [0,1h): 1 click
      mem.addData((0L, 1000L, 1L, "click", 1.0))
      query.processAllAvailable()
      // advance event time to 6h -> watermark to 4h, finalizing [0,1h)
      mem.addData((1L, 6L * HourNs, 1L, "click", 1.0))
      query.processAllAvailable()
      // LATE event for [0,1h), far behind the 4h watermark -> dropped
      mem.addData((2L, 2000L, 1L, "click", 1.0))
      query.processAllAvailable()
      val finalized = spark.table("wm_counts")
        .where(col("window_start") === new java.sql.Timestamp(0L)).collect()
      assert(finalized.length == 1 && finalized.head.getAs[Long]("n") == 1L,
        "the finalized [0,1h) window must not include the late event")
    } finally query.stop()
  }

  test("streaming append into a HiveDataset accumulates micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir { dir =>
      val ds = graft.sources.HiveDataset(s"$dir/data", Seq("event_type"))
      val mem = MemoryStream[(Long, String, Double)]
      val streamDf = mem.toDF().toDF("event_id", "event_type", "value")
      val q = EventStream.appendTo(streamDf, ds, s"$dir/ckpt")
      try {
        mem.addData((0L, "click", 1.0), (1L, "view", 2.0))
        q.processAllAvailable()
        assert(ds.scan().get.count() == 2)
        mem.addData((2L, "click", 3.0))
        q.processAllAvailable()
        val back = ds.scan().get
        assert(back.count() == 3)
        assert(back.where(col("event_type") === "click").count() == 2)
      } finally q.stop()
    }
  }

  test("exactly-once managed sink: stream lands batches; manual redelivery cannot double-append") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir { dir =>
      val ds = graft.sources.ManagedDataset(s"$dir/data", Seq("event_type"))
      val mem = MemoryStream[(Long, String, Double)]
      val streamDf = mem.toDF().toDF("event_id", "event_type", "value")
      val q = EventStream.appendToExactlyOnce(streamDf, ds, "ingest", s"$dir/ckpt")
      try {
        mem.addData((0L, "click", 1.0), (1L, "view", 2.0))
        q.processAllAvailable()
        mem.addData((2L, "click", 3.0))
        q.processAllAvailable()
        assert(ds.scan().get.count() == 3)
        val lastBatch = ds.lastCommittedBatch("ingest").get
        // simulate foreachBatch redelivery after a crash-restart: the
        // same (appId, batchId) arrives again with the same rows —
        // the log already carries it, so nothing lands
        assert(!ds.appendBatch(
          Seq((2L, "click", 3.0)).toDF("event_id", "event_type", "value"),
          "ingest", lastBatch))
        assert(ds.scan().get.count() == 3)
        assert(ds.scan().get.where(col("event_type") === "click").count() == 2)
        // CHECK constraints gate the STREAMING path too: appendBatch
        // goes through the same Delta write, so a poisoned microbatch
        // is rejected wholesale (no version, no rows) and the exactly-
        // once log is untouched — the next clean delivery of a NEW
        // batch id still lands
        ds.addConstraint("positive_value", "value > 0")
        val e = intercept[IllegalArgumentException](ds.appendBatch(
          Seq((3L, "click", -1.0)).toDF("event_id", "event_type", "value"),
          "ingest", lastBatch + 1))
        assert(e.getMessage.contains("positive_value"))
        assert(ds.scan().get.count() == 3)
        assert(ds.lastCommittedBatch("ingest").get == lastBatch)
        assert(ds.appendBatch(
          Seq((3L, "click", 4.0)).toDF("event_id", "event_type", "value"),
          "ingest", lastBatch + 1))
        assert(ds.scan().get.count() == 4)
      } finally q.stop()
    }
  }

  test("session windows: gap-based sessionization per user") {
    val out = EventStream.sessionCounts(batchEvents, gap = "30 minutes")
      .orderBy("user_id", "session_start").collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    // user 1: events at h0 (two close together) then h1 -> 2 sessions;
    // user 2: h0 and h2 -> 2 sessions.
    assert(out.toSeq == Seq((1L, 2L), (1L, 1L), (2L, 1L), (2L, 1L)))
  }

  test("stream-static enrichment: dim broadcasts; streaming matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("click", 2.0), ("view", 0.5), ("purchase", 10.0))
      .toDF("event_type", "weight")
    val batch = EventStream.enrichedWindowedTotals(batchEvents, dim)
    // plan pin: the dim side must broadcast into the stream's scan —
    // the big side is never shuffled before the stateful aggregation
    val plan = batch.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dim join must be broadcast:\n$plan")
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val streamDf = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.enrichedWindowedTotals(streamDf, dim)
      .writeStream.format("memory").queryName("enriched_totals")
      .outputMode("complete").start()
    try {
      mem.addData(eventRows: _*)
      q.processAllAvailable()
      assertSameData(spark.table("enriched_totals"), batch)
      // weighted arithmetic sanity on one cell: clicks in hour 0
      val c0 = batch.where(col("event_type") === "click" &&
        col("window_start") === org.apache.spark.sql.functions
          .timestamp_micros(lit(0L))).collect()
      assert(c0.length == 1 && c0(0).getAs[Double]("weighted_value") == 8.0)
    } finally q.stop()
  }
}
