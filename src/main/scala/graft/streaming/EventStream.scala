package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming operators over the events schema
  * (event_id, ts, user_id, event_type, value).
  *
  * New capability beyond the reference (polario has no streaming —
  * SURVEY.md §2.8); expressed as plain DataFrame transforms so the
  * SAME function works on a batch frame and a `readStream` frame —
  * Spark's unified-batch/stream contract. Watermarking bounds state:
  * windows older than the watermark are finalized and evicted, which
  * is what makes the aggregation runnable indefinitely at scale.
  */
/** Output row of [[EventStream.runningUserTotals]]. */
case class UserTotal(user_id: Long, n: Long, sum_value: Double)

/** Output row of [[EventStream.streamingDedup]]. */
case class DedupDoc(doc_id: Long, text: String)

/** Output row of [[EventStream.streamingDebounce]]. */
case class KeptEvent(user_id: Long, ts: Long)

/** Keyed state of [[EventStream.streamingCusum]]: prefix sum, running
  * min (with the 0 baseline), and the previous statistic value. */
case class CusumState(p: Long, m: Long, prevS: Long)

/** Output row of [[EventStream.streamingCusum]]: an alarm —
  * the statistic `s` UPCROSSED the threshold at `ts`. */
case class CusumAlarm(user_id: Long, ts: Long, s: Long)

/** Per-user running totals as a Spark-4 `StatefulProcessor`: one
  * typed `ValueState[UserTotal]` per key, folded with each
  * micro-batch's rows and re-emitted (update mode). TTL is NONE here
  * (entity space = users, bounded); an unbounded key space passes
  * `TTLConfig(Duration)` instead — state eviction without custom
  * timer code, the API's advantage over `mapGroupsWithState`. */
class UserTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), UserTotal] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var totals: ValueState[UserTotal] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[UserTotal](
      "totals", Encoders.product[UserTotal], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                               timerValues: TimerValues): Iterator[UserTotal] = {
    val prev = if (totals.exists()) totals.get() else UserTotal(key, 0L, 0.0)
    val updated = rows.foldLeft(prev) { case (acc, (_, v)) =>
      UserTotal(key, acc.n + 1, acc.sum_value + v)
    }
    totals.update(updated)
    Iterator.single(updated)
  }
}

object EventStream {

  /** Normalize an events frame whose `ts` is bigint *nanoseconds*
    * (the driver's parquet layout read via nanosAsLong) to a proper
    * timestamp column `event_time`. */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("event_time", timestamp_micros(expr("ts div 1000")))

  /** Tumbling-window counts/sums per event type with a watermark for
    * late data. Works identically on batch and streaming frames. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Stream–static enrichment: join the (possibly streaming) event
    * frame against a BROADCAST dimension keyed on `event_type`
    * (carrying a `weight` column), then windowed weighted totals —
    * the standard "score the firehose against a small reference
    * table" shape. The dim side broadcasts, so the stream is never
    * shuffled before its stateful aggregation; works identically on
    * batch and streaming inputs (Spark supports stream–static inner
    * joins natively). `EventStreamSpec` pins stream == batch AND the
    * broadcast plan shape. */
  def enrichedWindowedTotals(events: DataFrame, dim: DataFrame,
                             window_ : String = "1 hour",
                             watermark: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .join(broadcast(dim), Seq("event_type"))
      .groupBy(window(col("event_time"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value") * col("weight")).as("weighted_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("weighted_value"))

  /** SLIDING-window counts/sums per event type (each event lands in
    * `window / slide` windows — Spark's TimeWindow explode handles
    * the fan-out in both batch and streaming; q105 witnesses the
    * batch form against the oracle, `EventStreamSpec` pins
    * stream == batch). */
  def slidingCounts(events: DataFrame, window_ : String = "2 hours",
                    slide: String = "1 hour",
                    watermark: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Running per-user totals with CUSTOM state
    * (`mapGroupsWithState`): the escape hatch for stateful logic the
    * built-in windows can't express. State is one small record per
    * user (bounded by entity cardinality, not event volume); each
    * micro-batch folds its new events into the state and emits the
    * updated total. Use `GroupStateTimeout` eviction when the entity
    * space is unbounded. */
  def runningUserTotals(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.Dataset[UserTotal] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), UserTotal](GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          var (n, s) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          UserTotal(user, n, s)
      }
  }

  /** Streaming exact dedup: emit only the FIRST occurrence of each
    * content digest across ALL micro-batches — the streaming
    * counterpart of `DedupOps.incrementalDedup` (the "dedup each new
    * crawl against everything accepted so far" flow, but continuous).
    *
    * State is one marker per distinct digest (bounded by distinct
    * content, not event volume); within a batch the lowest id wins,
    * deterministically. At 100 TB the state store is RocksDB-backed
    * and partitioned by digest — the same one-shuffle-on-digest shape
    * as the batch operator. For unbounded corpora add a
    * `GroupStateTimeout` TTL and pair with a compacted at-rest digest
    * table (re-admitting content older than the TTL is the standard
    * recall/state tradeoff). */
  def streamingDedup(docs: DataFrame,
                     idCol: String = "doc_id",
                     textCol: String = "text")
      : org.apache.spark.sql.Dataset[DedupDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    docs
      .select(col(idCol).cast("long"), col(textCol), md5(col(textCol)))
      .as[(Long, String, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[Boolean, DedupDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val first = rows.minBy(_._1)
            Iterator(DedupDoc(first._1, first._2))
          }
      }
  }

  /** Streaming per-key debounce (throttle): emit an event only if at
    * least `minGap` (in `tsCol` units) elapsed since the previously
    * KEPT event of the same key — the continuous face of
    * [[graft.operators.TimeSeries.debounceCounts]] (same
    * keep-depends-on-last-keep recurrence, same `>=` gap rule), with
    * the last-kept timestamp carried in keyed state across
    * micro-batches. Rows inside a batch are sorted per key before
    * folding; cross-batch equality with the batch operator holds when
    * batches arrive in timestamp order per key (the replay/ingest
    * case — out-of-order arrivals would need watermarked buffering,
    * a different operator). State is one long per key. */
  def streamingDebounce(events: DataFrame, minGap: Long,
                        keyCol: String = "user_id",
                        tsCol: String = "ts")
      : org.apache.spark.sql.Dataset[KeptEvent] = {
    require(minGap >= 1, "minGap must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col(keyCol).cast("long"), col(tsCol).cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, KeptEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val sorted = rows.map(_._2).toArray.sorted
          var last = state.getOption.getOrElse(Long.MinValue)
          val kept = Array.newBuilder[KeptEvent]
          sorted.foreach { t =>
            if (last == Long.MinValue || t - last >= minGap) {
              kept += KeptEvent(key, t)
              last = t
            }
          }
          if (last != Long.MinValue) state.update(last)
          kept.result().iterator
      }
  }

  /** Continuous CUSUM drift alarms — the streaming face of
    * [[graft.operators.TimeSeries.cusumUpcrossings]]: per key the
    * tiny `(P, min, prevS)` state carries Page's no-reset recurrence
    * across micro-batches, and an alarm row is emitted exactly when
    * the statistic UPCROSSES the threshold — identical to the batch
    * operator's alarms on ordered replay (spec-pinned). Rows inside
    * a micro-batch are folded in (ts) order; per-key state is three
    * longs, so an unbounded key space streams indefinitely. */
  def streamingCusum(events: DataFrame, target: Long, threshold: Long,
                     keyCol: String = "user_id", tsCol: String = "ts",
                     valueCol: String = "value")
      : org.apache.spark.sql.Dataset[CusumAlarm] = {
    require(threshold >= 1, "threshold must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col(keyCol).cast("long"), col(tsCol).cast("long"),
        expr(s"CAST($valueCol AS BIGINT)"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumAlarm](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val sorted = rows.toArray.sortBy(r => (r._2, r._3))
          var st = state.getOption.getOrElse(CusumState(0L, 0L, 0L))
          val out = Array.newBuilder[CusumAlarm]
          sorted.foreach { case (_, ts, v) =>
            val p = st.p + (v - target)
            val m = math.min(st.m, math.min(p, 0L))
            val s = p - m
            if (s >= threshold && st.prevS < threshold)
              out += CusumAlarm(key, ts, s)
            st = CusumState(p, m, s)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming dedup gate against an AT-REST corpus: drop incoming
    * docs whose content digest already exists in the static corpus —
    * the streaming face of [[graft.operators.DedupOps.incrementalDedup]]
    * (batch-vs-corpus) for continuous ingest.
    *
    * Shape: a stream-static LEFT ANTI join on the md5 digest. The
    * static side is re-planned every micro-batch (Spark's
    * stream-static contract), so a corpus that grows between batches
    * is honored without restarting the query, and a broadcast-sized
    * digest set never shuffles the stream. The stream side keeps NO
    * state — this gate does not dedup the stream against itself
    * (doc 2 repeating doc 1's text from an earlier BATCH passes);
    * compose with [[streamingDedup]] downstream for that half. */
  def dedupAgainstCorpus(docs: DataFrame, corpus: DataFrame,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val withDigest = docs.withColumn("__digest", md5(col(textCol)))
    val corpusDigests = corpus.select(md5(col(textCol)).as("__digest")).distinct()
    withDigest.join(corpusDigests, Seq("__digest"), "left_anti").drop("__digest")
  }

  /** Continuous ingest into a Hive-partitioned dataset: each
    * micro-batch APPENDS to the dataset (the reference's at-rest
    * `append` semantics — hive_dataset.py:417-420 — driven by a
    * stream). foreachBatch gives exactly the dataset-layer write path;
    * checkpointing provides at-least-once delivery (appends are
    * re-run on recovery — pair with dedup downstream or exactly-once
    * sinks where required). */
  def appendTo(events: org.apache.spark.sql.DataFrame,
               dataset: graft.sources.DatasetLike,
               checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        dataset.append(batch)
      }
      .start()

  /** EXACTLY-ONCE continuous ingest into a [[graft.sources.ManagedDataset]]:
    * each micro-batch commits through [[graft.sources.ManagedDataset.appendBatch]]
    * tagged `(appId, batchId)`, so the redelivery `foreachBatch`
    * performs after a checkpoint restart (the at-least-once caveat
    * [[appendTo]] documents) is detected in the Delta log and
    * skipped before any data lands — the batch tag rides the SAME
    * atomic commit as the data as a SetTransaction action, the
    * public Delta `txnAppId`/`txnVersion` sink recipe. `appId` must
    * be unique per logical query (two queries sharing an id would
    * suppress each other's batches). */
  def appendToExactlyOnce(events: org.apache.spark.sql.DataFrame,
                          dataset: graft.sources.ManagedDataset,
                          appId: String,
                          checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        dataset.appendBatch(batch, appId, batchId); ()
      }
      .start()

  /** [[runningUserTotals]] re-expressed on Spark 4's
    * `transformWithState` API ([[UserTotalsProcessor]]): typed
    * per-key `ValueState` with first-class TTL support and RocksDB
    * state backing (the production store for billions of keys —
    * `mapGroupsWithState`'s whole-state-in-memory model is the thing
    * this API replaces). `EventStreamSpec` pins its output equal to
    * the legacy operator's across micro-batches. Requires
    * `spark.sql.streaming.stateStore.providerClass =
    * ...RocksDBStateStoreProvider`. */
  def runningUserTotalsTws(events: DataFrame)
      : org.apache.spark.sql.Dataset[UserTotal] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserTotalsProcessor,
        TimeMode.None(), OutputMode.Update(), Encoders.product[UserTotal])
  }

  /** Watermarked STREAM-STREAM interval join: each click paired with
    * the same user's views inside `[click − gap, click + gap]` — the
    * attribution/conversion-pairing shape. Both sides carry
    * watermarks and the join predicate bounds the time skew, so each
    * side buffers only `watermark + gap` of state (Spark evicts
    * older rows); an unbounded-state stream-stream join is the
    * classic streaming scale-killer this operator's shape avoids.
    * Inner joins emit eagerly on match — the spec pins
    * stream == batch on the same frames. */
  def clickViewPairs(clicks: DataFrame, views: DataFrame,
                     gap: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame = {
    val c = withEventTime(clicks).withWatermark("event_time", watermark)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("event_time").as("click_time"))
    val v = withEventTime(views).withWatermark("event_time", watermark)
      .select(col("event_id").as("view_id"), col("user_id").as("__vu"),
        col("event_time").as("view_time"))
    c.join(v,
      col("user_id") === col("__vu") &&
        col("view_time") >= col("click_time") - expr(s"INTERVAL $gap") &&
        col("view_time") <= col("click_time") + expr(s"INTERVAL $gap"))
      .select(col("click_id"), col("view_id"), col("user_id"),
        col("click_time"), col("view_time"))
  }

  /** Built-in watermark-bounded streaming dedup
    * (`dropDuplicatesWithinWatermark` on `event_id`): state holds
    * only keys younger than the watermark — the bounded-state
    * alternative to [[streamingDedup]]'s keep-forever digest (which
    * guarantees global uniqueness but grows with corpus size).
    * Duplicates arriving within the watermark horizon are dropped;
    * re-sends older than it are the documented recall tradeoff. */
  def dedupWithinWatermark(events: DataFrame,
                           watermark: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Session windows per user (gap-based), via Spark's native
    * session_window — state is per active session and evicted at
    * watermark, the scalable shape for per-entity sessionization. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))
}
