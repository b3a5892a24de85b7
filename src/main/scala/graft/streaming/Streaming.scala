package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.contract.{Contract, EntitySpec}

/** Structured Streaming front-end for the engine.
  *
  * The reference has no streaming dataflow — its pipeline polls a landing
  * prefix for file pairs and threads per submission
  * (ref: pipeline/pipeline.py:164-196), i.e. micro-batching by files. The
  * Spark-native equivalent is a file-source stream feeding the SAME contract
  * column logic (validate + cast are pure projections, so they lift to
  * streaming unchanged), plus the streaming-only operators a training-data
  * pipeline needs: watermarked event-time aggregation and stateful
  * streaming dedup.
  */
object Streaming {

  /** Continuously ingest files appearing under `inputDir` through the data
    * contract: declared (never inferred) schema, validate + cast, typed
    * parquet out. One streaming query per entity, micro-batch = new files.
    */
  def contractStream(spark: SparkSession, inputDir: String, spec: EntitySpec,
                     format: String, outDir: String, checkpointDir: String,
                     trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(
      spec.fields.map(f => org.apache.spark.sql.types.StructField(
        f.name, org.apache.spark.sql.types.StringType)))
    val raw = format match {
      case "csv"  => spark.readStream.schema(schema).option("header", true).csv(inputDir)
      case "json" => spark.readStream.schema(schema).json(inputDir)
      case other  => throw new IllegalArgumentException(s"unsupported stream format: '$other'")
    }
    Contract.cast(raw, spec)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .start()
  }

  /** Event-time columns must be TIMESTAMP (with local time zone) for
    * watermarks; a TIMESTAMP_NTZ source column (parquet timestamp without
    * UTC adjustment) is cast session-zone-relative so the operators own the
    * contract instead of every caller. Any other type fails fast with the
    * Spark analysis error.
    */
  private def asEventTime(df: DataFrame, tsCol: String): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol, col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Watermarked event-time windowed aggregation — late data beyond the
    * watermark is dropped and state is bounded, so the aggregation runs
    * indefinitely at constant memory. `slideDuration` < `windowDuration`
    * gives overlapping (sliding) windows — each event lands in
    * window/slide windows, all epoch-aligned; `None` is tumbling.
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowDuration: String, watermarkDelay: String,
                     slideDuration: Option[String] = None): DataFrame =
    asEventTime(events, tsCol)
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(slideDuration
        .map(s => window(col(tsCol), windowDuration, s))
        .getOrElse(window(col(tsCol), windowDuration)), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("cnt").cast("bigint").as("cnt"))

  /** Streaming sessionization: gap-based session windows per key via
    * Spark's native `session_window` state-store operator. A session closes
    * (and its one aggregated row emits) once the watermark passes the
    * session end + gap, so state is bounded by the number of OPEN sessions,
    * not by history — the streaming equivalent of the batch
    * gaps-and-islands sessionizer (reference event grouping:
    * /root/reference/src/dve/core_engine/backends/implementations/spark/rules.py).
    * Scale shape: state is keyed by (key, merged-window), merges happen in
    * the state store; no per-key history is retained.
    */
  def sessionize(events: DataFrame, tsCol: String, keyCol: String,
                 gap: String, watermarkDelay: String): DataFrame =
    asEventTime(events, tsCol)
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("session_window.start").as("session_start"),
        col("n_events").cast("bigint").as("n_events"))

  /** Stream-stream interval join: left rows match right rows with the same
    * key whose event time falls in [leftTs, leftTs + within]. Both sides
    * carry watermarks, so the join state is evictable: a buffered left row
    * can be dropped once the watermark passes leftTs + within (no right row
    * can match it anymore), which is what lets the join run indefinitely at
    * bounded state — the canonical view-to-conversion attribution shape.
    *
    * Inner joins emit eagerly per micro-batch; `watermarkDelay` trades
    * state size against tolerance to cross-side disorder (a right row
    * arriving more than the delay behind the max seen event time may be
    * dropped as late). Exactness against a batch join therefore requires
    * delay >= the maximum disorder — at-scale callers size it to their
    * ingestion skew.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTsCol: String, rightTsCol: String,
                   watermarkDelay: String, within: String,
                   joinType: String = "inner"): DataFrame = {
    require(leftTsCol != rightTsCol,
      "rename the time columns apart before joining (both survive in the output)")
    require(Seq("inner", "leftouter", "left").contains(
      joinType.toLowerCase.replace("_", "")),
      s"interval join supports inner and left_outer, got '$joinType'")
    val l = asEventTime(left, leftTsCol).withWatermark(leftTsCol, watermarkDelay)
    val r = asEventTime(right, rightTsCol).withWatermark(rightTsCol, watermarkDelay)
      .withColumnRenamed(keyCol, "__rkey__")
    l.join(r,
      col(keyCol) === col("__rkey__") &&
        col(rightTsCol) >= col(leftTsCol) &&
        col(rightTsCol) <= col(leftTsCol) + expr(s"INTERVAL $within"),
      joinType)
      .drop("__rkey__")
  }

  /** LEFT OUTER variant of [[intervalJoin]]: matched rows emit eagerly per
    * micro-batch; an UNMATCHED left row emits with null right columns once
    * the watermark passes `leftTs + within` (no right row can match it
    * anymore) — the attribution shape that also reports non-converting
    * events. State bounds are identical to the inner join; the null-side
    * emission is what the watermark contract buys.
    */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame, keyCol: String,
                            leftTsCol: String, rightTsCol: String,
                            watermarkDelay: String, within: String): DataFrame =
    intervalJoin(left, right, keyCol, leftTsCol, rightTsCol,
      watermarkDelay, within, joinType = "left_outer")

  /** Streaming sink through the COMMITTED-append audit protocol: every
    * micro-batch is written via
    * [[graft.audit.Auditing.appendAuditCommitted]] (data files at final
    * unique names, a conditional-put `_commits/<writeId>` marker as the
    * commit point), so concurrent readers using `readCommitted` never see
    * a torn batch — the streaming extension of the batch pipeline's audit
    * discipline. Structured Streaming's checkpoint gives at-least-once
    * batch delivery; a replayed batch writes a NEW writeId, so consumers
    * needing exactly-once should dedup on `batch_id`, which is stamped on
    * every row here for that purpose. Rows without the audit-table
    * `updated_at` column get the batch wall-clock time (it drives the
    * table's date partitioning).
    */
  def committedSink(df: DataFrame, path: String, checkpointDir: String,
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        val stamped0 = batch.withColumn("batch_id", lit(batchId))
        val stamped =
          if (stamped0.columns.contains("updated_at")) stamped0
          else stamped0.withColumn("updated_at", current_timestamp())
        graft.audit.Auditing.appendAuditCommitted(stamped, path)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** SFT-feed front door: per-micro-batch chat-format validation. Each
    * conversation is ONE stream row (the turn array is a column), so the
    * batch [[graft.text.Conversations.validate]] applies unchanged inside
    * `foreachBatch` — its windows run within the bounded batch frame, and
    * there is NO cross-batch state (each record's validity is
    * self-contained). The per-conversation report appends with a batch_id
    * stamp for exactly-once consumers.
    */
  def chatValidateSink(stream: DataFrame, idCol: String, turnsCol: String,
                       outPath: String, checkpointDir: String,
                       trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        graft.text.Conversations.validate(batch, idCol, turnsCol)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outPath)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** CONTINUOUS-CRAWL near-dup detection: every micro-batch of incoming
    * documents is checked against a TRAINED static reference corpus with
    * one probe of a [[graft.text.Dedup.PrefixCrossIndex]] over it — the
    * operator behind the EXACT [[graft.text.Dedup.prefixFilterCrossJoin]]
    * (pairs only BETWEEN sides — batch-internal duplicate mass generates
    * none) — and the (a = new id, b = ref id, jaccard, batch_id) matches
    * append to the sink. Exactness is per pair, so the appended union over
    * micro-batches equals the batch cross join on the drained stream
    * REGARDLESS of batch boundaries (the banded minHash form's per-pair
    * miss odds would instead compound with every batch). Reference ids
    * must be unique (a duplicate fails the stream). A batch doc is novel
    * iff it has no row here —
    * downstream anti-joins on `a`. This is the streaming front door of the
    * incremental-ingest family ([[graft.text.IncrementalDedup]] is the
    * Bloom-gated exact-match sibling); `foreachBatch` because the operator
    * composes a bounded batch frame with a static frame per trigger —
    * the persistent state is the reference, not stream state.
    */
  def crossDedupSink(stream: DataFrame, reference: DataFrame,
                     idCol: String, textCol: String,
                     outPath: String, checkpointDir: String,
                     threshold: Double = 0.5,
                     trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // The reference corpus is immutable across micro-batches, so its token
    // frequencies and rare-first prefixes are derived ONCE here
    // (graft.text.Dedup.PrefixCrossIndex) — re-deriving them per batch was
    // most of the per-batch cost. The index freezes the shared token order
    // to (ref-corpus frequency, token), which the prefix-filter
    // completeness lemma accepts like any other total order.
    val index = graft.text.Dedup.buildPrefixCrossIndex(
      reference, idCol, textCol, threshold = threshold)
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        index.joinBatchWith(batch.toDF()) { pairs =>
          pairs.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outPath)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
    // release the index caches when the stream terminates (AvailableNow
    // drains finish; long-lived streams release on stop)
    stream.sparkSession.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == q.id) {
            index.release()
            stream.sparkSession.streams.removeListener(this)
          }
      })
    q
  }

  /** Streaming exact-dedup on key columns via the engine's own state-store
    * operator (`dropDuplicates` on a stream): codegen'd, no typed
    * serialization, watermark-evictable state when the caller adds
    * `withWatermark` upstream. Prefer this for plain first-row-wins dedup;
    * [[streamingDedup]] below shows the custom-state escape hatch.
    */
  /** Per-key state for [[windowSpikes]]: the last CLOSED window (start +
    * count, for adjacent-window comparison) and the still-open windows'
    * running counts. Bounded: `open` holds only windows the watermark has
    * not passed, and the whole entry evicts once even the closed window's
    * adjacent successor is beyond the watermark (at which point no future
    * window could ever see it as `prev` — eviction is semantically
    * lossless, not a trade-off).
    */
  case class SpikeState(lastStart: Long, lastCnt: Long, open: Map[Long, Long])

  case class SpikeRow(key: String, window_start: java.sql.Timestamp,
                      cnt: Long, prev_cnt: Long, spike_permille: Long)

  /** Streaming SPIKE / trend detection: tumbling per-key window counts,
    * each emitted window carrying the immediately-preceding window's count
    * and the ratio cnt*1000 div max(prev,1) — the "is this term suddenly
    * hot" primitive of crawl-frequency and abuse monitoring. A gap window
    * (no events) makes the next window's prev 0 by construction.
    *
    * Built as ONE `flatMapGroupsWithState` operator rather than a windowed
    * aggregation + self-join: append-mode windowed aggregates cannot be
    * re-windowed or lag-joined downstream in the same query (chained
    * stateful restrictions), while custom state holds exactly (last closed
    * window, open counts) per key — O(keys x open windows), watermark-
    * evicted. Windows close (emit, in ascending window order) once the
    * watermark passes their end, on the data path or on event-time
    * timeout; like the engine's other event-time operators, exactness vs
    * the batch oracle requires the watermark delay to cover cross-batch
    * disorder.
    */
  def windowSpikes(events: DataFrame, tsCol: String, keyCol: String,
                   windowMs: Long, watermarkDelay: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = asEventTime(events, tsCol).withWatermark(tsCol, watermarkDelay)
    val keyIdx = rows.schema.fieldIndex(keyCol)
    val tsIdx = rows.schema.fieldIndex(tsCol)
    rows
      .groupByKey(r => String.valueOf(r.get(keyIdx)))
      .flatMapGroupsWithState[SpikeState, SpikeRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, it: Iterator[Row], state: GroupState[SpikeState]) =>
          val st = if (state.exists) state.get
                   else SpikeState(Long.MinValue, 0L, Map.empty)
          var open = st.open
          it.foreach { r =>
            val ts = r.getTimestamp(tsIdx)
            if (ts != null) {
              val win = Math.floorDiv(ts.getTime, windowMs) * windowMs
              open = open.updated(win, open.getOrElse(win, 0L) + 1L)
            }
          }
          val wm = state.getCurrentWatermarkMs()
          val closable = open.keys.filter(_ + windowMs <= wm).toSeq.sorted
          var (lastStart, lastCnt) = (st.lastStart, st.lastCnt)
          val out = closable.map { win =>
            val cnt = open(win)
            val prev = if (win - windowMs == lastStart) lastCnt else 0L
            lastStart = win; lastCnt = cnt
            SpikeRow(key, new java.sql.Timestamp(win), cnt, prev,
              cnt * 1000L / math.max(prev, 1L))
          }
          open = open -- closable
          if (open.nonEmpty) {
            state.update(SpikeState(lastStart, lastCnt, open))
            state.setTimeoutTimestamp(math.max(open.keys.min + windowMs, wm + 1))
          } else if (lastStart != Long.MinValue && wm <= lastStart + 2 * windowMs) {
            // adjacent successor still reachable: keep the closed count
            // around for its prev, timeout at the point that stops being true
            state.update(SpikeState(lastStart, lastCnt, Map.empty))
            state.setTimeoutTimestamp(math.max(lastStart + 2 * windowMs, wm + 1))
          } else if (state.exists) {
            state.remove()
          }
          out.iterator
      }.toDF()
  }

  def streamingDedupExact(rows: DataFrame, keyCols: String*): DataFrame =
    rows.dropDuplicates(keyCols)

  /** The ENGINE-NATIVE bounded-state variant: Spark's
    * `dropDuplicatesWithinWatermark` keeps a key's state only until the
    * watermark passes its first-seen event time plus the watermark delay,
    * so on an unbounded key space (crawl URLs, event ids) the store stays
    * O(keys within the horizon) — the production-scale shape of streaming
    * dedup, where plain `dropDuplicates` state grows without bound. A
    * duplicate arriving after its key's state expired re-emits (the same
    * dedup-within-window contract as [[streamingDedup]]'s custom-state
    * formulation — this is the operator to prefer when the horizon rule
    * "expiry measured from FIRST-seen" fits). `rows` must carry
    * `withWatermark` on its event-time column.
    */
  def streamingDedupWithinWatermark(rows: DataFrame, keyCols: String*): DataFrame =
    rows.dropDuplicatesWithinWatermark(keyCols)

  /** Stateful streaming exact-dedup with BOUNDED state: the first row per
    * key within `horizonMs` of its event time passes; duplicates inside the
    * horizon drop. State is evicted by `EventTimeTimeout` once the
    * watermark passes firstSeen + horizon, so on an unbounded key space the
    * store only ever holds keys seen within the horizon, and a duplicate
    * arriving after the horizon re-emits (the dedup-within-window contract,
    * same shape as `dropDuplicatesWithinWatermark`). The input MUST carry
    * `withWatermark(tsCol, ...)` — EventTimeTimeout requires it.
    *
    * Timeout only fires for groups with no incoming data, so the data path
    * also checks expiry (watermark past firstSeen + horizon) — otherwise a
    * post-horizon duplicate arriving before the timeout invocation would be
    * wrongly suppressed. Kept as the custom-state pattern (arbitrary
    * per-key logic); for plain dedup use [[streamingDedupExact]].
    */
  def streamingDedup(rows: DataFrame, keyCol: String, tsCol: String,
                     horizonMs: Long): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val encoder = org.apache.spark.sql.Encoders.row(rows.schema)
    val keyIdx = rows.schema.fieldIndex(keyCol)
    val tsIdx = rows.schema.fieldIndex(tsCol)
    rows
      .groupByKey(r => String.valueOf(r.get(keyIdx)))
      .flatMapGroupsWithState[Long, Row](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, it: Iterator[Row], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove() // watermark passed firstSeen + horizon: evict
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            val expired = state.exists && wm > state.get + horizonMs
            if (state.exists && !expired) Iterator.empty
            else if (!it.hasNext) Iterator.empty
            else {
              val first = it.next() // later rows in the same batch drop too
              // null event time (dirty input rows reach the state function
              // unfiltered): such a row has no position in event time, so
              // anchor its horizon at processing time — bounded state when
              // the watermark tracks wall clock, and no NPE killing the
              // whole streaming query (callers replaying old event times
              // should filter null-ts rows upstream)
              val tsVal = first.getTimestamp(tsIdx)
              val ts = if (tsVal == null) state.getCurrentProcessingTimeMs() else tsVal.getTime
              state.update(ts)
              // timeout may never be set earlier than the current watermark
              state.setTimeoutTimestamp(math.max(ts + horizonMs, wm + 1))
              Iterator.single(first)
            }
          }
      }(implicitly[org.apache.spark.sql.Encoder[Long]], encoder)
  }
}
