package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.contract.{EntitySpec, FieldSpec}
import graft.streaming.Streaming

/** Correctness queries for the Structured Streaming front-end. Each runs a
  * real streaming query to completion with an AvailableNow trigger (all
  * present files as micro-batches, then stop) and returns the materialized
  * result — so the driver's DuckDB oracle checks the STREAMING lineage, not
  * a batch stand-in.
  *
  * Landing fixtures are sf-derived and immutable, so they are built ONCE
  * per sf dir (Fixtures.ensure; also pre-built by SparkEntry
  * .prepareFixtures outside bench timing) — the r8 bench was paying a
  * landing re-encode plus a max-timestamp action on every rep of every
  * streaming query, which is fixture cost, not streaming-operator cost.
  * The out/ckpt dirs still reset per run: the stream under test always
  * executes from a cold checkpoint.
  */
object StreamingQueries {

  private def localFs(s: SparkSession) =
    org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)

  /** Reset the run-scoped outputs (sink + checkpoint), keep the landing. */
  private def resetOut(s: SparkSession, base: String): Unit = {
    val fs = localFs(s)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/out"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/ckpt"), true)
  }

  private def runToParquet(df: DataFrame, base: String): Unit = {
    val q = df.writeStream
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def stream(s: SparkSession, path: String): DataFrame =
    s.readStream.schema(s.read.parquet(path).schema).parquet(path)

  /** (ts, event_type, user_id) events plus one far-future sentinel row
    * (event_type '___sentinel___', user_id -1): the sentinel advances the
    * watermark 2 hours past the data's max event time so append-mode
    * windows/sessions all flush before AvailableNow stops. Shared by the
    * window, sliding-window and session queries — one build, one schema.
    */
  private def eventsSentinelFixture(s: SparkSession, dir: String): String = {
    val landing = "/tmp/graft_stream_events_sentinel/landing"
    Fixtures.ensure(landing, dir) {
      val events = CoreQueries.loadEvents(s, dir)
        .select(col("ts"), col("event_type"), col("user_id"))
      // cast in-plan so the fixture timestamps are session-zone independent
      // of the source encoding (LTZ / NTZ / int64-nanos)
      val maxTs = events.agg(max(col("ts")).cast("timestamp")).head().getTimestamp(0)
      val sentinel = new java.sql.Timestamp(maxTs.getTime + 2 * 3600 * 1000L)
      events.unionByName(
          s.createDataFrame(
            java.util.List.of(org.apache.spark.sql.Row(sentinel, "___sentinel___", -1L)),
            events.schema))
        .coalesce(math.max(2, Fixtures.writeParts(s, s"$dir/events.parquet")))
        .write.mode("overwrite").parquet(landing)
    }
    landing
  }

  private def contractFixture(s: SparkSession, dir: String): String = {
    val landing = "/tmp/graft_q_stream_contract/landing"
    Fixtures.ensure(landing, dir) {
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").cast("string"), col("o_orderpriority").cast("string"),
          col("o_totalprice").cast("string"))
        .coalesce(math.max(2, Fixtures.writeParts(s, s"$dir/orders.parquet")))
        .write.mode("overwrite").json(landing)
    }
    landing
  }

  private def dedupFixture(s: SparkSession, dir: String): String = {
    val landing = "/tmp/graft_q_stream_dedup/landing"
    Fixtures.ensure(landing, dir) {
      s.read.parquet(s"$dir/lineitem.parquet").select(col("l_orderkey"))
        .coalesce(math.max(2, Fixtures.writeParts(s, s"$dir/lineitem.parquet")))
        .write.mode("overwrite").parquet(landing)
    }
    landing
  }

  private def enrichFixture(s: SparkSession, dir: String): String = {
    val landing = "/tmp/graft_q_stream_enrich/landing"
    Fixtures.ensure(landing, dir) {
      CoreQueries.loadEvents(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .coalesce(math.max(2, Fixtures.writeParts(s, s"$dir/events.parquet")))
        .write.mode("overwrite").parquet(landing)
    }
    landing
  }

  private def joinFixture(s: SparkSession, dir: String): String = {
    val landing = "/tmp/graft_q_stream_join/landing"
    Fixtures.ensure(landing, dir) {
      val events = CoreQueries.loadEvents(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      events.where(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
        .coalesce(math.max(2, Fixtures.writeParts(s, s"$dir/events.parquet")))
        .write.mode("overwrite").parquet(s"$landing/views")
      events.where(col("event_type") === "purchase")
        .select(col("user_id").as("user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
        .coalesce(math.max(2, Fixtures.writeParts(s, s"$dir/events.parquet")))
        .write.mode("overwrite").parquet(s"$landing/purchases")
    }
    landing
  }

  private def joinOuterFixture(s: SparkSession, dir: String): String = {
    val landing = "/tmp/graft_q_stream_join_outer/landing"
    Fixtures.ensure(landing, dir) {
      val events = CoreQueries.loadEvents(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val maxTs = events.agg(max(col("ts")).cast("timestamp")).head().getTimestamp(0)
      val sentinel = new java.sql.Timestamp(maxTs.getTime + 2 * 3600 * 1000L)
      def side(tpe: String, tsName: String, idName: String, sentinelUid: Long): Unit =
        events.where(col("event_type") === tpe)
          .select(col("user_id"), col("ts").as(tsName), col("event_id").as(idName))
          .unionByName(s.createDataFrame(
            java.util.List.of(org.apache.spark.sql.Row(sentinelUid, sentinel, -1L)),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("user_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField(tsName,
                org.apache.spark.sql.types.TimestampType),
              org.apache.spark.sql.types.StructField(idName,
                org.apache.spark.sql.types.LongType)))))
          // single file per side is a SEMANTIC choice (one landing unit
          // carrying data + watermark sentinel), not a scale artifact: each
          // side is a type-filtered slice of events
          .coalesce(1).write.mode("overwrite").parquet(s"$landing/$tpe")
      side("view", "view_ts", "view_id", -1L)
      side("purchase", "purchase_ts", "purchase_id", -2L)
    }
    landing
  }

  private def chatStreamFixture(s: SparkSession, dir: String): String = {
    val landing = "/tmp/graft_q_stream_chat_validate/landing"
    Fixtures.ensure(landing, dir) {
      LlmQueries.chatFixture(s, dir)
        .coalesce(math.max(2, Fixtures.writeParts(s, s"$dir/documents.parquet")))
        .write.mode("overwrite").parquet(landing)
    }
    landing
  }

  private def crossDedupFixture(s: SparkSession, dir: String): String = {
    val landing = "/tmp/graft_q_stream_cross_dedup/landing"
    Fixtures.ensure(landing, dir) {
      // repartition, not coalesce: coalesce cannot INCREASE partition count,
      // so a small source collapsed the landing to ONE file and the "stream"
      // ran as a single micro-batch — the multi-batch exactness claim was
      // never exercised. Three files minimum gives >= 3 real batches with
      // maxFilesPerTrigger below.
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .where(pmod(col("doc_id"), lit(3)) =!= 0)
        .repartition(math.max(3, Fixtures.writeParts(s, s"$dir/documents.parquet")))
        .write.mode("overwrite").parquet(landing)
    }
    landing
  }

  /** Landing builders, exposed so Bench's prepareFixtures pre-pays them
    * outside the timed loop (each is also ensured in its query — fixture
    * construction is never part of the operator under test).
    */
  val fixtures: Seq[(SparkSession, String) => Unit] = Seq(
    (s, dir) => { eventsSentinelFixture(s, dir); () },
    (s, dir) => { contractFixture(s, dir); () },
    (s, dir) => { dedupFixture(s, dir); () },
    (s, dir) => { enrichFixture(s, dir); () },
    (s, dir) => { joinFixture(s, dir); () },
    (s, dir) => { joinOuterFixture(s, dir); () },
    (s, dir) => { crossDedupFixture(s, dir); () },
    (s, dir) => { chatStreamFixture(s, dir); () })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // File-source stream -> contract cast -> parquet sink, then read back.
    // Semantics must equal the batch contract cast of the same rows.
    "q_stream_contract" -> ((s, dir) => {
      val base = "/tmp/graft_q_stream_contract"
      val landing = contractFixture(s, dir)
      resetOut(s, base)
      val spec = EntitySpec("orders", Seq(
        FieldSpec("o_orderkey", "long"), FieldSpec("o_orderpriority", "str"),
        FieldSpec("o_totalprice", "double")))
      val q = Streaming.contractStream(s, landing, spec, "json",
        s"$base/out", s"$base/ckpt")
      q.awaitTermination()
      s.read.parquet(s"$base/out")
    }),

    // Watermarked event-time window counts over the events table, streamed
    // from parquet files with AvailableNow; result equals the batch
    // tumbling-window aggregation. Append mode only emits a window once the
    // watermark passes its end, so the fixture's sentinel event 2 hours
    // past the data's max timestamp flushes every real window before the
    // stream stops (the sentinel's own window is excluded on read-back).
    "q_stream_window" -> ((s, dir) => {
      val base = "/tmp/graft_q_stream_window"
      val landing = eventsSentinelFixture(s, dir)
      resetOut(s, base)
      val agg = Streaming.windowedCounts(
        stream(s, landing).select(col("ts"), col("event_type")),
        "ts", "event_type", "1 hour", "1 minute")
      runToParquet(agg, base)
      s.read.parquet(s"$base/out").where(col("event_type") =!= "___sentinel___")
    }),

    // SLIDING-window streaming counts: 1-hour windows every 15 minutes —
    // each event lands in exactly 4 epoch-aligned windows; same sentinel
    // flush discipline as q_stream_window.
    "q_stream_window_sliding" -> ((s, dir) => {
      val base = "/tmp/graft_q_stream_window_sliding"
      val landing = eventsSentinelFixture(s, dir)
      resetOut(s, base)
      val agg = Streaming.windowedCounts(
        stream(s, landing).select(col("ts"), col("event_type")),
        "ts", "event_type", "1 hour", "1 minute", slideDuration = Some("15 minutes"))
      runToParquet(agg, base)
      s.read.parquet(s"$base/out").where(col("event_type") =!= "___sentinel___")
    }),

    // Streaming spike detection: custom-state tumbling window counts with
    // each emitted window carrying its adjacent predecessor's count and
    // the cnt/prev ratio. Same sentinel flush; the sentinel's own open
    // window never emits and its key is filtered on read-back.
    "q_stream_spikes" -> ((s, dir) => {
      val base = "/tmp/graft_q_stream_spikes"
      val landing = eventsSentinelFixture(s, dir)
      resetOut(s, base)
      val spikes = Streaming.windowSpikes(
        stream(s, landing).select(col("ts"), col("event_type")),
        "ts", "event_type", windowMs = 3600L * 1000L, watermarkDelay = "1 minute")
      runToParquet(spikes, base)
      s.read.parquet(s"$base/out").where(col("key") =!= "___sentinel___")
        .select(col("key").as("event_type"), col("window_start"),
          col("cnt"), col("prev_cnt"), col("spike_permille"))
    }),

    // Streaming exact-dedup through the state-store dropDuplicates
    // operator: only the first row per key passes. Output restricted to
    // the key so the result is arrival-order independent — the surviving
    // key SET equals batch DISTINCT. (The flatMapGroupsWithState
    // custom-state variant is covered in StreamingSpec.)
    "q_stream_dedup" -> ((s, dir) => {
      val base = "/tmp/graft_q_stream_dedup"
      val landing = dedupFixture(s, dir)
      resetOut(s, base)
      val deduped = Streaming.streamingDedupExact(stream(s, landing), "l_orderkey")
      runToParquet(deduped, base)
      s.read.parquet(s"$base/out")
    }),

    // BOUNDED-STATE streaming dedup: dropDuplicatesWithinWatermark — the
    // production-scale operator whose state a key only occupies until the
    // watermark passes first-seen + delay (plain dropDuplicates grows
    // without bound on an unbounded key space). With the delay spanning
    // the dataset nothing expires mid-run, so the surviving key set equals
    // batch DISTINCT — the streamed lineage is what's under test; the
    // eviction/re-emission contract is spec'd in StreamingSpec.
    "q_stream_dedup_watermark" -> ((s, dir) => {
      val base = "/tmp/graft_q_stream_dedup_watermark"
      val landing = eventsSentinelFixture(s, dir)
      resetOut(s, base)
      val deduped = Streaming.streamingDedupWithinWatermark(
        stream(s, landing).select(col("ts"), col("user_id"))
          .withWatermark("ts", "365 days"), "user_id")
        .select(col("user_id"))
      runToParquet(deduped, base)
      s.read.parquet(s"$base/out").where(col("user_id") =!= -1L)
    }),

    // STREAMING sessionization: session_window aggregation with a
    // watermark — gap-based sessions close and emit once the watermark
    // passes; must equal the batch gaps-and-islands result (the fixture's
    // sentinel event flushes the final sessions, its own row excluded on
    // read-back).
    "q_stream_sessions" -> ((s, dir) => {
      val base = "/tmp/graft_q_stream_sessions"
      val landing = eventsSentinelFixture(s, dir)
      resetOut(s, base)
      val agg = Streaming.sessionize(
        stream(s, landing).select(col("ts"), col("user_id")),
        "ts", "user_id", gap = "10 minutes", watermarkDelay = "1 minute")
        .select(col("user_id"), col("session_start"), col("n_events"))
      runToParquet(agg, base)
      s.read.parquet(s"$base/out").where(col("user_id") =!= -1L)
    }),

    // Stream-static enrichment: the streaming side joins a static dimension
    // (broadcast per micro-batch, no state store) — the standard dimension
    // lookup inside a streaming pipeline.
    "q_stream_enrich" -> ((s, dir) => {
      val base = "/tmp/graft_q_stream_enrich"
      val landing = enrichFixture(s, dir)
      resetOut(s, base)
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val st = stream(s, landing)
      val enriched = st.join(broadcast(dim), st("user_id") === dim("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_name"),
          col("c_nationkey").cast("bigint").as("c_nationkey"))
      runToParquet(enriched, base)
      s.read.parquet(s"$base/out")
    }),

    // Stream-stream interval join (view -> purchase attribution within 30
    // minutes, per user). Both sides stream from files; the watermark delay
    // spans the dataset so no row is late-dropped and the streamed result
    // equals the batch interval join exactly (production sizes the delay to
    // its ingestion skew instead — see Streaming.intervalJoin).
    "q_stream_join" -> ((s, dir) => {
      val base = "/tmp/graft_q_stream_join"
      val landing = joinFixture(s, dir)
      resetOut(s, base)
      val joined = Streaming.intervalJoin(
        stream(s, s"$landing/views"), stream(s, s"$landing/purchases"), "user_id",
        "view_ts", "purchase_ts", watermarkDelay = "365 days", within = "30 minutes")
        .select(col("user_id"), col("view_id"), col("purchase_id"))
      runToParquet(joined, base)
      s.read.parquet(s"$base/out")
    }),

    // Continuous-crawl near-dup detection: streamed new docs checked per
    // micro-batch against the static trained reference (exact prefix-filter
    // cross join between sides only). With AvailableNow draining every
    // file, the appended pair set equals the batch cross-dedup exactly —
    // the oracle is the same exact cross-pairs SQL as q_dedup_cross.
    // Per-micro-batch chat validation: a streaming SFT feed's records are
    // self-contained rows, so the batch validator runs per batch with no
    // stream state; result equals the batch q_chat_validate exactly.
    "q_stream_chat_validate" -> ((s, dir) => {
      val base = "/tmp/graft_q_stream_chat_validate"
      val landing = chatStreamFixture(s, dir)
      resetOut(s, base)
      val q = Streaming.chatValidateSink(stream(s, landing), "doc_id", "turns",
        s"$base/out", s"$base/ckpt")
      q.awaitTermination()
      s.read.parquet(s"$base/out").drop("batch_id")
    }),

    "q_stream_cross_dedup" -> ((s, dir) => {
      val base = "/tmp/graft_q_stream_cross_dedup"
      val landing = crossDedupFixture(s, dir)
      resetOut(s, base)
      val reference = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .where(pmod(col("doc_id"), lit(3)) === 0)
      // Run as ~3 micro-batches at ANY scale (maxFilesPerTrigger bounds an
      // AvailableNow batch): exercises the operator's per-pair-exact
      // "appended union == batch answer regardless of batch boundaries"
      // claim for real — a single drain-everything batch never splits the
      // stream side — while the batch count stays fixed as the fixture's
      // file count grows with sf. The reference-side index is built once
      // (Dedup.PrefixCrossIndex), so extra batches cost probes, not
      // reference re-derivations.
      val nFiles = Option(new java.io.File(landing).listFiles())
        .map(_.count(f => f.getName.startsWith("part-"))).getOrElse(1)
      val perTrigger = math.max(1, nFiles / 3)
      val src = s.readStream.schema(s.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", perTrigger).parquet(landing)
      val q = Streaming.crossDedupSink(src, reference,
        "doc_id", "text", s"$base/out", s"$base/ckpt")
      q.awaitTermination()
      s.read.parquet(s"$base/out").select(col("a"), col("b"), col("jaccard"))
    }),

    // LEFT OUTER stream-stream interval join: converting views match
    // eagerly, non-converting views emit with null purchase columns once
    // the watermark passes view_ts + 30min. All real rows land in ONE file
    // per stream (exact inner matches need no cross-batch tolerance) with
    // a far-future sentinel on BOTH streams in the same file: the
    // post-batch watermark advance triggers the no-data batch that flushes
    // every unmatched real view. The sentinels themselves stay in state
    // (watermark never passes them) and are filtered on read-back.
    "q_stream_join_outer" -> ((s, dir) => {
      val base = "/tmp/graft_q_stream_join_outer"
      val landing = joinOuterFixture(s, dir)
      resetOut(s, base)
      val joined = Streaming.intervalJoinLeftOuter(
        stream(s, s"$landing/view"), stream(s, s"$landing/purchase"), "user_id",
        "view_ts", "purchase_ts", watermarkDelay = "1 minute", within = "30 minutes")
        .select(col("user_id"), col("view_id"), col("purchase_id"))
      runToParquet(joined, base)
      s.read.parquet(s"$base/out").where(col("user_id") >= 0L)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_stream_contract" ->
      "SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders",
    // tumbling 1-hour windows on the microsecond-truncated timestamp;
    // AvailableNow processes everything, and append mode emits each closed
    // window exactly once, so the streamed result equals the batch group-by
    "q_stream_window" ->
      ("SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start, " +
        "event_type, count(1)::BIGINT AS cnt FROM events GROUP BY 1, 2"),
    // each event falls in the 4 epoch-aligned hour windows whose starts
    // are its 15-minute bucket minus 0..3 slides
    "q_stream_window_sliding" ->
      ("SELECT time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP)) " +
        "- k.range * INTERVAL 15 MINUTE AS window_start, " +
        "event_type, count(1)::BIGINT AS cnt " +
        "FROM events CROSS JOIN range(4) k GROUP BY 1, 2"),
    "q_stream_dedup" ->
      "SELECT DISTINCT l_orderkey FROM lineitem",
    // adjacent-window self-join: prev = the count of the window exactly
    // one hour earlier (0 when that window had no events)
    "q_stream_spikes" ->
      ("WITH c AS (SELECT event_type, time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start, " +
        "count(1)::BIGINT AS cnt FROM events GROUP BY 1, 2) " +
        "SELECT c.event_type, c.window_start, c.cnt, " +
        "coalesce(p.cnt, 0)::BIGINT AS prev_cnt, " +
        "((c.cnt * 1000) // greatest(coalesce(p.cnt, 0), 1))::BIGINT AS spike_permille " +
        "FROM c LEFT JOIN c p ON p.event_type = c.event_type " +
        "AND p.window_start = c.window_start - INTERVAL 1 HOUR"),
    // identical result contract to the batch operator: same exact
    // cross-pairs oracle (AvailableNow drains all files into the join)
    "q_stream_cross_dedup" -> LlmQueries.oracleSql("q_dedup_cross"),
    // the stream is the batch validator per micro-batch: identical oracle
    "q_stream_chat_validate" -> LlmQueries.oracleSql("q_chat_validate"),
    // delay spans the dataset: nothing expires, survivors = DISTINCT keys
    // (sentinel user filtered on read-back)
    "q_stream_dedup_watermark" ->
      "SELECT DISTINCT user_id FROM events",
    "q_stream_sessions" ->
      ("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events), " +
        "m AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL " +
        "OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
        "s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT user_id, min(ts) AS session_start, count(1)::BIGINT AS n_events " +
        "FROM s GROUP BY user_id, sid"),
    "q_stream_enrich" ->
      ("SELECT e.event_id, e.user_id, c.c_name, " +
        "CAST(c.c_nationkey AS BIGINT) AS c_nationkey " +
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey"),
    "q_stream_join" ->
      ("SELECT l.user_id, l.event_id AS view_id, r.event_id AS purchase_id " +
        "FROM events l JOIN events r ON l.event_type = 'view' " +
        "AND r.event_type = 'purchase' AND l.user_id = r.user_id " +
        "AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE"),
    "q_stream_join_outer" ->
      ("WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'), " +
        "p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') " +
        "SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id " +
        "FROM v LEFT JOIN p ON v.user_id = p.user_id " +
        "AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE")
  )
}
