package graft.harness

import graft.streaming.{Drain, EventsStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface (SURVEY.md §2.9). The reference is
  * batch-only (sentinel-file pipelines between export and index
  * tasks); this is the Spark-native analogue: file streams run to
  * completion, each through [[graft.streaming.Drain]].
  */
object StreamQueries {
  type Q = (SparkSession, String) => DataFrame

  // near-dedup LSH geometry — kept identical to DedupQueries'
  // batch minhash (N/K/BANDS) so the stream flags the same buckets
  private val NearN = 5
  private val NearK = 16
  private val NearBands = 8
  // streaming CUSUM: known-target reference level (micros), drift
  // allowance k, alarm threshold h — per-user means span ~33..70
  // units here, so target+drift = 55 units splits the population
  private val CusumTarget = 50000000L
  private val CusumDrift = 5000000L
  private val CusumThreshold = 200000000L

  /** Schema for streaming query vectors off the staged embeddings
    * inbox (file streams need an explicit schema). */
  private val embStreamSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("embedding",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)),
    org.apache.spark.sql.types.StructField("label",
      org.apache.spark.sql.types.IntegerType)))

  /** One persisted ANN index per (JVM, sf): the write-side build runs
    * once and every stream_ann_search drain serves against it — the
    * index lives on disk (drainDir cleans at JVM exit), so child
    * sessions and repeated drains all reuse the same artifact.
    */
  private val annIx =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def annIndexDir(s: SparkSession, d: String): String =
    annIx.computeIfAbsent(d, _ => {
      val dir = Drain.drainDir("graft-annix-") + "/index"
      graft.sources.VectorIndex.build(graft.Tables.embeddings(s, d),
        "vec_id", "embedding", nCells = 8, outDir = dir)
      dir
    })

  val queries: Map[String, Q] = Map(
    // Watermark + 1h tumbling window over the events file stream,
    // drained into a memory sink. The value sum runs
    // in exact decimal (double sum order is nondeterministic across
    // partitions) and renders as double, matching the oracle.
    "stream_window_counts" -> ((s, d) => {
      val agg = EventsStream
        .windowedCounts(EventsStream.readStream(Drain.streamSession(s), d))
        .select(
          date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("event_type"), col("n"), col("total_value"))
      Drain.memory(s, "stream_window_counts", agg, "complete")
    }),

    // Streaming dedup: dropDuplicates keyed on event_id with a
    // watermark bounding the dedup state — the streaming form of
    // exact dedup (state evicts beyond the watermark horizon).
    "stream_dedup" -> ((s, d) => {
      val agg = EventsStream.readStream(Drain.streamSession(s), d)
        .withWatermark("ts", "2 hours")
        .dropDuplicates("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_unique"))
      Drain.memory(s, "stream_dedup", agg, "complete")
    }),

    // Within-watermark streaming dedup: dropDuplicatesWithinWatermark
    // keeps the FIRST arrival per key and — unlike dropDuplicates —
    // expires each key's state one watermark delay after that first
    // arrival, so the state store is bounded by the key cardinality
    // of a sliding horizon instead of the whole stream's history (the
    // right primitive when keys repeat forever, e.g. content hashes).
    // The key is (event_type, event_id mod 1000), a genuinely
    // colliding content key; counting per type is key-deterministic
    // even though WHICH colliding row survives depends on arrival
    // order. The oracle (COUNT DISTINCT over the whole stream) is
    // only batch-layout independent if no key's state expires before
    // the drain finishes — a 2h delay would re-count recurring keys
    // under any multi-batch split — so the gated instance pins the
    // delay beyond the generator's full 30-day event span; a
    // production deployment tunes the delay to its dedup horizon and
    // accepts re-counts past it (that IS the primitive's contract).
    "stream_dropdup_watermark" -> ((s, d) => {
      val agg = EventsStream.readStream(Drain.streamSession(s), d)
        .withColumn("dup_key", pmod(col("event_id"), lit(1000L)))
        .withWatermark("ts", "45 days")
        .dropDuplicatesWithinWatermark("event_type", "dup_key")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_keys"))
      Drain.memory(s, "stream_dropdup_watermark", agg, "complete")
    }),

    // Stream-stream interval join: click->purchase attribution per
    // user within 6 hours. Both sides carry watermarks so the join
    // state is BOUNDED — Spark evicts buffered clicks once the
    // purchase-side watermark passes c_ts + 6h (without the time bound
    // + watermarks, stream-stream join state grows forever; this is
    // the only formulation that survives an unbounded stream).
    "stream_join" -> ((s, d) => {
      val sess = Drain.streamSession(s)
      // BANDED stream-stream interval join: the state store keys on
      // the EQUALITY columns only, so joining on user_id alone
      // buffers a hot user's whole history under one state key and
      // every arriving click scans all of it — quadratic in the hot
      // key (sf1z zipf rehearsal: 4.9 -> 186.6 s on a user holding
      // 7% of the stream). Bucketing event time at the window width
      // into the equi-key makes state and probes per (user, 6h band):
      // a purchase can only match clicks from its own or the previous
      // band, so the click side explodes to the two candidate bands —
      // floor((p_ts - c_ts)/W) ∈ {0, 1} when p-c ∈ [0, W] — and each
      // (click, purchase) pair still matches on EXACTLY one band (the
      // purchase's own). Identical rows out, the batch oracle is
      // unchanged; hot-key probe work drops from O(history²) to
      // O(history × band density). The same rewrite as the batch
      // interval family's join_interval_binned (RelOps.scala:60),
      // applied to streaming state.
      val bandUs = 6L * 3600 * 1000000
      val clicks = EventsStream.readStream(sess, d)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
        .withColumn("c_band", explode(array(
          floor(unix_micros(col("c_ts")) / bandUs),
          floor(unix_micros(col("c_ts")) / bandUs) + 1)))
      val buys = EventsStream.readStream(sess, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
        .withColumn("p_band", floor(unix_micros(col("p_ts")) / bandUs))
      val joined = clicks.join(buys,
        col("c_user") === col("p_user") &&
          col("c_band") === col("p_band") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 6 HOURS"))
      // parquet-sink drain, not the memory sink: the join's output is
      // click×in-window-purchase pairs — a hot user makes it millions
      // of rows (the sf1z zipf check tripped a 300 MB driver task on
      // the memory sink's collect+re-parallelize handoff), and the
      // file sink keeps result rows executor→storage
      Drain.parquet(s, "stream_join", joined
        .select(col("click_id"), col("purchase_id"),
          col("c_user").as("user_id"),
          date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts")))
    }),

    // Streaming NEAR-dedup (graft.streaming.NearDedup): per-row HOF
    // MinHash signatures, LSH band keys exploded, then a stateful
    // first-seen-wins per-bucket pass — one shuffle, one long of state
    // per bucket. The drain delivers one batch, which is
    // why the DuckDB oracle (global per-bucket MIN) matches exactly;
    // NearDedupReplaySpec pins the multi-batch semantics (cross-batch
    // first-seen-wins, TTL-bounded state). Drained through a PARQUET
    // sink, not the memory sink: near-dedup output at corpus scale is
    // large, and the file-sink path keeps result rows executor→storage
    // without ever passing through driver memory.
    "stream_near_dedup" -> ((s, d) => {
      val sess = Drain.streamSession(s)
      import sess.implicits._
      val bands = graft.streaming.NearDedup.bandKeys(
        graft.streaming.DocsStream.readStream(sess, d),
        NearN, NearK, NearBands)
      val pairs = graft.streaming.NearDedup.flagPairs(bands.as[(Long, Long)])
      // a doc collides with the same representative in several bands
      Drain.parquet(s, "stream_near_dedup", pairs).distinct()
    }),

    // Streaming windowed top-k (graft.streaming.StreamTopK): one
    // SpaceSaving summary per open hour-window held as
    // flatMapGroupsWithState state — k counters per window, never the
    // key universe. Every batch re-emits the window's current top-5
    // tagged with the processed total, so the drain dedupes exactly
    // with max-n_processed-per-window (StreamTopKSpec pins the
    // multi-batch/restart semantics). Keys are user_id mod 99 — 99
    // distinct keys per window, far under capacity 4096, so the
    // sketch runs in its provably exact regime and the oracle pins
    // the true counts (and err = 0).
    "stream_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sess = Drain.streamSession(s)
      import sess.implicits._
      val events = EventsStream.readStream(sess, d)
        .select(unix_micros(date_trunc("hour", col("ts"))).as("window_us"),
          pmod(col("user_id"), lit(99L)).cast("string").as("key"))
        .as[graft.streaming.StreamTopK.KeyedEvent]
      val topk = graft.streaming.StreamTopK
        .topkStream(events, capacity = 4096, topN = 5)
      Drain.memory(s, "stream_topk", topk.toDF(), "append")
        .withColumn("mx", max(col("n_processed")).over(
          Window.partitionBy(col("window_us"))))
        .filter(col("n_processed") === col("mx"))
        .select(
          date_format(timestamp_micros(col("window_us")),
            "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("rank").as("rk"), col("key"), col("est").as("n"), col("err"))
    }),

    // The DEPLOYABLE windowed top-k (graft.streaming.StreamTopK
    // .topkStreamTtl): same per-window SpaceSaving summary as
    // stream_topk, but state carries an EVENT-TIME TTL past the
    // watermark — the shape the 200-batch StateSoak proved bounded
    // (one sketch per window ever opened vs ~the lateness horizon).
    // Under the drain the TTL (90 days, beyond the corpus's 30-day
    // event span) never fires, so the oracle is the exact batch
    // answer — the gate proves the TTL plumbing (watermark wiring,
    // timeout scheduling, timed-out-group short-circuit) changes
    // nothing inside the horizon; what it trades OUTSIDE the horizon
    // (late data re-seeds an empty sketch) is pinned by StreamTopKSpec
    // and the soak.
    "stream_topk_ttl" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sess = Drain.streamSession(s)
      import sess.implicits._
      val events = EventsStream.readStream(sess, d)
        .select(unix_micros(date_trunc("hour", col("ts"))).as("window_us"),
          pmod(col("user_id"), lit(99L)).cast("string").as("key"),
          col("ts"))
        .withWatermark("ts", "1 hour")
        .as[graft.streaming.StreamTopK.TimedEvent]
      val topk = graft.streaming.StreamTopK.topkStreamTtl(events,
        capacity = 4096, topN = 5,
        ttl = scala.concurrent.duration.Duration(90, "days"))
      Drain.memory(s, "stream_topk_ttl", topk.toDF(), "append")
        .withColumn("mx", max(col("n_processed")).over(
          Window.partitionBy(col("window_us"))))
        .filter(col("n_processed") === col("mx"))
        .select(
          date_format(timestamp_micros(col("window_us")),
            "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("rank").as("rk"), col("key"), col("est").as("n"), col("err"))
    }),

    // Streaming funnel: the window_funnel cascade carried as
    // per-user flatMapGroupsWithState state (streaming/Funnel.scala —
    // running min view + the candidate clicks/purchases that could
    // still qualify under any future t1; everything past t1+W is
    // dropped, so state holds at most the pre-first-view prefix plus
    // one window of events). Replay-exact under ANY batch split —
    // the drained answer is oracle-gated against the same SQL as the
    // batch funnel; FunnelReplaySpec pins split-independence.
    "stream_funnel" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sess = Drain.streamSession(s)
      import sess.implicits._
      val dayUs = 86400000000L
      val events = EventsStream.readStream(sess, d)
        .select(col("user_id"), col("event_type").as("etype"),
          unix_micros(col("ts")).as("us"))
        .as[graft.streaming.Funnel.FunnelEvent]
      val funnel = graft.streaming.Funnel.funnelStream(events, dayUs)
      Drain.memory(s, "stream_funnel", funnel.toDF(), "append")
        .withColumn("mx", max(col("n_processed")).over(
          Window.partitionBy(col("user_id"))))
        .filter(col("n_processed") === col("mx"))
        .select(col("user_id"),
          date_format(timestamp_micros(col("t1")), "yyyy-MM-dd HH:mm:ss")
            .as("first_view"),
          date_format(timestamp_micros(col("t2")), "yyyy-MM-dd HH:mm:ss")
            .as("first_click"),
          date_format(timestamp_micros(col("t3")), "yyyy-MM-dd HH:mm:ss")
            .as("first_purchase"),
          (lit(1) + when(col("t2").isNotNull, 1).otherwise(0) +
            when(col("t3").isNotNull, 1).otherwise(0)).as("depth"))
    }),

    // Streaming cohort retention: per-user active-day sets as
    // flatMapGroupsWithState state (streaming/Retention.scala — state
    // is bounded by DISTINCT active days, and each batch re-emits the
    // user's full cohort row, so a late earlier day re-bases day0
    // exactly like the funnel's t1). Drain = max-n_processed dedup per
    // user, offset explode, then the same (cohort, offset) distinct-
    // user rollup as the batch query — oracle-gated against the
    // window_retention SQL.
    "stream_retention" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sess = Drain.streamSession(s)
      import sess.implicits._
      val events = EventsStream.readStream(sess, d)
        .select(col("user_id"), unix_date(to_date(col("ts"))).as("epoch_day"))
        .as[graft.streaming.Retention.DayEvent]
      val ret = graft.streaming.Retention.retentionStream(events)
      Drain.memory(s, "stream_retention", ret.toDF(), "append")
        .withColumn("mx", max(col("n_processed")).over(
          Window.partitionBy(col("user_id"))))
        .filter(col("n_processed") === col("mx"))
        .select(col("user_id"), col("day0"),
          explode(col("offsets")).as("offset"))
        .groupBy(col("day0"), col("offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(date_format(date_from_unix_date(col("day0")), "yyyy-MM-dd")
          .as("cohort"), col("offset"), col("n_users"))
    }),

    // Streaming CUSUM monitor (streaming/Cusum.scala): the tabular
    // known-target form of window_cusum's detector run incrementally —
    // SIX longs of state per user (S, alarms, events, plus the
    // order watermark lastUs/lastEid and its n_violations counter),
    // exact integer micros per step, each batch re-emitting the
    // current summary under the max-n_processed drain contract. The
    // oracle replays the identical trajectory through the batch prefix identity
    // S_t = P_t − min(0, running_min(P)) and aggregates per user.
    "stream_cusum" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sess = Drain.streamSession(s)
      import sess.implicits._
      val events = EventsStream.readStream(sess, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          floor(col("value") * lit(1e6) + lit(0.5)).cast("long").as("vu"))
        .as[graft.streaming.Cusum.CusumEvent]
      val out = graft.streaming.Cusum.cusumStream(events,
        CusumTarget, CusumDrift, CusumThreshold)
      Drain.memory(s, "stream_cusum", out.toDF(), "append")
        .withColumn("mx", max(col("n_processed")).over(
          Window.partitionBy(col("user_id"))))
        .filter(col("n_processed") === col("mx"))
        .select(col("user_id"), col("n_processed"), col("s_micro"),
          col("n_alarms"))
    }),

    // Streaming CDC apply — the online MERGE: the events changelog
    // streams in as keyed upsert/delete ops ('error' = tombstone),
    // per-key O(1) state keeps the winning op under the
    // (ts, event_id) total order (streaming/CdcApply.scala), and the
    // drain is the live final table — exactly what a batch
    // latest-wins MERGE over the full changelog produces, which is
    // the oracle. Replay-exact under any batch split/arrival order:
    // the winner is a max over a total order (associative,
    // commutative, idempotent), re-emitted whole each batch.
    "stream_cdc_apply" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sess = Drain.streamSession(s)
      import sess.implicits._
      val ops = EventsStream.readStream(sess, d)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("value"),
          (col("event_type") === "error").as("delete"))
        .as[graft.streaming.CdcApply.CdcOp]
      val applied = graft.streaming.CdcApply.applyStream(ops)
      Drain.memory(s, "stream_cdc_apply", applied.toDF(), "append")
        .withColumn("mx", max(col("n_processed")).over(
          Window.partitionBy(col("user_id"))))
        .filter(col("n_processed") === col("mx"))
        .filter(!col("deleted"))
        .select(col("user_id"),
          date_format(timestamp_micros(col("us")), "yyyy-MM-dd HH:mm:ss")
            .as("last_ts"),
          col("event_id").as("last_event_id"), col("value"))
    }),

    // Streaming serving: QUERY VECTORS arrive as a file stream and are
    // answered per micro-batch against the PERSISTED IVF-int8 index
    // (sources/VectorIndex — cell-partitioned parquet + centroid
    // sidecar) via foreachBatch. Per-query results are independent, so
    // the drained union over any batch split equals the batch search —
    // the oracle is textually THE SAME SQL as ann_int8_ivf_topk
    // (VectorIndexSpec separately pins persisted == in-memory). This is
    // the online half of the serving story: index built once
    // (write-side), queries stream against it (read-side,
    // partition-pruned probes only).
    "stream_ann_search" -> ((s, d) => {
      // the persisted index builds ONCE per (JVM, sf) — that is the
      // serving contract (write-side build, read-side streams), and
      // the bench charges the build to the named warm_stream_frames
      // preamble row instead of whichever drain runs first
      val ixDir = annIndexDir(s, d)
      val qs = Drain.streamSession(s).readStream.schema(embStreamSchema)
        .parquet(graft.streaming.FileInbox.stage(d, "embeddings"))
        .filter(col("vec_id") < 50)
      Drain.foreachBatch(s, "stream_ann_search", qs)(batch =>
        graft.sources.VectorIndex.search(batch.sparkSession, ixDir,
          batch, "vec_id", "embedding", nprobe = 2, k = 5))
    }),

    // Streaming serving END-TO-END: query vectors stream in and each
    // micro-batch runs the full two-stage serve against the SAME
    // persisted artifact stream_ann_search probes — int8-IVF
    // shortlist (k=25, partition-pruned probes over stored codes) +
    // exact double-L2 re-rank of only the shortlisted pairs to top-5
    // (sources/VectorIndex.searchRerank; ann_pq_rerank's serving
    // twin). Per-query results are independent, so the drained union
    // over any batch split equals the batch composition the oracle
    // states. RetrievalPipeline runs the same stage on its own
    // artifact and gauges recall.
    "stream_ann_rerank" -> ((s, d) => {
      val ixDir = annIndexDir(s, d)
      val qs = Drain.streamSession(s).readStream.schema(embStreamSchema)
        .parquet(graft.streaming.FileInbox.stage(d, "embeddings"))
        .filter(col("vec_id") < 50)
      Drain.foreachBatch(s, "stream_ann_rerank", qs)(batch =>
        graft.sources.VectorIndex.searchRerank(batch.sparkSession, ixDir,
          batch, "vec_id", "embedding",
          graft.Tables.embeddings(batch.sparkSession, d),
          nprobe = 2, shortK = 25, k = 5))
    }),

    // Custom stateful streaming: gap sessionization per user via
    // flatMapGroupsWithState over the events file stream, drained to
    // completion (30-minute gap; timestamps as exact micros).
    "stream_sessionize" -> ((s, d) => {
      val sess = Drain.streamSession(s)
      import sess.implicits._
      val events = EventsStream.readStream(sess, d)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .as[graft.streaming.Sessionize.SessionEvent]
      val sessions = graft.streaming.Sessionize.sessionize(events, gapMinutes = 30)
      // parquet-sink drain, not the memory sink: sessions are
      // near-1:1 with events on a sparse stream (2.86M rows at sf3),
      // and the file sink keeps them executor->storage instead of
      // collect()ing the whole result through driver memory twice
      // supersession dedup: each batch re-emits the still-open session
      // (same user+start, end/n grown monotonically), so a multi-batch
      // drain's sink holds provisional prefixes of the final row. Keep
      // the max per (user, start) — a no-op for a single batch (one
      // user's sessions never share a start), exact for in-order
      // batches (SessionizeReplaySpec pins it).
      Drain.parquet(s, "stream_sessionize", sessions.toDF())
        .groupBy(col("user_id"), col("start_us"))
        .agg(max(col("end_us")).as("end_us"),
          max(col("n_events")).as("n_events"))
        .select(col("user_id"),
        date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(timestamp_micros(col("end_us")), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"),
        col("n_events"))
    })
  )

  val oracle: Map[String, String] = Map(
    "stream_window_counts" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
                event_type, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",
    "stream_dedup" ->
      """SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
         FROM events GROUP BY event_type""",
    "stream_dropdup_watermark" ->
      """SELECT event_type, COUNT(DISTINCT event_id % 1000) AS n_keys
         FROM events GROUP BY event_type""",
    "stream_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id,
                a.user_id,
                strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
                strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
         FROM events a JOIN events b
           ON a.user_id = b.user_id
          AND a.event_type = 'click' AND b.event_type = 'purchase'
          AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR""",
    "stream_near_dedup" -> {
      import graft.ops.TextOps
      val minhashCols = TextOps.minhashParams(NearK).zipWithIndex
        .map { case ((a, b), i) =>
          s"MIN(($a * s + $b) % ${TextOps.MinhashP}) AS h${i + 1}" }
        .mkString(", ")
      val bandList = (0 until NearBands)
        .map(b => s"'$b:' || md5(CAST(h${2 * b + 1} AS VARCHAR) || " +
          s"CAST(h${2 * b + 2} AS VARCHAR))").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents
                        WHERE len(string_split(text,' ')) >= $NearN),
          sh AS (SELECT DISTINCT doc_id,
                        ('0x' || substr(md5(array_to_string(t[i:i+${NearN - 1}],' ')), 1, 13))::BIGINT AS s
                 FROM toks, UNNEST(range(1, len(t)-${NearN - 2})) AS u(i)),
          sig AS (SELECT doc_id, $minhashCols FROM sh GROUP BY doc_id),
          bands AS (SELECT doc_id, unnest([$bandList]) AS bk FROM sig),
          b2 AS (SELECT bk, MIN(doc_id) AS rep FROM bands GROUP BY bk)
          SELECT DISTINCT a.doc_id AS dup_id, b2.rep AS rep_id
          FROM bands a JOIN b2 USING (bk) WHERE a.doc_id > b2.rep"""
    },
    // textually the batch composition's oracle: the streamed search
    // must equal it under any batch split (per-query independence)
    "stream_ann_search" -> VectorQueries.oracle("ann_int8_ivf_topk"),
    // the streamed two-stage serve: the int8-IVF CTEs produce the
    // shortlist (rk <= 25), the exact double-L2 re-rank (same
    // list_reduce fold order as the Spark zip_with pair, 6dp round)
    // keeps the top-5 — textually ann_pq_rerank's rerank stage over
    // ann_int8_ivf_topk's candidates
    "stream_ann_rerank" ->
      s"""WITH ${VectorQueries.int8IvfCtes},
          short AS (SELECT qid, vec_id FROM i8rank WHERE rk <= 25),
          rq AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 50),
          rr AS (SELECT short.qid, short.vec_id,
                        round(list_reduce(list_transform(
                          range(1, ${VectorQueries.Dim + 1}),
                          i -> (qv[i]-v[i])*(qv[i]-v[i])), (x,y) -> x+y), 6)
                          AS dd
                 FROM short JOIN rq ON short.qid = rq.qid
                            JOIN e ON short.vec_id = e.vec_id)
          SELECT qid, vec_id, dd,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY dd, vec_id) AS INT) AS rk
          FROM rr QUALIFY rk <= 5""",
    "stream_topk" ->
      """WITH k AS (SELECT date_trunc('hour', ts) AS w,
                           CAST(user_id % 99 AS VARCHAR) AS key
                    FROM events),
          c AS (SELECT w, key, COUNT(*) AS n FROM k GROUP BY w, key),
          r AS (SELECT w, key, n,
                       CAST(row_number() OVER (PARTITION BY w
                         ORDER BY n DESC, key) AS INT) AS rk
                FROM c)
          SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS w_start, rk, key, n,
                 CAST(0 AS BIGINT) AS err
          FROM r WHERE rk <= 5""",
    // the TTL shape drains to the same exact answer (the 90-day TTL
    // sits beyond the corpus's event span, so no window evicts)
    "stream_topk_ttl" ->
      """WITH k AS (SELECT date_trunc('hour', ts) AS w,
                           CAST(user_id % 99 AS VARCHAR) AS key
                    FROM events),
          c AS (SELECT w, key, COUNT(*) AS n FROM k GROUP BY w, key),
          r AS (SELECT w, key, n,
                       CAST(row_number() OVER (PARTITION BY w
                         ORDER BY n DESC, key) AS INT) AS rk
                FROM c)
          SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS w_start, rk, key, n,
                 CAST(0 AS BIGINT) AS err
          FROM r WHERE rk <= 5""",
    // the streaming retention drains to the BATCH answer — textually
    // the same oracle as window_retention
    "stream_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
          f AS (SELECT user_id, MIN(day) AS day0 FROM e GROUP BY user_id)
          SELECT strftime(day0, '%Y-%m-%d') AS cohort,
                 CAST(date_diff('day', day0, day) AS INT) AS offset,
                 CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
          FROM e JOIN f USING (user_id)
          GROUP BY day0, date_diff('day', day0, day)""",
    // the streaming CUSUM drains to the batch prefix-identity replay
    "stream_cusum" ->
      s"""WITH b AS (SELECT user_id, event_id, ts,
                            CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vu
                     FROM events),
          x AS (SELECT user_id, event_id, ts,
                       vu - ${CusumTarget + CusumDrift} AS x
                FROM b),
          p AS (SELECT user_id, event_id, ts,
                       CAST(SUM(x) OVER fr AS BIGINT) AS p
                FROM x WINDOW fr AS (PARTITION BY user_id
                  ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          r AS (SELECT user_id, event_id, p,
                       MIN(p) OVER fr AS pmin,
                       row_number() OVER (PARTITION BY user_id
                         ORDER BY ts DESC, event_id DESC) AS rn
                FROM p WINDOW fr AS (PARTITION BY user_id
                  ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          sv AS (SELECT user_id,
                        p - least(CAST(0 AS BIGINT), pmin) AS s, rn
                 FROM r)
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_processed,
                 MAX(CASE WHEN rn = 1 THEN s END) AS s_micro,
                 CAST(SUM(CASE WHEN s > $CusumThreshold THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_alarms
          FROM sv GROUP BY user_id""",
    // the streaming CDC apply drains to the batch latest-wins MERGE
    "stream_cdc_apply" ->
      """WITH r AS (SELECT user_id, ts, event_id, value, event_type,
                           row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rk
                    FROM events)
          SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
                 event_id AS last_event_id, value
          FROM r WHERE rk = 1 AND event_type <> 'error'""",
    // the streaming funnel drains to the BATCH answer — textually the
    // same oracle as window_funnel
    "stream_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
                    FROM events),
          t1 AS (SELECT user_id, MIN(us) AS t1 FROM e
                 WHERE event_type = 'view' GROUP BY user_id),
          t2 AS (SELECT e.user_id, MIN(us) AS t2
                 FROM e JOIN t1 USING (user_id)
                 WHERE event_type = 'click' AND us > t1
                   AND us <= t1 + 86400000000 GROUP BY e.user_id),
          t3 AS (SELECT e.user_id, MIN(us) AS t3
                 FROM e JOIN t1 USING (user_id) JOIN t2 USING (user_id)
                 WHERE event_type = 'purchase' AND us > t2
                   AND us <= t1 + 86400000000 GROUP BY e.user_id)
          SELECT t1.user_id,
                 strftime(make_timestamp(t1), '%Y-%m-%d %H:%M:%S')
                   AS first_view,
                 strftime(make_timestamp(t2), '%Y-%m-%d %H:%M:%S')
                   AS first_click,
                 strftime(make_timestamp(t3), '%Y-%m-%d %H:%M:%S')
                   AS first_purchase,
                 CAST(1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
                        + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END
                      AS INT) AS depth
          FROM t1 LEFT JOIN t2 USING (user_id)
                  LEFT JOIN t3 USING (user_id)""",
    "stream_sessionize" ->
      """WITH l AS (SELECT user_id, ts,
                           CASE WHEN lag(ts) OVER w IS NULL
                                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                                THEN 1 ELSE 0 END AS brk
                    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           g AS (SELECT user_id, ts,
                        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
                 FROM l)
         SELECT user_id,
                strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                COUNT(*) AS n_events
         FROM g GROUP BY user_id, sid"""
  )
}
