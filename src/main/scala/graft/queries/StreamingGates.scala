package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.Scratch
import graft.model.Tables
import graft.streaming.Streams

/** Driver-gated Structured Streaming queries: each runs a real streaming
  * query (file source → watermarked stateful op → parquet sink,
  * `Trigger.AvailableNow`) and returns the landed result, gated against a
  * BATCH oracle restricted to what streaming semantics make terminal:
  *
  *  - append-mode windows are emitted only once the final watermark
  *    (max event time − lateness) passes the window end;
  *  - event-time-timeout sessions close only once the watermark passes
  *    last-event + gap.
  *
  * This is the batch-equivalence law for watermarked streams: the streamed
  * output must equal the batch computation filtered to closed state — an
  * exact, engine-independent predicate the DuckDB oracle can mirror.
  */
object StreamingGates extends QueryModule {

  private val gapMs = 1800000L // 30 min session gap (matches ev2)

  /** Stage the (nanos-normalized) events table as a file-stream source and
    * return (sourceDir, outDir, checkpointDir).
    */
  private def stage(s: SparkSession, dir: String): (String, String, String) = {
    val in = Scratch.fresh("stream-src")
    Tables.load(s, dir, "events").write.mode("overwrite").parquet(in)
    (in, Scratch.fresh("stream-out"), Scratch.fresh("stream-ck"))
  }

  /** Start a streaming query under the CLUSTER-PROFILE state seams and
    * block until it terminates (every gate here runs Trigger.AvailableNow,
    * so termination is the staged input's exhaustion). Two runtime confs,
    * both read at the query's FIRST batch and then pinned into its
    * checkpoint — which is exactly why they must be conf seams and never
    * local constants (VERDICT r14 #6):
    *
    *  - `graft.stream.statePartitions`: state-store partition count (the
    *    `spark.sql.shuffle.partitions` a stateful query's first batch
    *    sees). Locally the default (core count) stands so the bench series
    *    stays comparable; a cluster sizes it to executors × cores — state
    *    partitions are the unit of both state parallelism AND state-store
    *    instances, so too few serializes, too many multiplies per-batch
    *    store open/commit overhead.
    *  - `graft.stream.stateStore` ("rocksdb" or a provider class name):
    *    swaps the default HDFS-backed provider, which holds every state
    *    row on the executor HEAP, for RocksDB's off-heap/spilling store —
    *    the 100 TB posture where watermark-bounded state still exceeds
    *    executor memory. Local default untouched (measured locally:
    *    RocksDB adds per-batch store-open cost and wins nothing at test
    *    state sizes — see OPTIMIZATION_r15.md).
    *
    * Both overrides are restored after termination so the BATCH work
    * around the stream (staging writes, final reads) and every later query
    * keep the session's planning envelope. `sink` is the configured
    * writer; this starts it under `Trigger.AvailableNow`.
    */
  private def runStream(s: SparkSession)(
      sink: => DataStreamWriter[_]): Unit = {
    val sp = s.conf.getOption("graft.stream.statePartitions")
      .filter(_.nonEmpty)
    val prov = s.conf.getOption("graft.stream.stateStore")
      .filter(_.nonEmpty).map {
        case "rocksdb" => "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider"
        case other => other
      }
    graft.Sessions.withConf(s)(
        sp.map("spark.sql.shuffle.partitions" -> _).toSeq ++
          prov.map("spark.sql.streaming.stateStore.providerClass" -> _): _*) {
      sink.trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
  }

  val defs: Seq[QueryDef] = Seq(

    // Streaming tumbling-window counts ≡ batch hourly agg over windows the
    // final watermark closed (window end <= max(ts) - lateness).
    QueryDef("ev3_stream_window", Some("""
      WITH mx AS (SELECT max(ts) AS m FROM events),
      agg AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2)
      SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_s,
             cnt, sum_value
      FROM agg, mx
      WHERE h + INTERVAL 1 HOUR <= m - INTERVAL 1 HOUR
      ORDER BY event_type, hour_s"""),
      bench = true) { (s, dir) =>
      val (in, out, ck) = stage(s, dir)
      runStream(s) { Streams.parquetSink(Streams.windowedCounts(
          Streams.readEventStream(s, in), "1 hour", "1 hour"),
        out, ck) }
      s.read.parquet(out)
        .select(col("event_type"),
          date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("hour_s"),
          col("cnt"), col("sum_value"))
        .orderBy("event_type", "hour_s")
    },

    // Sliding windows (2h window, 1h slide): every event contributes to
    // two windows; append mode emits a window once the final watermark
    // passes its end. The oracle replays by assigning each event to both
    // covering window starts.
    QueryDef("ev10_stream_sliding", Some("""
      WITH mx AS (SELECT max(ts) AS m FROM events),
      w2 AS (
        SELECT event_type, value, ws
        FROM events, LATERAL (SELECT unnest(ARRAY[
          date_trunc('hour', ts) - INTERVAL 1 HOUR,
          date_trunc('hour', ts)]) AS ws) t),
      agg AS (
        SELECT event_type, ws, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM w2 GROUP BY 1, 2)
      SELECT event_type, strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_s,
             cnt, sum_value
      FROM agg, mx
      WHERE ws + INTERVAL 2 HOUR <= m - INTERVAL 1 HOUR
      ORDER BY event_type, win_s""")) { (s, dir) =>
      val (in, out, ck) = stage(s, dir)
      runStream(s) { Streams.parquetSink(Streams.windowedCountsSliding(
          Streams.readEventStream(s, in), "2 hours", "1 hour", "1 hour"),
        out, ck) }
      s.read.parquet(out)
        .select(col("event_type"),
          date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("win_s"),
          col("cnt"), col("sum_value"))
        .orderBy("event_type", "win_s")
    },

    // Stream-stream interval join ≡ the batch time-bounded join: inner
    // join results emit as matched (no watermark wait), so with complete
    // AvailableNow inputs the streamed pairs equal the batch join exactly.
    QueryDef("ev6_stream_join", Some("""
      SELECT c.user_id, c.event_id AS l_id, p.event_id AS r_id,
             epoch_ms(p.ts) - epoch_ms(c.ts) AS lag_ms
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTES
      ORDER BY c.user_id, l_id, r_id""")) { (s, dir) =>
      val (in, out, ck) = stage(s, dir)
      val clicks = Streams.readEventStream(s, in)
        .filter(col("event_type") === "click")
      val purchases = Streams.readEventStream(s, in)
        .filter(col("event_type") === "purchase")
      runStream(s) { Streams.parquetSink(Streams.intervalJoin(clicks,
          purchases, "user_id", windowMs = 30 * 60 * 1000L, lateness = "1 hour"),
        out, ck) }
      s.read.parquet(out)
        .select(col("l_key").as("user_id"), col("l_id"), col("r_id"),
          (unix_millis(col("r_ts")) - unix_millis(col("l_ts"))).as("lag_ms"))
        .orderBy("user_id", "l_id", "r_id")
    },

    // Stream-stream LEFT OUTER interval join: matched pairs ≡ the batch
    // join; unmatched clicks emit null-purchase rows only once the final
    // watermark passes their window end. The watermark is PER-STREAM
    // (each side watermarks its own filtered input) and the engine takes
    // the min — so the oracle's closed-state predicate uses
    // least(max click ts, max purchase ts) − lateness, not the global
    // max. NULLS FIRST pins the cross-engine sort of the null r_ids.
    QueryDef("ev12_stream_outer", Some("""
      WITH mx AS (SELECT least(
          (SELECT max(ts) FROM events WHERE event_type = 'click'),
          (SELECT max(ts) FROM events WHERE event_type = 'purchase')) AS m),
      c AS (SELECT * FROM events WHERE event_type = 'click'),
      p AS (SELECT * FROM events WHERE event_type = 'purchase'),
      j AS (SELECT c.user_id, c.event_id AS l_id, c.ts AS l_ts,
                   p.event_id AS r_id,
                   epoch_ms(p.ts) - epoch_ms(c.ts) AS lag_ms
            FROM c LEFT JOIN p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTES)
      SELECT user_id, l_id, r_id, lag_ms FROM j, mx
      WHERE r_id IS NOT NULL
         OR l_ts + INTERVAL 30 MINUTES < m - INTERVAL 1 HOUR
      ORDER BY user_id, l_id, r_id NULLS FIRST""")) { (s, dir) =>
      val (in, out, ck) = stage(s, dir)
      val clicks = Streams.readEventStream(s, in)
        .filter(col("event_type") === "click")
      val purchases = Streams.readEventStream(s, in)
        .filter(col("event_type") === "purchase")
      runStream(s) { Streams.parquetSink(Streams.intervalJoinLeftOuter(clicks,
          purchases, "user_id", windowMs = 30 * 60 * 1000L, lateness = "1 hour"),
        out, ck) }
      s.read.parquet(out)
        .select(col("l_key").as("user_id"), col("l_id"), col("r_id"),
          (unix_millis(col("r_ts")) - unix_millis(col("l_ts"))).as("lag_ms"))
        .orderBy("user_id", "l_id", "r_id")
    },

    // Streaming dedup ≡ batch distinct: the doubled input collapses back
    // to the original rows (identical duplicates land inside one
    // AvailableNow batch, well within the lateness window), so per-type
    // aggregates of the deduped stream equal the batch aggregates of the
    // original table.
    QueryDef("ev7_stream_dedup", Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
             min(event_id) AS min_id, max(event_id) AS max_id
      FROM events GROUP BY event_type ORDER BY event_type""")) { (s, dir) =>
      val in = Scratch.fresh("stream-src")
      val ev = Tables.load(s, dir, "events")
      ev.unionByName(ev).write.mode("overwrite").parquet(in)
      val (out, ck) = (Scratch.fresh("stream-out"), Scratch.fresh("stream-ck"))
      runStream(s) { Streams.parquetSink(Streams.dedupWithinWatermark(
          Streams.readEventStream(s, in), Seq("event_id"), lateness = "1 hour"),
        out, ck) }
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_v"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
        .orderBy("event_type")
    },

    // Streaming sessionization ≡ batch gap-sessionization over CLOSED
    // sessions: a session is emitted either mid-stream (a later event of
    // the same user broke the gap — i.e. it is not the user's last
    // session) or by event-time timeout (last event + gap < final
    // watermark = max(ts) - lateness).
    QueryDef("ev4_stream_sessions", Some(s"""
      WITH g AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ms,
               lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
        FROM events),
      b AS (SELECT user_id, event_id, ms,
              CASE WHEN prev IS NULL OR ms - prev > $gapMs THEN 1 ELSE 0 END AS brk
            FROM g),
      sn AS (SELECT user_id, ms,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
             FROM b),
      sess AS (SELECT user_id, sess, CAST(count(*) AS BIGINT) AS n_events,
                 min(ms) AS start_ms, max(ms) AS end_ms
               FROM sn GROUP BY user_id, sess),
      sl AS (SELECT *, max(sess) OVER (PARTITION BY user_id) AS last_sess
             FROM sess),
      mx AS (SELECT max(epoch_ms(ts)) AS m FROM events)
      SELECT user_id, n_events, start_ms, end_ms
      FROM sl, mx
      WHERE sess < last_sess OR end_ms + $gapMs < m - 3600000
      ORDER BY user_id, start_ms""")) { (s, dir) =>
      import s.implicits._
      val (in, out, ck) = stage(s, dir)
      val events = Streams.readEventStream(s, in).as[Streams.Event]
      runStream(s) { Streams.parquetSink(
        Streams.sessionize(events, gapMs, lateness = "1 hour").toDF(), out, ck) }
      s.read.parquet(out)
        .select("user_id", "n_events", "start_ms", "end_ms")
        .orderBy("user_id", "start_ms")
    },

    // Stream-static enrichment (Streams.enrichWithDim): events stream
    // joined to a batch-precomputed per-user activity segment (broadcast,
    // stateless — no watermark, no state store), landed, then aggregated
    // per (segment, type). ≡ the batch join exactly, since the join adds
    // no streaming state.
    QueryDef("ev9_stream_enrich", Some("""
      WITH dim AS (
        SELECT user_id, CAST(floor(count(*) / 10.0) AS BIGINT) AS seg
        FROM events GROUP BY user_id)
      SELECT seg, event_type, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
      FROM events JOIN dim USING (user_id)
      GROUP BY seg, event_type ORDER BY seg, event_type""")) { (s, dir) =>
      val (in, out, ck) = stage(s, dir)
      val dim = Tables.load(s, dir, "events").groupBy("user_id")
        .agg(floor(count(lit(1)) / lit(10.0)).cast("long").as("seg"))
      runStream(s) { Streams.parquetSink(Streams.enrichWithDim(
          Streams.readEventStream(s, in), dim, Seq("user_id")),
        out, ck) }
      s.read.parquet(out)
        .groupBy("seg", "event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_v"))
        .orderBy("seg", "event_type")
    },

    // Streaming corpus ingest from ARCHIVES (the zip connector's
    // micro-batch read): documents staged into zips through the sink, then
    // streamed out archive-by-archive into parquet — the continuous form
    // of crawl-dump ingest. ≡ reading the originals.
    QueryDef("ev11_zip_stream", Some("""
      SELECT CAST(doc_id % 2 AS BIGINT) AS shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes
      FROM documents GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      val zdir = graft.Scratch.fresh("zip-stream")
      val out = graft.Scratch.fresh("zip-stream-out")
      val ck = graft.Scratch.fresh("zip-stream-ck")
      Tables.load(s, dir, "documents")
        .select(concat(lit("doc_"), col("doc_id"), lit(".txt")).as("member"),
          col("text"))
        .repartition(2)
        .write.format("graft-zip").mode("overwrite").save(zdir)
      runStream(s) { Streams.parquetSink(
        s.readStream.format("graft-zip").load(zdir).select("member", "text"),
        out, ck) }
      s.read.parquet(out)
        .select(regexp_extract(col("member"), "doc_(\\d+)\\.txt", 1)
          .cast("long").as("doc_id"), col("text"))
        .groupBy((col("doc_id") % 2).as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(encode(col("text"), "UTF-8")).cast("long")).as("sum_bytes"))
        .orderBy("shard")
    },

    // Streaming MERGE sink: CDC-compacted events upserted onto a versioned
    // parquet snapshot via foreachBatch; the latest snapshot must equal the
    // batch per-user argmax. The upstream compaction (one row per key per
    // batch, mergeSink's caller contract) is the keyed keep-latest window;
    // staging as one file pins AvailableNow to one deterministic batch.
    QueryDef("ev8_stream_merge", Some("""
      WITH r AS (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, event_id, event_type, value FROM r WHERE rn = 1
      ORDER BY user_id"""), bench = true) { (s, dir) =>
      val in = Scratch.fresh("merge-src")
      val snap = Scratch.fresh("merge-snap")
      val ck = Scratch.fresh("merge-ck")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.load(s, dir, "events")
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .drop("__rn").coalesce(1).write.mode("overwrite").parquet(in)
      runStream(s) { Streams.mergeSink(Streams.readEventStream(s, in),
          Seq("user_id"), snap)
        .option("checkpointLocation", ck) }
      s.read.parquet(Streams.latestSnapshot(s, snap)
          .getOrElse(sys.error("mergeSink wrote no snapshot")))
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    },

    // Streaming incremental aggregate maintenance (Streams.aggSink): the
    // events table streamed one file per micro-batch, each batch's
    // partials merged onto the versioned aggregate snapshot — per-batch
    // work is |batch| + |aggregate|, history never rescanned. Exact
    // partials make the final snapshot bit-identical to the oracle's
    // batch recompute under ANY batch split, so the nondeterministic
    // 4-way repartition staging is still hash-gateable.
    // Streaming drift monitor: the per-(day, value-bucket) histogram is
    // maintained INCREMENTALLY by the aggSink (cost per trigger =
    // |batch| + |histogram|, never a rescan), then the per-day
    // view-vs-purchase KS statistic is computed from the final snapshot
    // exactly as x9_ks computes it from the raw data — integer histogram
    // in, exact-ECDF statistic out, bit-identical to the batch
    // computation the oracle runs. Streaming statistics maintenance
    // feeding the drift detector, end to end.
    QueryDef("ev14_stream_drift", Some("""
      WITH d0 AS (SELECT CAST(ts AS DATE) AS d,
                    CAST(floor(value * 10) AS BIGINT) AS bin,
                    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
                  FROM events
                  WHERE event_type IN ('view', 'purchase')),
      h AS (SELECT d, bin, count(*) AS cnt, sum(b) AS nb
            FROM d0 GROUP BY d, bin),
      cum AS (SELECT d, bin,
                sum(cnt - nb) OVER (PARTITION BY d ORDER BY bin
                                    ROWS UNBOUNDED PRECEDING) AS cca,
                sum(nb) OVER (PARTITION BY d ORDER BY bin
                              ROWS UNBOUNDED PRECEDING) AS ccb
              FROM h),
      tot AS (SELECT d, sum(cnt - nb) AS n_a, sum(nb) AS n_b FROM h
              GROUP BY d HAVING sum(cnt - nb) > 0 AND sum(nb) > 0)
      SELECT cum.d, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             max(abs(CAST(cca AS DOUBLE) / CAST(n_a AS DOUBLE)
                     - CAST(ccb AS DOUBLE) / CAST(n_b AS DOUBLE))) AS ks
      FROM cum JOIN tot ON cum.d = tot.d
      GROUP BY cum.d, n_a, n_b ORDER BY cum.d""")) { (s, dir) =>
      val in = Scratch.fresh("drift-src")
      val snap = Scratch.fresh("drift-snap")
      val ck = Scratch.fresh("drift-ck")
      Tables.load(s, dir, "events").repartition(4)
        .write.mode("overwrite").parquet(in)
      val src = s.readStream.schema(Streams.eventsSchema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("ts").cast("date").as("d"),
          floor(col("value") * 10).as("bin"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("b"))
      runStream(s) { Streams.aggSink(src, Seq("d", "bin"), Seq("nb" -> "b"), snap)
        .option("checkpointLocation", ck) }
      val h = s.read.parquet(Streams.latestSnapshot(s, snap)
          .getOrElse(sys.error("aggSink wrote no snapshot")))
        .select(col("d"), col("bin"), col("cnt"),
          col("nb").cast("long").as("nb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("d").orderBy("bin")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val cum = h
        .withColumn("cca", sum(col("cnt") - col("nb")).over(w))
        .withColumn("ccb", sum("nb").over(w))
      val tot = h.groupBy("d")
        .agg(sum(col("cnt") - col("nb")).as("n_a"), sum("nb").as("n_b"))
        .filter(col("n_a") > 0 && col("n_b") > 0)
      cum.join(tot, "d")
        .withColumn("diff", abs(
          col("cca").cast("double") / col("n_a").cast("double")
            - col("ccb").cast("double") / col("n_b").cast("double")))
        .groupBy("d", "n_a", "n_b").agg(max("diff").as("ks"))
        .orderBy("d")
    },

    QueryDef("ev13_stream_incr_agg", Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM events GROUP BY event_type ORDER BY event_type"""), bench = true) { (s, dir) =>
      val in = Scratch.fresh("incragg-src")
      val snap = Scratch.fresh("incragg-snap")
      val ck = Scratch.fresh("incragg-ck")
      Tables.load(s, dir, "events").repartition(4)
        .write.mode("overwrite").parquet(in)
      val src = s.readStream.schema(Streams.eventsSchema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      runStream(s) { Streams.aggSink(src, Seq("event_type"),
          Seq("total" -> "value"), snap)
        .option("checkpointLocation", ck) }
      s.read.parquet(Streams.latestSnapshot(s, snap)
          .getOrElse(sys.error("aggSink wrote no snapshot")))
        .select(col("event_type"), col("cnt"),
          col("total").cast("double").as("total"))
        .orderBy("event_type")
    },

    // Streaming corpus curation (Streams.curateStream): documents stream
    // in over a nondeterministic multi-file split, each micro-batch is
    // quality-filtered (min token count) and anti-joined against the
    // static already-ingested digest set — both stateless, so the landed
    // corpus is batch-identical by construction. The continuous form of
    // the batch quality + incremental-dedup pass.
    QueryDef("ev15_stream_curation", Some("""
      WITH corpus AS (SELECT md5(text) AS digest FROM documents
                      WHERE doc_id % 7 = 0)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(min(doc_id) AS BIGINT) AS min_id,
             CAST(max(doc_id) AS BIGINT) AS max_id
      FROM documents
      WHERE len(string_split(text, ' ')) >= 8
        AND md5(text) NOT IN (SELECT digest FROM corpus)
      GROUP BY lang ORDER BY lang""")) { (s, dir) =>
      val in = Scratch.fresh("curate-src")
      val (out, ck) = (Scratch.fresh("curate-out"), Scratch.fresh("curate-ck"))
      val docs = Tables.load(s, dir, "documents")
      docs.repartition(4).write.mode("overwrite").parquet(in)
      val digests = docs.filter(col("doc_id") % 7 === 0)
        .select(md5(col("text")).as("digest"))
      val src = s.readStream.schema(Streams.documentsSchema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      runStream(s) { Streams.parquetSink(
        Streams.curateStream(src, digests, minTokens = 8), out, ck) }
      s.read.parquet(out)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("lang")
    },

    // Streaming fingerprint maintenance (Integrity.fingerprintSink): the
    // order-independent checksum is a SUM of per-row terms, so each
    // micro-batch's partial ADDS onto a versioned snapshot — a landing
    // stream carries a continuously-current integrity handshake without
    // re-reading history. Final snapshot must equal the batch fingerprint
    // of everything streamed (the incremental-view-maintenance law,
    // applied to integrity metadata).
    QueryDef("ev16_stream_checksum", Some("""
      WITH d AS (SELECT md5(concat_ws('|',
          coalesce(CAST(event_id AS VARCHAR), chr(1)),
          coalesce(event_type, chr(1)))) AS h FROM events)
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(CAST('0x'||substr(h,1,15) AS BIGINT) AS HUGEINT))
          AS VARCHAR) AS ck_lo,
        CAST(sum(CAST(CAST('0x'||substr(h,17,15) AS BIGINT) AS HUGEINT))
          AS VARCHAR) AS ck_hi
      FROM d""")) { (s, dir) =>
      import graft.operators.Integrity
      val in = Scratch.fresh("ckm-src")
      val (snap, ck) = (Scratch.fresh("ckm-snap"), Scratch.fresh("ckm-ck"))
      Tables.load(s, dir, "events").repartition(4)
        .write.mode("overwrite").parquet(in)
      val src = s.readStream.schema(Streams.eventsSchema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      runStream(s) { Integrity.fingerprintSink(src, Seq("event_id", "event_type"),
          snap)
        .option("checkpointLocation", ck) }
      // Gate projection renders the DECIMAL(38,0) checksum sums as
      // strings (SURVEY §5.2 output-type contract); snapshot internals
      // stay exact decimals.
      s.read.parquet(Streams.latestSnapshot(s, snap)
          .getOrElse(sys.error("fingerprintSink wrote no snapshot")))
        .select(col("n"), col("ck_lo").cast("string").as("ck_lo"),
          col("ck_hi").cast("string").as("ck_hi"))
    })
}
