package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface for the events table shape. The reference is
  * batch-only (`@daily` full re-run, reference
  * k8s/dags/etl-gcp-vinicius-campos.py:45); this is the streaming
  * formulation of the same event analytics — windowed aggregation with
  * watermarked late-data handling, and stateful sessionization via
  * flatMapGroupsWithState — so the engine covers continuous pipelines,
  * not just the daily batch.
  *
  * Scale posture: state is keyed (user/window) and partitioned by key;
  * watermarks bound state size; nothing collects to the driver.
  */
object Streams {

  /** events table schema (TESTDATA.md / FIXTURES.md §2) — streaming file
    * sources require an explicit schema.
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of event files. */
  def readEventStream(spark: SparkSession, dir: String,
                      format: String = "parquet"): DataFrame =
    spark.readStream.schema(eventsSchema).format(format).load(dir)

  /** documents table schema (TESTDATA.md) for streaming corpus ingest. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Stateless streaming corpus curation: quality-filter incoming
    * documents (minimum token count) and drop anything whose content
    * digest already exists in the STATIC ingested-corpus digest set — the
    * continuous form of the batch quality + incremental-dedup pass
    * ([[graft.operators.Dedup.incrementalDedup]]). Both steps are
    * stateless (projection + broadcastable stream-static anti join), so
    * the transform needs no watermark, no state store, and its output is
    * batch-identical by construction — micro-batch boundaries cannot
    * change a per-row decision.
    *
    * At scale the digest side ships 32-char hashes, never documents, and
    * a too-big-to-broadcast digest set degrades to a shuffled anti join
    * exactly as in the batch operator.
    */
  def curateStream(stream: DataFrame, corpusDigests: DataFrame,
                   minTokens: Int): DataFrame =
    stream.filter(size(split(col("text"), " ")) >= minTokens)
      .withColumn("digest", md5(col("text")))
      .join(corpusDigests, Seq("digest"), "left_anti")

  /** Tumbling event-time window counts with a watermark: late events beyond
    * `lateness` are dropped and their window state evicted.
    */
  def windowedCounts(events: DataFrame, windowLen: String,
                     lateness: String): DataFrame =
    windowedCountsSliding(events, windowLen, windowLen, lateness)

  /** Sliding-window variant: each event lands in windowLen/slide
    * overlapping windows (tumbling when slide == windowLen). Same
    * append-mode/watermark-closure semantics; state per open window is
    * one partial aggregate, so the overlap factor bounds state size, not
    * event volume.
    */
  def windowedCountsSliding(events: DataFrame, windowLen: String,
                            slide: String, lateness: String): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionAgg(events: List[Long], lastTs: Long)
  final case class UserSession(user_id: Long, n_events: Int,
                               start_ms: Long, end_ms: Long)

  /** Stateful sessionization: a session closes after `gapMs` of inactivity
    * (event-time, enforced via event-time timeout against the watermark).
    * Emits one row per *closed* session — the streaming equivalent of the
    * batch ev2_sessionize query.
    */
  def sessionize(events: Dataset[Event], gapMs: Long,
                 lateness: String): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._

    def update(userId: Long, it: Iterator[Event],
               state: GroupState[SessionAgg]): Iterator[UserSession] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(UserSession(userId, s.events.size,
          s.events.min, s.lastTs))
      } else {
        val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var cur = state.getOption
        val closed = scala.collection.mutable.ListBuffer.empty[UserSession]
        sorted.foreach { e =>
          val ms = e.ts.getTime
          cur match {
            case Some(s) if ms - s.lastTs > gapMs =>
              closed += UserSession(userId, s.events.size, s.events.min, s.lastTs)
              cur = Some(SessionAgg(List(ms), ms))
            case Some(s) =>
              cur = Some(SessionAgg(s.events :+ ms, math.max(s.lastTs, ms)))
            case None =>
              cur = Some(SessionAgg(List(ms), ms))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastTs + gapMs)
        }
        closed.iterator
      }
    }

    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Stream-stream inner join with an event-time range: left events joined
    * to right events of the same key within `[l.ts, l.ts + windowMs]`.
    * Both sides carry watermarks and the join condition bounds event time
    * on both, so Spark can evict join state once the watermark passes the
    * range — without the time bound the state would grow forever. Matched
    * pairs emit as they are found (inner join does not wait for the
    * watermark), so with complete inputs the result equals the batch join.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   windowMs: Long, lateness: String): DataFrame = {
    val l = left.select(col(keyCol).as("l_key"), col("ts").as("l_ts"),
        col("event_id").as("l_id"))
      .withWatermark("l_ts", lateness)
    val r = right.select(col(keyCol).as("r_key"), col("ts").as("r_ts"),
        col("event_id").as("r_id"))
      .withWatermark("r_ts", lateness)
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $windowMs MILLISECONDS"))
  }

  /** Stream-stream LEFT OUTER interval join: like [[intervalJoin]], but
    * left events with no in-window right match still emit — with null
    * right columns — once the watermark passes their window's end (only
    * then can the engine prove no match is coming; matched pairs emit
    * immediately like the inner join). This is the streaming form of
    * "every click, with its purchase if one followed": the null rows are
    * the negatives, and they are emitted exactly when their state is
    * provably closed, which is what keeps join state bounded.
    */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
                            keyCol: String, windowMs: Long,
                            lateness: String): DataFrame = {
    val l = left.select(col(keyCol).as("l_key"), col("ts").as("l_ts"),
        col("event_id").as("l_id"))
      .withWatermark("l_ts", lateness)
    val r = right.select(col(keyCol).as("r_key"), col("ts").as("r_ts"),
        col("event_id").as("r_id"))
      .withWatermark("r_ts", lateness)
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $windowMs MILLISECONDS"),
      "left_outer")
  }

  /** Streaming exact dedup on `keys`: per-key state is retained only until
    * the watermark passes the row's event time plus `lateness`, so state is
    * bounded by the lateness window instead of growing with the stream —
    * the streaming counterpart of [[graft.operators.Dedup.exactKeepFirst]].
    * Duplicates arriving within the lateness window of each other are
    * guaranteed dropped.
    */
  def dedupWithinWatermark(df: DataFrame, keys: Seq[String],
                           lateness: String): DataFrame =
    df.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Stream-static enrichment: join each streaming row to a precomputed
    * dimension table (a profile/feature table refreshed out of band). The
    * static side is broadcast — stateless on the stream, no watermark, no
    * state store; at cluster scale the dim ships once per executor and the
    * stream never shuffles for the join. This is the standard "enrich
    * events with a profile" topology.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    keys: Seq[String]): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), keys)

  /** Latest committed snapshot version directory under `dir` (written by
    * [[mergeSink]]), if any.
    */
  def latestSnapshot(spark: SparkSession, dir: String): Option[String] =
    latestSnapshotBefore(spark, dir, Long.MaxValue)

  /** Latest snapshot version strictly below `bound` — the correct upsert
    * base for batch `bound`: a replayed batch must never read its own
    * (possibly partial) output as the base.
    */
  def latestSnapshotBefore(spark: SparkSession, dir: String,
                           bound: Long): Option[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else fs.listStatus(path).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("v\\d+"))
      .map(_.drop(1).toLong)
      .filter(_ < bound)
      .sorted.lastOption
      .map(v => s"$dir/v$v")
  }

  /** Streaming MERGE sink: each micro-batch is applied as a keyed upsert
    * ([[graft.operators.Snapshot.upsert]]) onto a versioned parquet
    * snapshot — batch `i` reads the latest snapshot and writes `dir/v{i}`,
    * never rewriting a version in place, so a retried batch simply
    * overwrites its own version (idempotent) and readers always see a
    * complete snapshot. Caller contract: at most one row per key per batch
    * (compact CDC batches upstream — e.g. with
    * [[graft.operators.Dedup.exactKeepFirst]] — or the upsert winner
    * within the batch is undefined).
    */
  def mergeSink(df: DataFrame, keys: Seq[String],
                dir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
      val s = batch.sparkSession
      // Base strictly below this batch's own version: a crash-replayed
      // batch would otherwise read its own partial output (and overwrite
      // the directory it is reading).
      val base = latestSnapshotBefore(s, dir, id)
        .map(s.read.parquet(_))
        .getOrElse(s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema))
      graft.operators.Snapshot.upsert(base, batch.toDF(), keys)
        .write.mode("overwrite").parquet(s"$dir/v$id")
      ()
    }

  /** Streaming incremental-aggregate sink: each micro-batch is reduced to
    * mergeable partials ([[graft.operators.Snapshot.aggPartials]]) and
    * merged onto the latest versioned snapshot of the materialized
    * aggregate ([[graft.operators.Snapshot.mergePartials]]) — the
    * streaming form of incremental view maintenance. Per batch the work
    * is |batch| + |aggregate|; the full event history is never rescanned.
    * Counts and decimal-exact sums merge without drift, so after any
    * sequence of micro-batches the snapshot is bit-identical to a batch
    * recompute over everything ingested — under ANY batch split, which is
    * what lets an oracle gate a nondeterministically-partitioned stream.
    * Same versioned layout as [[mergeSink]]: batch `i` writes `dir/v{i}`,
    * replays overwrite their own version (idempotent), readers always see
    * a complete snapshot.
    */
  def aggSink(df: DataFrame, keys: Seq[String],
              sumCols: Seq[(String, String)],
              dir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
      val s = batch.sparkSession
      val delta = graft.operators.Snapshot.aggPartials(batch.toDF(), keys, sumCols)
      val merged = latestSnapshotBefore(s, dir, id)
        .map(p => graft.operators.Snapshot.mergePartials(
          s.read.parquet(p), delta, keys))
        .getOrElse(delta)
      // Pin sum columns to one decimal type so every version's schema is
      // identical (merge widening would otherwise drift precision).
      val stable = merged.select(keys.map(col) ++ (col("cnt") +:
        sumCols.map { case (out, _) =>
          col(out).cast("decimal(38,6)").as(out)
        }): _*)
      stable.write.mode("overwrite").parquet(s"$dir/v$id")
      ()
    }

  /** Append-mode parquet sink with checkpointing — the streaming version of
    * the batch zone write.
    */
  def parquetSink(df: DataFrame, outDir: String, checkpointDir: String) =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
}
