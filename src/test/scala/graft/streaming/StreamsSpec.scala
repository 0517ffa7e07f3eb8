package graft.streaming

import java.sql.Timestamp
import graft.{Scratch, SparkSpec}
import graft.streaming.Streams.{Event, UserSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("windowedCounts: tumbling windows aggregate by event time") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.windowedCounts(in.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("wc").outputMode("append").start()
    try {
      in.addData(
        Event(1, ts(1), 1, "click", 1.0),
        Event(2, ts(4), 2, "click", 2.0),
        Event(3, ts(12), 1, "view", 3.0))
      q.processAllAvailable()
      // advance watermark far enough to close the first windows
      in.addData(Event(9, ts(45), 9, "late", 0.0))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select("win_start", "event_type", "cnt", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows.contains((ts(0), "click", 2L, 3.0)))
      assert(rows.contains((ts(10), "view", 1L, 3.0)))
    } finally q.stop()
  }

  test("windowedCounts: events later than the watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.windowedCounts(in.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("wl").outputMode("append").start()
    try {
      in.addData(Event(1, ts(1), 1, "click", 1.0))
      q.processAllAvailable()
      in.addData(Event(2, ts(40), 2, "click", 1.0)) // watermark → 10:35
      q.processAllAvailable()
      in.addData(Event(3, ts(2), 3, "click", 1.0)) // far behind watermark
      q.processAllAvailable()
      in.addData(Event(4, ts(59), 4, "click", 1.0))
      q.processAllAvailable()
      val first = spark.table("wl").filter($"win_start" === ts(0))
        .agg(sum("cnt")).as[Long].head()
      assert(first == 1L, "late event must not reopen the closed window")
    } finally q.stop()
  }

  test("sessionize: 30-min gap closes a session; state emits on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val out = Streams.sessionize(in.toDS(), gapMs = 30 * 60 * 1000L,
      lateness = "10 minutes")
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // user 1: events at 10:01, 10:05 (one session), then 11:30 (new session)
      in.addData(
        Event(1, ts(1), 1, "a", 0), Event(2, ts(5), 1, "a", 0))
      q.processAllAvailable()
      in.addData(Event(3, Timestamp.valueOf("2026-01-01 11:30:00"), 1, "a", 0))
      q.processAllAvailable()
      // push watermark way forward so the second session times out too
      in.addData(Event(4, Timestamp.valueOf("2026-01-01 14:00:00"), 2, "a", 0))
      q.processAllAvailable()
      in.addData(Event(5, Timestamp.valueOf("2026-01-01 18:00:00"), 3, "a", 0))
      q.processAllAvailable()
      val sessions = spark.table("sess").as[UserSession].collect()
        .filter(_.user_id == 1).sortBy(_.start_ms)
      assert(sessions.length == 2)
      assert(sessions(0).n_events == 2)
      assert(sessions(0).start_ms == ts(1).getTime)
      assert(sessions(0).end_ms == ts(5).getTime)
      assert(sessions(1).n_events == 1)
    } finally q.stop()
  }

  test("intervalJoinLeftOuter: matches emit immediately, nulls on close") {
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[Event]
    val right = MemoryStream[Event]
    val q = Streams.intervalJoinLeftOuter(left.toDF(), right.toDF(),
        "user_id", windowMs = 10 * 60 * 1000L, lateness = "5 minutes")
      .writeStream.format("memory").queryName("loj").outputMode("append").start()
    try {
      // user 1's click finds a purchase in-window; user 2's click never will
      left.addData(Event(1, ts(1), 1, "click", 1.0),
        Event(2, ts(2), 2, "click", 1.0))
      right.addData(Event(10, ts(5), 1, "purchase", 5.0))
      q.processAllAvailable()
      val matched = spark.table("loj")
        .select("l_id", "r_id").as[(Long, Option[Long])].collect().toSet
      assert(matched.contains((1L, Some(10L))),
        "in-window match emits without waiting for the watermark")
      assert(!matched.exists(_._2.isEmpty),
        "no null row before the watermark closes the window")
      // advance BOTH watermarks past click 2's window end (10:12 + 5min)
      left.addData(Event(3, ts(40), 9, "click", 0.0))
      right.addData(Event(11, ts(40), 9, "purchase", 0.0))
      q.processAllAvailable()
      val after = spark.table("loj")
        .select("l_id", "r_id").as[(Long, Option[Long])].collect().toSet
      assert(after.contains((2L, None)),
        s"closed unmatched click must emit a null row: $after")
    } finally q.stop()
  }

  test("dedupWithinWatermark drops in-window duplicates, evicts old state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.dedupWithinWatermark(in.toDF(), Seq("event_id"),
        lateness = "10 minutes")
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      in.addData(
        Event(1, ts(1), 1, "click", 1.0),
        Event(1, ts(1), 1, "click", 1.0), // same-batch duplicate
        Event(2, ts(2), 2, "view", 2.0))
      q.processAllAvailable()
      in.addData(Event(2, ts(2), 2, "view", 2.0)) // cross-batch, in window
      q.processAllAvailable()
      val out = spark.table("dd").select("event_id").as[Long].collect().toSeq
      assert(out.sorted == Seq(1L, 2L))
    } finally q.stop()
  }

  test("mergeSink applies micro-batches as versioned snapshot upserts") {
    implicit val sqlCtx = spark.sqlContext
    val snap = Scratch.fresh("stream-merge")
    val ck = Scratch.fresh("stream-merge-ck")
    val in = MemoryStream[(Long, String, Double)]
    val q = Streams.mergeSink(in.toDF().toDF("k", "s", "v"), Seq("k"), snap)
      .option("checkpointLocation", ck).start()
    try {
      in.addData((1L, "a", 1.0), (2L, "b", 2.0))
      q.processAllAvailable()
      in.addData((2L, "B", 20.0), (3L, "c", 3.0)) // update + insert
      q.processAllAvailable()
      val latest = Streams.latestSnapshot(spark, snap).get
      assert(latest.endsWith("/v1"))
      val rows = spark.read.parquet(latest)
        .as[(Long, String, Double)].collect().toSet
      assert(rows == Set((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0)))
      // v0 still readable — versions are immutable
      assert(spark.read.parquet(s"$snap/v0").count() == 2)
    } finally q.stop()
  }

  test("aggSink maintains the aggregate incrementally across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val snap = Scratch.fresh("stream-agg")
    val ck = Scratch.fresh("stream-agg-ck")
    val in = MemoryStream[(String, Double)]
    val q = Streams.aggSink(in.toDF().toDF("k", "v"), Seq("k"),
        Seq("total" -> "v"), snap)
      .option("checkpointLocation", ck).start()
    try {
      in.addData(("a", 1.5), ("a", 2.5), ("b", 10.0))
      q.processAllAvailable()
      in.addData(("a", 4.0), ("c", 7.0))
      q.processAllAvailable()
      val latest = Streams.latestSnapshot(spark, snap).get
      assert(latest.endsWith("/v1"))
      val rows = spark.read.parquet(latest)
        .select($"k", $"cnt", $"total".cast("double"))
        .as[(String, Long, Double)].collect().toSet
      assert(rows == Set(("a", 3L, 8.0), ("b", 1L, 10.0), ("c", 1L, 7.0)))
      // v0 holds only batch 0's contribution — versions are immutable.
      val v0 = spark.read.parquet(s"$snap/v0")
        .select($"k", $"cnt", $"total".cast("double"))
        .as[(String, Long, Double)].collect().toSet
      assert(v0 == Set(("a", 2L, 4.0), ("b", 1L, 10.0)))
    } finally q.stop()
  }

  test("enrichWithDim: stream-static join matches the batch join, stateless") {
    val dir = Scratch.fresh("enrich-in")
    val batch = graft.model.Tables.load(spark, "/root/testdata/sf0.001", "events")
    batch.write.mode("overwrite").parquet(dir)
    val dim = batch.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_total"))
    val outDir = Scratch.fresh("enrich-out")
    val ckDir = Scratch.fresh("enrich-ck")
    val q = Streams.enrichWithDim(
        Streams.readEventStream(spark, dir), dim, Seq("user_id"))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(outDir)
    // inner join against a complete dim: row count preserved, every row
    // carries its user's profile value
    assert(streamed.count() == batch.count())
    val bad = streamed.join(dim.withColumnRenamed("n_total", "expect"), "user_id")
      .filter(org.apache.spark.sql.functions.col("n_total") =!=
        org.apache.spark.sql.functions.col("expect")).count()
    assert(bad == 0)
  }

  test("file-source stream over the events parquet matches batch counts") {
    // stream the sf0.001 events dir and compare total rows with batch read
    val dir = Scratch.fresh("stream-in")
    // Tables.load normalizes the nanos-as-long ts back to TimestampType so
    // the staged files carry the schema the stream declares.
    val batch = graft.model.Tables.load(spark, "/root/testdata/sf0.001", "events")
    batch.write.mode("overwrite").parquet(dir)
    val outDir = Scratch.fresh("stream-out")
    val ckDir = Scratch.fresh("stream-ck")
    val q = Streams.parquetSink(
      Streams.readEventStream(spark, dir), outDir, ckDir).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(outDir).count() == batch.count())
  }

  test("curateStream: quality filter + digest anti-join, batch-identical semantics") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four five six seven eight", "en"),
      (2L, "too short", "en"),
      (3L, "already ingested text one two three four five", "fr"),
      (4L, "fresh long document with eight whole tokens here", "fr"))
      .toDF("doc_id", "text", "lang")
    val corpus = Seq("already ingested text one two three four five")
      .toDF("t").select(org.apache.spark.sql.functions.md5($"t").as("digest"))
    val kept = Streams.curateStream(docs, corpus, minTokens = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L))
  }

  test("fingerprintSink: streamed checksum equals the batch fingerprint") {
    import graft.operators.Integrity
    implicit val sqlCtx = spark.sqlContext
    val snap = Scratch.fresh("stream-fp")
    val ck = Scratch.fresh("stream-fp-ck")
    val in = MemoryStream[(Long, String)]
    val q = Integrity.fingerprintSink(in.toDF().toDF("id", "s"),
        Seq("id", "s"), snap)
      .option("checkpointLocation", ck).start()
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((3L, "c"))
      q.processAllAvailable()
      val latest = Streams.latestSnapshot(spark, snap).get
      assert(latest.endsWith("/v1"), s"two versions expected: $latest")
      val streamed = spark.read.parquet(latest)
        .select($"n", $"ck_lo".cast("string"), $"ck_hi".cast("string"))
        .as[(Long, String, String)].head()
      val batch = Integrity.fingerprint(
          Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"),
          Seq("id", "s"))
        .select($"n", $"ck_lo".cast("string"), $"ck_hi".cast("string"))
        .as[(Long, String, String)].head()
      assert(streamed == batch && streamed._1 == 3L)
      // v0 carries only batch 0's partial — versions are immutable.
      val v0 = spark.read.parquet(s"$snap/v0").select($"n").as[Long].head()
      assert(v0 == 2L)
    } finally q.stop()
  }

  test("ev3_stream_window under a RocksDB state store leaves providerClass as it found it") {
    val prov = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(prov)
    spark.conf.set("graft.stream.stateStore", "rocksdb")
    try {
      val n = graft.SparkEntry.queries("ev3_stream_window")(
        spark, new java.io.File(sf("events")).getParent).count()
      assert(n > 0)
      assert(spark.conf.getOption(prov) == before,
        "runStream must restore the state-store provider it set")
    } finally {
      spark.conf.unset("graft.stream.stateStore")
      before match {
        case Some(v) => spark.conf.set(prov, v)
        case None => spark.conf.unset(prov)
      }
    }
  }
}
