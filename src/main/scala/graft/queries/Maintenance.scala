package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.operators.{Dedup, Snapshot, ZOrder}

/** Warehouse-maintenance and layout operators gated against DuckDB:
  * MERGE upsert, SCD2 history build, CDC snapshot diff, z-order layout,
  * and benchmark decontamination. These are the mutations and layout
  * passes a truncate-load pipeline (SURVEY.md §2.1 S9) grows into at
  * scale, where full reloads and single-column sort orders stop working.
  */
object Maintenance extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Narrow order columns used by the snapshot gates. */
  private val oCols = Seq("o_orderkey", "o_orderstatus", "o_totalprice",
    "o_orderpriority")

  /** Updates: keys % 5 get status 'U' and doubled price (FP-exact). */
  private def updates(orders: DataFrame): DataFrame =
    orders.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") * 2)

  /** Inserts: keys % 13 re-keyed past the live range, priority 'NEW'. */
  private def inserts(orders: DataFrame): DataFrame =
    orders.filter(col("o_orderkey") % 13 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumn("o_orderpriority", lit("NEW"))

  private val updCte = """
    upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 2 AS o_totalprice,
             o_orderpriority
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice,
             'NEW' AS o_orderpriority
      FROM orders WHERE o_orderkey % 13 = 0)"""

  /** DuckDB interleave of 10-bit px/sy — same bit arithmetic as
    * [[ZOrder.zValue]], spelled out as integer ops.
    */
  private val zExpr = (0 until 10).flatMap { b =>
    Seq(s"(((px >> $b) & 1) << ${2 * b})", s"(((sy >> $b) & 1) << ${2 * b + 1})")
  }.mkString(" | ")

  /** DuckDB unrolled Hilbert xy→d walk on a 32×32 grid — one CTE per
    * round, same rotate/swap/accumulate arithmetic as
    * [[ZOrder.hilbertIndex]] (aliases indexed per round; DuckDB's lateral
    * column aliases would otherwise shadow the previous round's x/y).
    */
  private val hilbertCtes: String = {
    val bits = 5
    val rounds = (1 to bits).map { r =>
      val s = 1L << (bits - r)
      val (px, py, pd) = (s"x${r - 1}", s"y${r - 1}", s"d${r - 1}")
      s"""h$r AS (SELECT p_partkey, px, py,
         CASE WHEN ($py & $s) = 0
              THEN (CASE WHEN ($px & $s) > 0 THEN ${s - 1} - $py ELSE $py END)
              ELSE $px END AS x$r,
         CASE WHEN ($py & $s) = 0
              THEN (CASE WHEN ($px & $s) > 0 THEN ${s - 1} - $px ELSE $px END)
              ELSE $py END AS y$r,
         $pd + ${s * s} * xor(3 * (CASE WHEN ($px & $s) > 0 THEN 1 ELSE 0 END),
                              (CASE WHEN ($py & $s) > 0 THEN 1 ELSE 0 END)) AS d$r
       FROM h${r - 1})"""
    }
    s"""h0 AS (SELECT p_partkey,
         CAST(p_size % 32 AS BIGINT) AS px, CAST(p_partkey % 32 AS BIGINT) AS py,
         CAST(p_size % 32 AS BIGINT) AS x0, CAST(p_partkey % 32 AS BIGINT) AS y0,
         CAST(0 AS BIGINT) AS d0 FROM part),
       ${rounds.mkString(",\n       ")}"""
  }

  val defs: Seq[QueryDef] = Seq(

    // Hilbert-curve layout index (ZOrder.hilbertIndex): the
    // locality-tighter space-filling curve — consecutive cells are always
    // grid neighbors, so a contiguous index range bounds both keys at
    // least as tightly as the same-size z-range. Unrolled integer
    // CASE/bit rounds, codegen'd; the oracle walks the identical rounds
    // as CTEs.
    QueryDef("z2_hilbert", Some(s"""
      WITH $hilbertCtes
      SELECT p_partkey, px, py, CAST(d5 AS BIGINT) AS hidx
      FROM h5 ORDER BY p_partkey""")) { (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          (col("p_size") % 32).cast("long").as("px"),
          (col("p_partkey") % 32).cast("long").as("py"))
        .withColumn("hidx",
          ZOrder.hilbertIndex(col("px"), col("py"), bits = 5))
        .orderBy("p_partkey")
    },

    // MERGE upsert: updates replace, inserts append, untouched rows survive.
    QueryDef("e1_upsert", Some(s"""
      WITH $updCte,
      merged AS (
        SELECT * FROM upd
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey))
      SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      FROM merged WHERE o_orderkey % 7 = 0
      ORDER BY o_orderkey"""), bench = true) { (s, dir) =>
      val orders = t(s, dir, "orders").select(oCols.map(col): _*)
      Snapshot.upsert(orders,
          updates(orders).unionByName(inserts(orders)), Seq("o_orderkey"))
        .filter(col("o_orderkey") % 7 === 0)
        .orderBy("o_orderkey")
    },

    // SCD2: event_type change runs per user become versioned validity rows.
    QueryDef("e2_scd2", Some("""
      WITH e AS (SELECT user_id, event_type, ts, event_id
                 FROM events WHERE user_id % 25 = 0),
      c AS (SELECT user_id, event_type, ts AS valid_from, event_id,
                   lag(event_type) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM e),
      v AS (SELECT user_id, event_type, valid_from, event_id
            FROM c WHERE prev IS NULL OR prev <> event_type)
      SELECT user_id, event_type, valid_from,
             lead(valid_from) OVER w AS valid_to,
             row_number() OVER w AS version,
             (lead(valid_from) OVER w IS NULL) AS is_current
      FROM v WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
      ORDER BY user_id, version"""),
      bench = true) { (s, dir) =>
      Snapshot.scd2(
          t(s, dir, "events").filter(col("user_id") % 25 === 0),
          "user_id", "event_type", "ts", "event_id")
        .withColumn("version", col("version").cast("long"))
        .orderBy("user_id", "version")
    },

    // CDC diff: delta rows only — I for new keys, U for changed, D for gone.
    QueryDef("e3_cdc_diff", Some(s"""
      WITH b AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
                        o_orderpriority FROM orders),
      a AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice,
               o_orderpriority
        FROM orders WHERE o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice,
               'NEW' AS o_orderpriority
        FROM orders WHERE o_orderkey % 13 = 0)
      SELECT 'D' AS op, b.* FROM b
      WHERE NOT EXISTS (SELECT 1 FROM a WHERE a.o_orderkey = b.o_orderkey)
      UNION ALL
      SELECT 'I' AS op, a.* FROM a
      WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.o_orderkey = a.o_orderkey)
      UNION ALL
      SELECT 'U' AS op, a.*
      FROM a JOIN b USING (o_orderkey)
      WHERE a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
         OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
         OR a.o_orderpriority IS DISTINCT FROM b.o_orderpriority
      ORDER BY o_orderkey""")) { (s, dir) =>
      val before = t(s, dir, "orders").select(oCols.map(col): _*)
      val after = before.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
        .unionByName(inserts(before))
      Snapshot.diff(before, after, Seq("o_orderkey")).orderBy("o_orderkey")
    },

    // Z-order layout: per z-range bucket, BOTH key ranges stay bounded —
    // the footer-stats pruning property the layout exists for.
    QueryDef("z1_zorder", Some(s"""
      WITH m AS (SELECT l_partkey % 1024 AS px, l_suppkey % 1024 AS sy
                 FROM lineitem),
      z AS (SELECT px, sy, ($zExpr) AS z FROM m)
      SELECT z >> 16 AS bucket, count(*) AS n,
             min(px) AS min_px, max(px) AS max_px,
             min(sy) AS min_sy, max(sy) AS max_sy
      FROM z GROUP BY 1 ORDER BY bucket""")) { (s, dir) =>
      t(s, dir, "lineitem")
        .select((col("l_partkey") % 1024).as("px"),
          (col("l_suppkey") % 1024).as("sy"))
        .withColumn("z", ZOrder.zValue(col("px"), col("sy"), 10))
        .groupBy(shiftright(col("z"), 16).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("px").as("min_px"), max("px").as("max_px"),
          min("sy").as("min_sy"), max("sy").as("max_sy"))
        .orderBy("bucket")
    },

    // Resample + forward-fill: per-user hourly grid over each user's own
    // span, carrying the last observed value across empty hours.
    QueryDef("ts1_gapfill", Some("""
      WITH e AS (SELECT user_id, ts, value, event_id
                 FROM events WHERE user_id % 25 = 0),
      ph AS (SELECT user_id, date_trunc('hour', ts) AS h, value,
                    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                       ORDER BY ts DESC, event_id DESC) AS rn
             FROM e),
      pv AS (SELECT user_id, h, value FROM ph WHERE rn = 1),
      sp AS (SELECT user_id, date_trunc('hour', min(ts)) AS h0,
                    date_trunc('hour', max(ts)) AS h1
             FROM e GROUP BY user_id),
      grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
               FROM sp)
      SELECT g.user_id, strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour_s,
             last_value(pv.value IGNORE NULLS) OVER
               (PARTITION BY g.user_id ORDER BY g.h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      FROM grid g LEFT JOIN pv ON pv.user_id = g.user_id AND pv.h = g.h
      ORDER BY g.user_id, hour_s""")) { (s, dir) =>
      graft.operators.TimeSeries.resampleFfill(
          t(s, dir, "events").filter(col("user_id") % 25 === 0),
          "user_id", "ts", "value", "event_id",
          unit = "hour", step = "interval 1 hour")
        .select(col("user_id"),
          date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("hour_s"),
          col("value").as("v"))
        .orderBy("user_id", "hour_s")
    },

    // Resample + LINEAR interpolation: the other half of the resampling
    // story (ts1 carries values flat; this draws the line between
    // neighboring observations). Anchors and grid merge into one per-key
    // sorted stream with frame-bounded IGNORE NULLS window passes — one
    // exchange, no grid-vs-interval join. Times are exact integer
    // microseconds; the interpolation is five IEEE ops mirrored verbatim
    // in the oracle.
    QueryDef("ts4_interp", Some("""
      WITH e AS (SELECT user_id, ts, value, event_id
                 FROM events WHERE user_id % 25 = 0),
      a0 AS (SELECT user_id, ts, value,
                    row_number() OVER (PARTITION BY user_id, ts
                                       ORDER BY event_id DESC) AS rn
             FROM e),
      a AS (SELECT user_id, ts, value FROM a0 WHERE rn = 1),
      sp AS (SELECT user_id, date_trunc('hour', min(ts)) AS h0,
                    date_trunc('hour', max(ts)) AS h1
             FROM e GROUP BY user_id),
      g AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS t
            FROM sp),
      u AS (SELECT user_id, ts AS t, value AS v, 1 AS a FROM a
            UNION ALL SELECT user_id, t, NULL, 0 FROM g),
      w AS (SELECT user_id, t, a, epoch_us(t) AS us,
              last_value(v IGNORE NULLS) OVER pw AS v0,
              last_value(CASE WHEN a = 1 THEN epoch_us(t) END IGNORE NULLS)
                OVER pw AS t0,
              first_value(v IGNORE NULLS) OVER nw AS v1,
              first_value(CASE WHEN a = 1 THEN epoch_us(t) END IGNORE NULLS)
                OVER nw AS t1
            FROM u
            WINDOW pw AS (PARTITION BY user_id ORDER BY t, a DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   nw AS (PARTITION BY user_id ORDER BY t, a DESC
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT user_id, strftime(t, '%Y-%m-%d %H:%M:%S') AS hour_s,
             CASE WHEN t0 IS NULL THEN v1
                  WHEN t1 IS NULL OR t1 = t0 THEN v0
                  ELSE v0 + (v1 - v0) * (CAST(us - t0 AS DOUBLE)
                                         / CAST(t1 - t0 AS DOUBLE)) END AS v
      FROM w WHERE a = 0
      ORDER BY user_id, hour_s""")) { (s, dir) =>
      graft.operators.TimeSeries.interpolate(
          t(s, dir, "events").filter(col("user_id") % 25 === 0),
          "user_id", "ts", "value", "event_id",
          unit = "hour", step = "interval 1 hour")
        .select(col("user_id"),
          date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("hour_s"),
          col("value").as("v"))
        .orderBy("user_id", "hour_s")
    },

    // Truncated EWMA (TimeSeries.ewmaTruncated): dyadic weights make every
    // term an exact FP halving and the blend a fixed 4-leaf expression
    // tree — bit-identical cross-engine with no window-sum accumulation
    // order to disagree on. One window exchange; the four lags share one
    // sorted pass.
    QueryDef("ts5_ewma", Some("""
      SELECT event_id, user_id,
             ((value/2 + coalesce(lag(value,1) OVER w, value)/4)
               + coalesce(lag(value,2) OVER w,
                          coalesce(lag(value,1) OVER w, value))/8)
               + coalesce(lag(value,3) OVER w,
                          coalesce(lag(value,2) OVER w,
                                   coalesce(lag(value,1) OVER w, value)))/8
               AS ewma
      FROM events WHERE user_id % 5 = 0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY event_id""")) { (s, dir) =>
      graft.operators.TimeSeries.ewmaTruncated(
          t(s, dir, "events").filter(col("user_id") % 5 === 0),
          "user_id", "ts", "value", "event_id")
        .select(col("event_id"), col("user_id"), col("ewma"))
        .orderBy("event_id")
    },

    // Rolling z-score anomalies (Stats.rollingAnomalies): the trailing
    // |x − mean| > 2σ test evaluated squared and cross-multiplied — pure
    // 64-bit integer arithmetic on fixed-point-gridded values, so the
    // flag set is engine-exact (no FP variance, no sqrt). One window
    // exchange on the user; all three rolling sums share the frame.
    QueryDef("ts6_anomaly", Some("""
      WITH g AS (SELECT event_id, user_id, ts, value,
                   CAST(floor(value * 100) AS BIGINT) AS gv
                 FROM events),
      m AS (SELECT event_id, user_id, value, gv,
              count(*) OVER w AS n,
              sum(gv) OVER w AS sx,
              sum(gv * gv) OVER w AS sxx
            FROM g
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
      SELECT event_id, user_id, value,
             CAST((n*gv - sx)*(n*gv - sx) AS BIGINT) AS dev2,
             CAST(n*sxx - sx*sx AS BIGINT) AS var_num
      FROM m
      WHERE n = 10 AND (n*gv - sx)*(n*gv - sx) > 4 * (n*sxx - sx*sx)
      ORDER BY event_id""")) { (s, dir) =>
      graft.operators.Stats.rollingAnomalies(t(s, dir, "events"),
          Seq("user_id"), "value", Seq("ts", "event_id"),
          win = 9, tau2 = 4L)
        .filter(col("is_anom"))
        .select(col("event_id"), col("user_id"), col("value"),
          col("dev2"), col("var_num"))
        .orderBy("event_id")
    },

    // TIME TRAVEL over versioned snapshots: three upsert versions land as
    // v0/v1/v2 (the mergeSink layout), then the gate reads AS OF v1 via
    // latestSnapshotBefore — historical reads from an immutable version
    // chain, no rewritten files. The oracle reconstructs v1's content
    // arithmetically (v0 keys + v1's doubled-price upserts, v2 absent).
    QueryDef("e4_time_travel", Some("""
      SELECT o_orderstatus,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(CASE WHEN o_orderkey % 3 = 1
                             THEN o_totalprice * 2 ELSE o_totalprice END
                           AS DECIMAL(18,6))) AS DOUBLE) AS sum_p
      FROM orders WHERE o_orderkey % 3 IN (0, 1)
      GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      val snapDir = graft.Scratch.fresh("ttravel")
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      orders.filter(col("o_orderkey") % 3 === 0)
        .write.mode("overwrite").parquet(s"$snapDir/v0")
      val u1 = orders.filter(col("o_orderkey") % 3 === 1)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      Snapshot.upsert(s.read.parquet(s"$snapDir/v0"), u1, Seq("o_orderkey"))
        .write.mode("overwrite").parquet(s"$snapDir/v1")
      val u2 = orders.filter(col("o_orderkey") % 3 === 2)
      Snapshot.upsert(s.read.parquet(s"$snapDir/v1"), u2, Seq("o_orderkey"))
        .write.mode("overwrite").parquet(s"$snapDir/v2")
      val asOfV1 = graft.streaming.Streams
        .latestSnapshotBefore(s, snapDir, bound = 2)
        .getOrElse(sys.error("v1 snapshot must exist"))
      s.read.parquet(asOfV1)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double")
            .as("sum_p"))
        .orderBy("o_orderstatus")
    },

    // Corrupt-tolerant JSON ingest (S1 hardened): a JSONL landing file
    // where every doc_id % 50 line is malformed, read back PERMISSIVE
    // with the corrupt records captured in _corrupt — the posture a crawl
    // ingest needs (count and quarantine bad lines, never fail the job).
    // The zip connector's mode=permissive is the archive-level sibling.
    QueryDef("s8_json_corrupt", Some("""
      SELECT CASE WHEN doc_id % 50 = 0 THEN '__corrupt' ELSE lang END AS grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(min(CASE WHEN doc_id % 50 = 0 THEN NULL ELSE doc_id END) AS BIGINT) AS min_id,
             CAST(max(CASE WHEN doc_id % 50 = 0 THEN NULL ELSE doc_id END) AS BIGINT) AS max_id,
             CAST(sum(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_raw
      FROM documents GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      import org.apache.spark.sql.types._
      val staged = graft.Scratch.fresh("json-corrupt")
      t(s, dir, "documents")
        .select(when(col("doc_id") % 50 === 0,
            concat(lit("{broken "), col("doc_id").cast("string")))
          .otherwise(to_json(struct(col("doc_id"), col("lang"))))
          .as("value"))
        .write.mode("overwrite").text(staged)
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType),
        StructField("_corrupt", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(staged)
        .groupBy(coalesce(col("lang"), lit("__corrupt")).as("grp"))
        .agg(count(lit(1)).as("n"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"),
          sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("n_raw"))
        .orderBy("grp")
    },

    // OHLC downsampling (TimeSeries.downsampleOhlc): daily bars per event
    // type — open/close under the (ts, event_id) total order, exact
    // min/max/count, decimal-exact sum. The other half of resampling:
    // ts1 fills gaps up, ts2 collapses detail down.
    QueryDef("ts2_ohlc", Some("""
      WITH r AS (SELECT event_type, date_trunc('day', ts) AS d, value,
                   row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                      ORDER BY ts, event_id) AS ra,
                   row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rd
                 FROM events)
      SELECT event_type, strftime(d, '%Y-%m-%d') AS day_s,
             CAST(max(CASE WHEN ra = 1 THEN value END) AS DOUBLE) AS open,
             CAST(max(value) AS DOUBLE) AS high,
             CAST(min(value) AS DOUBLE) AS low,
             CAST(max(CASE WHEN rd = 1 THEN value END) AS DOUBLE) AS close,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
      FROM r GROUP BY event_type, d ORDER BY event_type, day_s""")) { (s, dir) =>
      graft.operators.TimeSeries.downsampleOhlc(
          t(s, dir, "events"), "event_type", "ts", "value", "event_id",
          unit = "day")
        .select(col("event_type"),
          date_format(col("bucket"), "yyyy-MM-dd").as("day_s"),
          col("open"), col("high"), col("low"), col("close"),
          col("n"), col("sum_v"))
        .orderBy("event_type", "day_s")
    },

    // Partitioned write + planning-time pruning, end to end: land events
    // Hive-partitioned by event_type, read one partition back, aggregate.
    QueryDef("s3_partition_prune", Some("""
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
             min(event_id) AS min_id, max(event_id) AS max_id
      FROM events WHERE event_type = 'click'""")) { (s, dir) =>
      val out = graft.Scratch.fresh("part-prune")
      t(s, dir, "events").write.mode("overwrite")
        .partitionBy("event_type").parquet(out)
      val pruned = s.read.parquet(out).filter(col("event_type") === "click")
      val scan = pruned.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      val scanned = scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters)
        .flatMap(_.files.map(_.getPath.toString))
      require(scanned.nonEmpty && scanned.forall(_.contains("event_type=click")),
        "partition pruning must restrict the scan to the click partition")
      pruned.agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_v"),
        min("event_id").as("min_id"), max("event_id").as("max_id"))
    },

    // Row-level quality quarantine: per-rule violation counts plus the
    // clean-row count — the split-don't-fail sibling of the R5 check gate.
    // Rule evaluation is a codegen'd projection; only violating rows
    // shuffle for the audit.
    QueryDef("r8_quarantine", Some("""
      WITH a AS (
        SELECT 'bounded_price' AS rule,
          CAST(sum(CASE WHEN NOT (o_totalprice < CAST(300000 AS DOUBLE))
                        THEN 1 ELSE 0 END) AS BIGINT) AS n
        FROM orders
        UNION ALL
        SELECT 'positive_price',
          CAST(sum(CASE WHEN NOT (o_totalprice > CAST(0 AS DOUBLE))
                        THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'known_status',
          CAST(sum(CASE WHEN NOT (o_orderstatus IN ('O','F','P'))
                        THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT '__valid',
          CAST(sum(CASE WHEN o_totalprice > CAST(0 AS DOUBLE)
                         AND o_totalprice < CAST(300000 AS DOUBLE)
                         AND o_orderstatus IN ('O','F','P')
                        THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders)
      SELECT rule, n FROM a ORDER BY rule""")) { (s, dir) =>
      graft.checks.Quarantine.audit(t(s, dir, "orders"), Seq(
        "positive_price" -> (col("o_totalprice") > 0d),
        "bounded_price" -> (col("o_totalprice") < 300000d),
        "known_status" -> col("o_orderstatus").isin("O", "F", "P")))
        .orderBy("rule")
    },

    // Schema evolution: two parquet batches with different column sets,
    // merged at read (mergeSchema) — the data-lake reality where a crawl
    // adds columns over time. Footer merging is distributed; the oracle
    // recomputes the union-by-name semantics closed-form.
    QueryDef("s4_schema_merge", Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_lang,
        CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_source,
        CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END) AS BIGINT)
          AS sum_chars
      FROM documents""")) { (s, dir) =>
      val out = graft.Scratch.fresh("schema-merge")
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "lang")
        .write.mode("overwrite").parquet(s"$out/batch=1")
      docs.filter(col("doc_id") % 2 === 1).select("doc_id", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$out/batch=2")
      val merged = s.read.option("mergeSchema", "true")
        .parquet(s"$out/batch=1", s"$out/batch=2")
      require(merged.columns.sorted.toSeq ==
        Seq("doc_id", "lang", "n_chars", "source"),
        s"mergeSchema must union the batch schemas, got ${merged.columns.toSeq}")
      merged.agg(count(lit(1)).as("n_rows"),
        sum(when(col("lang").isNotNull, 1).otherwise(0)).cast("long")
          .as("n_lang"),
        sum(when(col("source").isNotNull, 1).otherwise(0)).cast("long")
          .as("n_source"),
        coalesce(sum("n_chars"), lit(0L)).cast("long").as("sum_chars"))
    },

    // Dynamic partition overwrite: rewrite ONLY the partitions present in
    // the incoming batch, leaving sibling partitions untouched — the
    // incremental-reprocess semantics a daily pipeline needs once
    // truncate-load stops scaling. The oracle recomputes the post-rewrite
    // state closed-form; a static-mode wipe of the other language
    // partitions would fail the per-lang counts.
    QueryDef("s5_dynamic_overwrite", Some("""
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN lang = 'en' THEN n_chars * 2 ELSE n_chars END)
             AS BIGINT) AS sum_chars
      FROM documents GROUP BY lang ORDER BY lang""")) { (s, dir) =>
      val out = graft.Scratch.fresh("dyn-overwrite")
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      docs.write.mode("overwrite").partitionBy("lang").parquet(out)
      docs.filter(col("lang") === "en")
        .withColumn("n_chars", col("n_chars") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum("n_chars").cast("long").as("sum_chars"))
        .orderBy("lang")
    },

    // Backfill idempotency (O4+/Airflow catchup semantics — the reference
    // DAG is a daily schedule): the per-date job writes its logical
    // date's partition under dynamic overwrite, the schedule runs four
    // dates, then the first date is RE-RUN as a backfill — re-running a
    // date must replace its partition, not duplicate it, leaving the
    // table equal to a single clean run. The driver-side loop is over
    // LOGICAL DATES (the schedule, bounded), never over data.
    QueryDef("o11_backfill", Some("""
      WITH e AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
                 FROM events),
      mn AS (SELECT min(d) AS d0 FROM e)
      SELECT d, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM e, mn WHERE d <= d0 + 3
      GROUP BY d ORDER BY d""")) { (s, dir) =>
      val out = graft.Scratch.fresh("backfill")
      val ev = t(s, dir, "events").withColumn("d", to_date(col("ts")))
      // The schedule is CALENDAR dates d0..d0+3 (Airflow's @daily interval
      // runs every date in the window whether or not data exists), not the
      // first four DISTINCT data dates — a gap day is an empty run, and
      // the backfill head re-run is always d0 (which min() guarantees
      // exists). This also mirrors the oracle's `d <= d0 + 3` exactly.
      val d0 = ev.agg(min(col("d"))).head().getDate(0)
      val dates = (0 to 3).map { i =>
        java.sql.Date.valueOf(d0.toLocalDate.plusDays(i.toLong))
      }
      def runDay(d: java.sql.Date): Unit =
        ev.filter(col("d") === d)
          .groupBy("d")
          .agg(count(lit(1)).as("n_events"),
            countDistinct("user_id").as("n_users"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("d").parquet(out)
      dates.foreach(runDay) // the daily schedule
      runDay(dates.head)    // backfill re-run: must be idempotent
      s.read.parquet(out)
        .select(col("d"), col("n_events"), col("n_users"))
        .orderBy("d")
    },

    // Sequence packing: concat-then-chunk token budgeting per language
    // shard — per pack: docs, tokens, and the spilled-over tail of the
    // last doc (packs are budget-sized except each shard's final one).
    QueryDef("x6_pack", Some("""
      WITH d AS (
        SELECT lang, doc_id, len(string_split(text,' ')) AS n_tokens
        FROM documents),
      c AS (SELECT lang, doc_id, n_tokens,
              sum(n_tokens) OVER (PARTITION BY lang
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM d),
      p AS (SELECT lang, doc_id, n_tokens,
              CAST((cum - n_tokens) // 256 AS BIGINT) AS pack_id FROM c)
      SELECT lang, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      FROM p GROUP BY lang, pack_id ORDER BY lang, pack_id""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens",
          size(graft.operators.TextOps.tokens(col("text"))).cast("long"))
      graft.operators.Pack.packSequences(docs, "doc_id", "n_tokens",
          "lang", budget = 256L)
        .groupBy("lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
        .orderBy("lang", "pack_id")
    },

    // Mixture sampling: per-language quotas shape the training mix; the
    // draw is the same hash order as stratified sampling, so the mix is
    // partition-invariant and re-derivable.
    QueryDef("x7_mixture", Some("""
      WITH r AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents)
      SELECT doc_id, lang FROM r
      WHERE rn <= (CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 25 ELSE 10 END)
      ORDER BY doc_id""")) { (s, dir) =>
      graft.operators.Sample.mixture(t(s, dir, "documents"),
          "lang", "doc_id", Map("en" -> 50, "zh" -> 25), default = 10)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // Temperature mixture (Sample.temperatureMixture): α=1/2 quotas
    // derived from per-language corpus counts — q = isqrt(n) with the
    // exact ±1 integer fix-up over the IEEE √ estimate, overall take
    // 1/4 of the corpus, domain shares q/Σq by integer division, the
    // same md5-ranked draw as x7_mixture. The upsample-the-tail
    // rebalancing of multilingual corpora, fully in-plan.
    QueryDef("x7_temperature", Some("""
      WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      q AS (SELECT lang, n,
              CASE WHEN (CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) + 1)
                        * (CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) + 1)
                        <= n
                   THEN CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) + 1
                   WHEN CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)
                        * CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) > n
                   THEN CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) - 1
                   ELSE CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) END
                AS q
            FROM c),
      t AS (SELECT sum(q) AS sq, sum(n) AS tot FROM q),
      k AS (SELECT lang, ((tot * 1) // 4 * q) // sq AS take FROM q, t),
      r AS (SELECT doc_id, lang,
              row_number() OVER (PARTITION BY lang
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents)
      SELECT r.doc_id, r.lang FROM r JOIN k USING (lang)
      WHERE rn <= take ORDER BY doc_id""")) { (s, dir) =>
      graft.operators.Sample.temperatureMixture(t(s, dir, "documents"),
          "lang", "doc_id", totalNum = 1, totalDen = 4)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // Epoch schedule (Sample.epochSchedule): per-language repeat
    // factors toward an equal-share token target, capped at 4 epochs —
    // ceil by integer arithmetic, so the schedule hash-gates. The
    // "how many times may the tail repeat" half of mixture design.
    QueryDef("x7_epochs", Some("""
      WITH tk AS (SELECT lang,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
                  FROM documents),
      g AS (SELECT lang, count(*) AS n_docs, sum(nt) AS tokens
            FROM tk GROUP BY 1),
      t AS (SELECT sum(tokens) AS b, count(*) AS k FROM g)
      SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
             CAST(tokens AS BIGINT) AS tokens,
             CAST(CASE WHEN tokens > 0
               THEN least(4, (b // k + tokens - 1) // tokens)
               ELSE 0 END AS BIGINT) AS repeat_factor,
             CAST(CASE WHEN tokens > 0
               THEN least(4, (b // k + tokens - 1) // tokens) * tokens
               ELSE 0 END AS BIGINT) AS achieved
      FROM g, t ORDER BY lang""")) { (s, dir) =>
      graft.operators.Sample.epochSchedule(
          t(s, dir, "documents").withColumn("nt",
            size(graft.operators.TextOps.tokens(col("text"))).cast("long")),
          "lang", "nt", cap = 4)
        .orderBy("lang")
    },

    // K-fold assignment (Sample.kfold): md5-nibble folds (k=4 — even
    // 4-nibble bands, unbiased by construction), summarized per fold.
    // The cross-validation slice derivation, zero shuffles to assign.
    QueryDef("x7_kfold", Some("""
      WITH f AS (SELECT doc_id, lang,
               CAST((strpos('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) // 4
                 AS INTEGER) AS fold,
               len(string_split(text, ' ')) AS nt
             FROM documents)
      SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      FROM f GROUP BY 1 ORDER BY fold""")) { (s, dir) =>
      graft.operators.Sample.kfold(
          t(s, dir, "documents").withColumn("nt",
            size(graft.operators.TextOps.tokens(col("text"))).cast("long")),
          "doc_id", k = 4)
        .groupBy("fold")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
          countDistinct("lang").as("n_langs"))
        .orderBy("fold")
    },

    // Benchmark decontamination: shingle-overlap fraction of each training
    // doc against the benchmark split's shingle vocabulary.
    QueryDef("x6_decontam", Some("""
      WITH tsh AS (
        SELECT DISTINCT doc_id, array_to_string(toks[i:i+2],' ') AS shingle
        FROM (SELECT doc_id, string_split(text,' ') AS toks
              FROM documents WHERE doc_id % 17 <> 0) dd,
             LATERAL (SELECT unnest(range(1, greatest(len(dd.toks)-1,1))) AS i) ii),
      bsh AS (
        SELECT DISTINCT array_to_string(toks[i:i+2],' ') AS shingle
        FROM (SELECT string_split(text,' ') AS toks
              FROM documents WHERE doc_id % 17 = 0) dd,
             LATERAL (SELECT unnest(range(1, greatest(len(dd.toks)-1,1))) AS i) ii),
      sc AS (
        SELECT t.doc_id, count(*) AS n_sh,
               CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit
        FROM tsh t LEFT JOIN bsh b ON t.shingle = b.shingle
        GROUP BY t.doc_id)
      SELECT doc_id, n_sh, n_hit,
             CAST(n_hit AS DOUBLE) / CAST(n_sh AS DOUBLE) AS frac
      FROM sc
      WHERE CAST(n_hit AS DOUBLE) / CAST(n_sh AS DOUBLE) >= CAST(0.5 AS DOUBLE)
      ORDER BY doc_id""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.contamination(
          docs.filter(col("doc_id") % 17 =!= 0),
          docs.filter(col("doc_id") % 17 === 0),
          "doc_id", "text", n = 3)
        .filter(col("frac") >= 0.5)
        .orderBy("doc_id")
    },

    // Sketch-based decontamination — driver-checkable containment form
    // (VERDICT r12 #4). Bloom hit counts are UPPER bounds (false
    // positives at ~fpp, never false negatives), so every doc the exact
    // probe flags at frac >= 0.5 MUST also clear the bloom threshold.
    // The gate outputs the exact x6_decontam rows (DuckDB replays them
    // verbatim) plus that containment verdict as a hashable BOOLEAN;
    // DedupSpec asserts the same invariant in-engine.
    QueryDef("x6_decontam_bloom", Some("""
      WITH tsh AS (
        SELECT DISTINCT doc_id, array_to_string(toks[i:i+2],' ') AS shingle
        FROM (SELECT doc_id, string_split(text,' ') AS toks
              FROM documents WHERE doc_id % 17 <> 0) dd,
             LATERAL (SELECT unnest(range(1, greatest(len(dd.toks)-1,1))) AS i) ii),
      bsh AS (
        SELECT DISTINCT array_to_string(toks[i:i+2],' ') AS shingle
        FROM (SELECT string_split(text,' ') AS toks
              FROM documents WHERE doc_id % 17 = 0) dd,
             LATERAL (SELECT unnest(range(1, greatest(len(dd.toks)-1,1))) AS i) ii),
      sc AS (
        SELECT t.doc_id, count(*) AS n_sh,
               CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit
        FROM tsh t LEFT JOIN bsh b ON t.shingle = b.shingle
        GROUP BY t.doc_id)
      SELECT doc_id, n_sh, n_hit,
             CAST(n_hit AS DOUBLE) / CAST(n_sh AS DOUBLE) AS frac,
             TRUE AS bloom_flagged
      FROM sc
      WHERE CAST(n_hit AS DOUBLE) / CAST(n_sh AS DOUBLE) >= CAST(0.5 AS DOUBLE)
      ORDER BY doc_id""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 17 =!= 0)
      val bench = docs.filter(col("doc_id") % 17 === 0)
      val exact = Dedup.contamination(train, bench, "doc_id", "text", n = 3)
        .filter(col("frac") >= 0.5)
      val flagged = Dedup.contaminationBloom(train, bench, "doc_id", "text",
          n = 3, expectedItems = 100000L, fpp = 0.01)
        .filter(col("frac_ub") >= 0.5)
        .select(col("doc_id").as("bid"))
      exact.join(flagged, col("doc_id") === col("bid"), "left")
        .select(col("doc_id"), col("n_sh"), col("n_hit"), col("frac"),
          col("bid").isNotNull.as("bloom_flagged"))
        .orderBy("doc_id")
    },

    // Small-files compaction (io.Compact): 64 splinter files rewritten
    // into size-targeted outputs; the gate proves the rewrite is
    // content-preserving (per-type counts + decimal-exact value sums
    // against the source table) and the spec asserts the file-count
    // arithmetic.
    QueryDef("s6_compact", Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
      FROM events GROUP BY event_type ORDER BY event_type""")) { (s, dir) =>
      val src = graft.Scratch.fresh("compact-src")
      val dest = graft.Scratch.fresh("compact-dest")
      t(s, dir, "events").repartition(64).write.mode("overwrite").parquet(src)
      graft.io.Compact.compactTo(s, src, dest,
        graft.model.Format.Parquet, targetBytes = 8L * 1024 * 1024)
      s.read.parquet(dest)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_v"))
        .orderBy("event_type")
    },

    // IO calibration line (VERDICT r12 #3): a fixed tiny
    // write+checkpoint+read query whose code and input NEVER change
    // round-over-round (sf-independent: spark.range, not the tables), so
    // IO-noise windows self-adjudicate in the bench artifact the way CPU
    // drift already does via q1_agg. It exercises exactly the cost
    // classes both r12 anomalies lived in — localCheckpoint block writes
    // (the x8 family's FreshCheckpoint rounds) and parquet write+read
    // (the discarded sf1 run's e1_upsert) — and its deterministic
    // aggregate keeps it oracle-checkable like every other gate.
    // Bench names it "calibration_io" alongside q1_agg ("calibration").
    QueryDef("s13_io_cal", Some("""
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(i) AS BIGINT) AS s,
             CAST(count(DISTINCT i % 1000) AS BIGINT) AS g
      FROM range(0, 200000) t(i)"""), bench = true) { (s, dir) =>
      val base = s.range(0, 200000L, 1, 32).toDF("i")
        .withColumn("pad", md5(col("i").cast("string")))
      val pin = org.apache.spark.sql.graft.FreshCheckpoint.pinned(base)
      // FIXED path + overwrite, not Scratch.fresh (ADVICE r13): the
      // calibration runs on every bench fork / verify / rerun, and a
      // fresh UUID dir per execution accreted scratch space forever.
      // Overwrite clears the previous run's files first; the read below
      // is lazy, so an in-body delete-after-read isn't possible.
      val out = new java.io.File(graft.Scratch.scratch, "io-cal-fixed")
        .getAbsolutePath
      pin.df.write.mode("overwrite").parquet(out)
      org.apache.spark.sql.graft.FreshCheckpoint.release(pin)
      s.read.parquet(out)
        .agg(count(lit(1)).as("n"), sum("i").as("s"),
          countDistinct(col("i") % 1000).as("g"))
    },

    // Zip archives as a TABLE (o.a.s.sql.graft.ZipTextSource, DataSource
    // V2): documents staged into two archives, then read back through the
    // connector (one partition per archive; member filters and column
    // pruning push into the scan) and aggregated — identical to reading
    // the originals.
    QueryDef("s7_zip_table", Some("""
      SELECT CAST(doc_id % 2 AS BIGINT) AS shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
             CAST(min(doc_id) AS BIGINT) AS min_id,
             CAST(max(doc_id) AS BIGINT) AS max_id
      FROM documents GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      val zdir = graft.Scratch.fresh("zip-table")
      // Stage through the connector's own WRITE path (temp-plus-rename
      // commit, one archive per task), then read back through its scan.
      t(s, dir, "documents")
        .select(concat(lit("doc_"), col("doc_id"), lit(".txt")).as("member"),
          col("text"))
        .repartition(2)
        .write.format("graft-zip").mode("overwrite").save(zdir)
      s.read.format("graft-zip").load(zdir)
        .select(regexp_extract(col("member"), "doc_(\\d+)\\.txt", 1)
          .cast("long").as("doc_id"), col("n_bytes"))
        .groupBy((col("doc_id") % 2).as("shard"))
        .agg(count(lit(1)).as("n_docs"), sum("n_bytes").as("sum_bytes"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("shard")
    },

    // CSV zone round-trip (Readers/Writers, Format.Csv): orders written
    // with headers, read back under the EXPLICIT schema (the production
    // path — inference re-reads the data), then aggregated. Doubles
    // survive because Spark writes shortest-round-trip decimal strings;
    // dates are ISO text in both directions. Gate proves the text zone is
    // content-preserving against the parquet source.
    QueryDef("s9_csv", Some("""
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_price,
             CAST(min(o_orderdate) AS VARCHAR) AS first_d,
             CAST(max(o_orderdate) AS VARCHAR) AS last_d
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))
    { (s, dir) =>
      val dest = graft.Scratch.fresh("csv-zone")
      val src = t(s, dir, "orders").select("o_orderkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      graft.io.Writers.write(src, graft.model.Format.Csv, dest)
      graft.io.Readers.read(s, graft.model.Format.Csv, dest,
          Some(src.schema))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double")
            .as("sum_price"),
          min("o_orderdate").cast("string").as("first_d"),
          max("o_orderdate").cast("string").as("last_d"))
        .orderBy("o_orderstatus")
    },

    // ORC zone round-trip (Readers/Writers, Format.Orc): the columnar
    // sibling — types carried in file metadata, no schema override
    // needed; same content-preservation contract as s9_csv.
    QueryDef("s10_orc", Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_price,
             CAST(min(o_orderkey) AS BIGINT) AS min_key,
             CAST(max(o_orderkey) AS BIGINT) AS max_key
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))
    { (s, dir) =>
      val dest = graft.Scratch.fresh("orc-zone")
      graft.io.Writers.write(
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority",
          "o_totalprice"),
        graft.model.Format.Orc, dest)
      graft.io.Readers.read(s, graft.model.Format.Orc, dest)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double")
            .as("sum_price"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
        .orderBy("o_orderpriority")
    },

    // Dynamic partition pruning end-to-end: fact written Hive-partitioned
    // on priority, joined to a parquet dim filtered to its "hot" tier —
    // Spark derives the partition filter FROM THE JOIN at runtime (the
    // dim's surviving keys), so the fact scan reads 2 of 5 partitions
    // without any literal predicate on the fact side. The gate proves
    // content equality; `ZoneIOSpec` asserts the dynamicpruning
    // expression actually lands in the scan's partition filters. (The
    // dim filter must be an attribute=literal comparison: a bare boolean
    // column is simplified before PartitionPruning runs and then fails
    // its isLikelySelective test — PLANS.md round 4, s11_dpp.)
    QueryDef("s11_dpp", Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_price
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")) { (s, dir) =>
      import s.implicits._
      val fact = graft.Scratch.fresh("dpp-fact")
      val dimP = graft.Scratch.fresh("dpp-dim")
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(fact)
      Seq(("1-URGENT", "hot"), ("2-HIGH", "hot"), ("3-MEDIUM", "cold"),
        ("4-NOT SPECIFIED", "cold"), ("5-LOW", "cold"))
        .toDF("prio", "tier").write.mode("overwrite").parquet(dimP)
      s.read.parquet(fact)
        .join(s.read.parquet(dimP).filter(col("tier") === "hot"),
          col("o_orderpriority") === col("prio"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double")
            .as("sum_price"))
        .orderBy("o_orderpriority")
    },

    // Exact-size deterministic sample (Sample.exactK): the 100 docs with
    // the globally smallest (md5(id), id) — reservoir sampling without
    // the nondeterminism; planned as TakeOrderedAndProject (per-partition
    // top-k, no global sort). Output re-ordered by doc_id so the gate's
    // total order is over data columns.
    QueryDef("x7_exact_k", Some("""
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang FROM documents
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100)
      ORDER BY doc_id""")) { (s, dir) =>
      graft.operators.Sample.exactK(
          t(s, dir, "documents").select("doc_id", "lang"), "doc_id", 100)
        .orderBy("doc_id")
    },

    // Importance-weighted sampling (Sample.weightedBernoulli): keep each
    // doc with probability = its type-token ratio — "sample proportional
    // to quality". The md5-draw vs hex-threshold compare is exact in both
    // engines; a pure filter, no shuffle.
    QueryDef("x7_weighted", Some("""
      WITH wgt AS (
        SELECT doc_id, lang,
          CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
            / CAST(len(string_split(text,' ')) AS DOUBLE) AS w
        FROM documents)
      SELECT doc_id, lang FROM wgt
      WHERE substr(md5(CAST(doc_id AS VARCHAR)),1,8) <
            lower(lpad(to_hex(CAST(floor(w * 4294967295.0) AS BIGINT)), 8, '0'))
      ORDER BY doc_id""")) { (s, dir) =>
      val toks = graft.operators.TextOps.tokens(col("text"))
      val ttr = size(array_distinct(toks)).cast("double") /
        size(toks).cast("double")
      t(s, dir, "documents")
        .filter(graft.operators.Sample.weightedBernoulli("doc_id", ttr))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // Token-budget mixture (Sample.tokenBudget): per language, admit docs
    // in deterministic hash order until the language's token budget is
    // spent — training mixes are specified in tokens, not documents.
    QueryDef("x7_token_budget", Some("""
      WITH tk AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
               sum(CAST(len(string_split(text,' ')) AS BIGINT)) OVER
                 (PARTITION BY lang
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM documents)
      SELECT doc_id, lang, n_tok FROM tk
      WHERE cum - n_tok < (CASE lang WHEN 'en' THEN 2000 ELSE 800 END)
      ORDER BY doc_id""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("n_tok",
          size(graft.operators.TextOps.tokens(col("text"))).cast("long"))
      graft.operators.Sample.tokenBudget(docs, "lang", "doc_id", "n_tok",
          Map("en" -> 2000L), default = 800L)
        .select("doc_id", "lang", "n_tok")
        .orderBy("doc_id")
    },

    // Incremental aggregate maintenance (Snapshot.aggPartials/mergePartials):
    // a materialized per-customer aggregate built from the historical load
    // (keys % 7 != 0) is refreshed with the new batch's partials only —
    // the base fact table is never re-scanned. Counts add; decimal-exact
    // sums add without drift, so the refresh is bit-identical to the full
    // recompute the oracle runs.
    QueryDef("e5_incr_agg", Some("""
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS total
      FROM orders GROUP BY o_custkey ORDER BY o_custkey"""), bench = true) { (s, dir) =>
      val o = t(s, dir, "orders")
      val sums = Seq("total" -> "o_totalprice")
      val base = Snapshot.aggPartials(
        o.filter(col("o_orderkey") % 7 =!= 0), Seq("o_custkey"), sums)
      val delta = Snapshot.aggPartials(
        o.filter(col("o_orderkey") % 7 === 0), Seq("o_custkey"), sums)
      Snapshot.mergePartials(base, delta, Seq("o_custkey"))
        .select(col("o_custkey"), col("cnt"),
          col("total").cast("double").as("total"))
        .orderBy("o_custkey")
    },

    // Incremental JOIN-view maintenance (Snapshot.incrJoinDelta): the
    // orders⋈customer view is refreshed from table deltas via the delta
    // algebra Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB — the stored base join
    // never re-runs, the oracle recomputes from scratch, and the two are
    // bit-identical (insert-only multiset semantics).
    QueryDef("e6_incr_join", Some("""
      SELECT o_orderkey, o_custkey, c_name, o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey
      ORDER BY o_orderkey""")) { (s, dir) =>
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_name"),
          col("c_nationkey"))
      val (baseA, deltaA) = (o.filter(col("o_orderkey") % 7 =!= 0),
        o.filter(col("o_orderkey") % 7 === 0))
      val (baseB, deltaB) = (c.filter(col("c_nationkey") =!= 3),
        c.filter(col("c_nationkey") === 3))
      val view0 = baseA.join(baseB, Seq("o_custkey"))
      view0.unionByName(
          Snapshot.incrJoinDelta(baseA, deltaA, baseB, deltaB,
            Seq("o_custkey")))
        .select("o_orderkey", "o_custkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // Point-in-time dimension lookup (temporal join): purchases joined to
    // the SCD2 state valid AT PURCHASE TIME — the canonical warehouse
    // pattern SCD2 history exists for. Spark side = AsOf.joinAsOf on
    // (user, valid_from): ONE window shuffle, no interval-containment
    // range join, no row explosion; version is the equal-timestamp
    // tiebreak. The oracle joins on interval containment — equivalent
    // because versions tile each user's time axis.
    QueryDef("e7_temporal_join", Some("""
      WITH e AS (SELECT user_id, event_type, ts, event_id
                 FROM events WHERE user_id % 25 = 0),
      c AS (SELECT user_id, event_type, ts AS valid_from, event_id,
                   lag(event_type) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM e),
      v AS (SELECT user_id, event_type, valid_from, event_id
            FROM c WHERE prev IS NULL OR prev <> event_type),
      h AS (SELECT user_id, event_type AS state_at, valid_from,
                   lead(valid_from) OVER w AS valid_to,
                   CAST(row_number() OVER w AS BIGINT) AS version
            FROM v
            WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)),
      p AS (SELECT event_id, user_id, ts FROM e
            WHERE event_type = 'purchase')
      SELECT p.event_id, p.user_id, h.state_at, h.version
      FROM p LEFT JOIN h
        ON h.user_id = p.user_id AND h.valid_from <= p.ts
           AND (p.ts < h.valid_to OR h.valid_to IS NULL)
      ORDER BY p.event_id""")) { (s, dir) =>
      val e = t(s, dir, "events").filter(col("user_id") % 25 === 0)
      val hist = Snapshot.scd2(e, "user_id", "event_type", "ts", "event_id")
        .select(col("user_id"), col("event_type").as("state_at"),
          col("valid_from"), col("version").cast("long").as("version"))
      val p = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      graft.operators.AsOf.joinAsOf(p, hist, Seq("user_id"),
          "ts", "valid_from", rightCols = Seq("state_at", "version"),
          rightOrder = Seq("version"))
        .select("event_id", "user_id", "state_at", "version")
        .orderBy("event_id")
    },

    // Time-weighted average per user (TimeSeries.timeWeightedAvg): each
    // observation holds until its successor, so its weight is the gap —
    // the irregular-sampling-proof mean. Grid-scaled values × integer-ms
    // durations keep the weighted sum in exact long arithmetic; only the
    // final two divisions are floating point, written identically in the
    // oracle.
    QueryDef("ts3_twap", Some("""
      WITH o AS (SELECT user_id, epoch_us(ts) AS us,
                   CAST(floor(value * 1000) AS BIGINT) AS gv, event_id
                 FROM events),
      d AS (SELECT user_id, gv,
              (lead(us) OVER (PARTITION BY user_id
                              ORDER BY us, event_id) - us) // 1000 AS dur
            FROM o),
      a AS (SELECT user_id, sum(gv * dur) AS wsum, sum(dur) AS dur_ms
            FROM d WHERE dur IS NOT NULL GROUP BY user_id)
      SELECT user_id,
             CAST(wsum AS DOUBLE) / CAST(dur_ms AS DOUBLE)
               / CAST(1000 AS DOUBLE) AS twap,
             CAST(dur_ms AS BIGINT) AS dur_ms
      FROM a WHERE dur_ms > 0 ORDER BY user_id""")) { (s, dir) =>
      graft.operators.TimeSeries.timeWeightedAvg(t(s, dir, "events"),
          "user_id", "ts", "value", "event_id")
        .orderBy("user_id")
    },

    // Trailing-hour rolling stats (TimeSeries.rollingInterval): per user,
    // at every event, count + exact decimal sum over the value-based RANGE
    // frame [t − 1h, t] — the fixed TIME window for irregular series,
    // where ts6's ROWS frame counts a fixed number of rows. Same-ms ties
    // share one frame in both engines (value-based bounds, no peer
    // ambiguity); one exchange on the user key.
    QueryDef("ts7_rolling", Some("""
      SELECT event_id, user_id,
             CAST(count(*) OVER w AS BIGINT) AS n_win,
             CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
               AS sum_win
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                   RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
      ORDER BY event_id""")) { (s, dir) =>
      graft.operators.TimeSeries.rollingInterval(t(s, dir, "events"),
          "user_id", "ts", "value", widthMs = 3600000L)
        .select("event_id", "user_id", "n_win", "sum_win")
        .orderBy("event_id")
    },

    // Parquet AGGREGATE pushdown (s12): COUNT/MIN/MAX answered from
    // parquet footer statistics — at 100 TB the scan reads row-group
    // metadata, not data. Needs the DSv2 parquet path + the pushdown
    // conf, both armed only for this gate (eager localCheckpoint inside
    // the withConf scope, the r10 discipline); `MaintenanceSpec` asserts
    // the plan carries PushedAggregation and no data columns in
    // ReadSchema.
    QueryDef("s12_agg_pushdown", Some("""
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(min(l_orderkey) AS BIGINT) AS min_k,
             CAST(max(l_orderkey) AS BIGINT) AS max_k
      FROM lineitem ORDER BY n""")) { (s, dir) =>
      graft.Sessions.withConf(s)(
          "spark.sql.sources.useV1SourceList" -> "",
          "spark.sql.parquet.aggregatePushdown" -> "true") {
        s.read.parquet(s"${dir.stripSuffix("/")}/lineitem.parquet")
          .agg(count(lit(1)).as("n"),
            min("l_orderkey").as("min_k"), max("l_orderkey").as("max_k"))
          .orderBy("n")
          .localCheckpoint(true)
      }
    }
  )
}
