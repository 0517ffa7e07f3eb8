package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.{dec, gridFloor}

/** Distributed descriptive statistics: equi-width histograms and exact
  * second-moment statistics (variance / correlation). The reference's
  * analytics surface stops at count(*) (SURVEY.md §2.2 R4); these are the
  * profiling passes a data platform runs over every numeric column, built
  * so the results are deterministic under any partitioning.
  *
  * Each exact-arithmetic step has one definition. The steps other
  * operator modules share — the DECIMAL(38,0) carrier `dec`, the
  * `floor(v·grid)` lattice `gridFloor`, Pearson from exact moments —
  * live in [[Exact]]. The rank and test steps only this module uses —
  * the ROWS-frame running sum, doubled mid-ranks, tie sums, the 10⁻⁶
  * lattice sum and the two-group moments — are private defs below
  * [[localGrid]].
  */
object Stats {

  /** Materialize a GRID-sized cell histogram to a driver-local relation.
    *
    * The contingency/rank-test family re-reads its cell table three to
    * five times (marginals, totals, pair joins). `persist()` would avoid
    * the re-scan but pins grid-sized blocks in the BlockManager for the
    * life of the session (the leak class resolveClusters documents:
    * leaked storage measurably starves later memory-sensitive stages).
    * Since every caller's cell table is grid-sized BY CONTRACT (bounded
    * category/bin cardinality — tens to thousands of rows, never data),
    * the right form is one data-sized aggregate collected once, with all
    * downstream re-aggregations planned over a LocalRelation: zero cached
    * blocks, zero repeat scans, and every join against it broadcasts
    * trivially.
    */
  private def localGrid(df: DataFrame): DataFrame = {
    // Enforce the grid-size contract instead of trusting it: these are
    // public operators, and a caller passing a near-unique column would
    // otherwise OOM the driver on an unbounded collect. collect one row
    // past the bound so the failure is a clear contract error, not heap
    // exhaustion.
    val limit = maxGridCells
    val rows = df.limit(limit + 1).collect()
    require(rows.length <= limit,
      s"localGrid: cell table exceeds the $limit-cell contract bound — " +
        "contingency/rank statistics need bounded-cardinality " +
        "category/bin columns, not raw values (bucket or hash first)")
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Driver-side ceiling for [[localGrid]] cell tables: 4M cells ≈ a few
    * hundred MB of Rows — far above any legitimate contingency grid
    * (categories × bins), far below driver heap.
    */
  private val maxGridCells = 4000000

  /** Exact decimal zero: the empty-sum value of a DECIMAL(38,0) total. */
  private def dec0: Column = dec(lit(0))

  /** Running total of `c` over the ROWS frame up to and including the
    * current row, per `keys` in `order` — the cumulative count every
    * ECDF, rank and median statistic here reads.
    */
  private def runningSum(c: String, keys: Seq[Column],
                         order: Column): Column =
    sum(c).over(Window.partitionBy(keys: _*).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** [[runningSum]] of the rows strictly before the current one. */
  private def runningBefore(c: String, keys: Seq[Column],
                            order: Column): Column =
    runningSum(c, keys, order) - col(c)

  /** Doubled tie-averaged rank of a tie group of `t` rows with `cb` rows
    * before it: 2·avgRank = 2·cb + t + 1, an exact integer.
    */
  private def midRank2(cb: Column, t: Column): Column =
    lit(2L) * dec(cb) + dec(t) + 1

  /** t³ − t in exact integers: a tie group's term of the rank-test tie
    * correction Σ(t³−t), and at t = N the value that sum reaches when
    * every row ties (the degenerate-variance guard).
    */
  private def cubeTies(t: Column): Column =
    dec(t) * dec(t) * dec(t) - dec(t)

  /** t(t−1)(2t+5) in exact integers: the Kendall-family variance term,
    * per tie group or group size, and for the whole sample at t = n.
    */
  private def ties25(t: Column): Column =
    dec(t) * (dec(t) - 1) * (dec(lit(2)) * dec(t) + 5)

  /** Exact sum of a per-row double `term` on the 10⁻⁶ lattice: each term
    * floors to the integer `t6` (floor, not round — only floor is
    * rounding-mode-identical everywhere) and the integers sum in
    * DECIMAL(38,0). One row (q6); [[q6Value]] reads it back.
    */
  private def latticeSum(df: DataFrame, term: Column, t6: String): DataFrame =
    df.select(floor(term * lit(1e6)).as(t6))
      .agg(coalesce(sum(dec(col(t6))), dec0).as("q6"))

  /** A [[latticeSum]] total read back in units: q6 / 10⁶. */
  private def q6Value: Column = col("q6").cast("double") / lit(1e6)

  /** Two-pass equi-width histogram: pass 1 reduces to the global (min, max)
    * — one scalar row, broadcast back — pass 2 assigns each value its
    * bucket by pure arithmetic and counts per bucket.
    *
    * Scale posture: two scans and one `buckets`-sized aggregate; the
    * scalar (min, max) crossJoin is broadcast by construction, so nothing
    * shuffles but the tiny bucket counts. Bucket assignment
    * (`floor((x - lo) / w)`, clamped to the last bucket so `x = hi` lands
    * in it) is the same IEEE double arithmetic in any engine — the oracle
    * replays the formula verbatim. A degenerate column (`lo = hi`) puts
    * all rows in bucket 0 instead of dividing by zero.
    *
    * Output: (bucket, cnt), absent buckets are zero / not emitted.
    */
  def histogram(df: DataFrame, valueCol: String, buckets: Int): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val v = col(valueCol)
    val mm = df.agg(min(v).as("__lo"), max(v).as("__hi"))
    df.crossJoin(broadcast(mm))
      .select(
        when(col("__hi") === col("__lo"), lit(0L))
          .otherwise(least(
            floor((v - col("__lo")) /
              ((col("__hi") - col("__lo")) / buckets.toDouble)),
            lit(buckets - 1L)))
          .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Per-group min-max feature scaling: `(v − min) / (max − min)` into
    * [0, 1], the standard normalization before distance-based models.
    * Degenerate groups (all values equal) scale to 0.0 by definition
    * rather than dividing by zero.
    *
    * Scale posture: unordered min/max windows over the group key — one
    * exchange, no join, no second scan; the scaling itself is a pure
    * IEEE projection (identical in any engine, which is what lets the
    * oracle replay it).
    */
  def minMaxScale(df: DataFrame, keys: Seq[String], valueCol: String,
                  outCol: String = "scaled"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    val v = col(valueCol)
    df.withColumn("__lo", min(v).over(w))
      .withColumn("__hi", max(v).over(w))
      .withColumn(outCol,
        when(col("__hi") === col("__lo"), lit(0.0))
          .otherwise((v - col("__lo")) / (col("__hi") - col("__lo"))))
      .drop("__lo", "__hi")
  }

  /** Robust outlier detection by Tukey fences: per group, quartiles are
    * EXACT order statistics (the value at rank ⌈0.25·n⌉ / ⌈0.75·n⌉ under
    * the (`valueCol`, `ordCol`) total order — no interpolation, so every
    * derived bound is an actual data value and the whole computation is
    * engine-portable), and a row is an outlier when it falls outside
    * [q1 − k·iqr, q3 + k·iqr]. The robust alternative to z-score cuts:
    * the fences themselves are immune to the outliers they hunt.
    *
    * Scale posture: one ordered window (rank) and one unordered window
    * (n, quartile pick) over the same group key — one exchange total;
    * flagging is a projection. `k = 1.5` is exactly representable, so
    * the fence arithmetic is deterministic IEEE.
    *
    * Output: input columns + q1, q3, lo, hi, is_outlier.
    */
  def iqrOutliers(df: DataFrame, keys: Seq[String], valueCol: String,
                  ordCol: String, k: Double = 1.5): DataFrame = {
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(valueCol), col(ordCol))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    val v = col(valueCol)
    df.withColumn("__rn", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("q1",
        max(when(col("__rn") === ceil(col("__n") * 0.25), v)).over(wAll))
      .withColumn("q3",
        max(when(col("__rn") === ceil(col("__n") * 0.75), v)).over(wAll))
      .withColumn("lo", col("q1") - (col("q3") - col("q1")) * k)
      .withColumn("hi", col("q3") + (col("q3") - col("q1")) * k)
      .withColumn("is_outlier", v < col("lo") || v > col("hi"))
      .drop("__rn", "__n")
  }

  /** Robust (median/IQR) scaling: `(v − median) / (q3 − q1)` per group,
    * the outlier-immune alternative to z-scoring — the heavy tail that
    * wrecks a mean/stddev scaler moves a rank-based one by at most one
    * rank. Quartiles are EXACT order statistics under the
    * (`valueCol`, `ordCol`) total order (same contract as
    * [[iqrOutliers]]), so every bound is a real data value and the scaled
    * output is one subtract + one divide — engine-portable. Degenerate
    * groups (q1 = q3) scale to 0.0.
    *
    * Scale posture: one ordered + one unordered window over the same
    * group key — a single exchange; the scaling is a projection.
    */
  def robustScale(df: DataFrame, keys: Seq[String], valueCol: String,
                  ordCol: String, outCol: String = "scaled"): DataFrame = {
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(valueCol), col(ordCol))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    val v = col(valueCol)
    def rankPick(q: Double) =
      max(when(col("__rn") === ceil(col("__n") * q), v)).over(wAll)
    df.withColumn("__rn", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("med", rankPick(0.5))
      .withColumn("q1", rankPick(0.25))
      .withColumn("q3", rankPick(0.75))
      .withColumn(outCol,
        when(col("q3") === col("q1"), lit(0.0))
          .otherwise((v - col("med")) / (col("q3") - col("q1"))))
      .drop("__rn", "__n")
  }

  /** Smoothed target encoding: each category maps to
    * `(Σ target + m · global_mean) / (n + m)` — the shrinkage estimator
    * that backs a rare category off toward the prior instead of
    * memorizing its handful of labels. Sums are decimal-exact (order-
    * independent), the global mean is a one-row broadcast, and the
    * blend is three IEEE ops written identically in the oracle.
    *
    * Scale posture: one hash aggregate on the category (map-side
    * partials) plus a scalar crossJoin — broadcast by construction.
    * Output: (catCol, n, te) — the encoding table, joined back to
    * examples by the caller (broadcast: it is vocabulary-sized).
    */
  def targetEncode(df: DataFrame, catCol: String, targetCol: String,
                   m: Double): DataFrame = {
    val g = df.agg(
      (sum(col(targetCol).cast("decimal(18,6)")).cast("double")
        / count(lit(1)).cast("double")).as("__gm"))
    df.groupBy(col(catCol))
      .agg(count(lit(1)).as("n"),
        sum(col(targetCol).cast("decimal(18,6)")).cast("double").as("__s"))
      .crossJoin(broadcast(g))
      .select(col(catCol), col("n"),
        ((col("__s") + lit(m) * col("__gm"))
          / (col("n").cast("double") + lit(m))).as("te"))
  }

  /** Deterministic label indexing: the distinct categories in
    * lexicographic order get indices 0..|V|−1. Returns the MAPPING table
    * (catCol, idx) — broadcast-join it back to examples. The global
    * ordered window runs over the distinct set only (vocabulary-sized,
    * post-aggregation), never over the data, so the single-partition
    * sort is a few thousand rows regardless of corpus size.
    */
  def stringIndex(df: DataFrame, catCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(catCol))
    df.select(col(catCol)).distinct()
      .withColumn("idx", (row_number().over(w) - 1).cast("long"))
  }

  /** Equal-frequency (quantile) binning per group: `ntile(n)` under the
    * (`valueCol`, `ordCols`) total order — deterministic bucket
    * membership, bucket sizes differing by at most one (standard ntile,
    * identical in any SQL engine). Per-group windows keep the sort
    * parallel across groups; for a single global binning at 100 TB,
    * derive boundaries from [[robustScale]]-style order statistics
    * instead of sorting the world.
    */
  def quantileBins(df: DataFrame, keys: Seq[String], valueCol: String,
                   ordCols: Seq[String], n: Int,
                   outCol: String = "bin"): DataFrame = {
    require(n >= 1, "bin count must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy((valueCol +: ordCols).map(col): _*)
    df.withColumn(outCol, ntile(n).over(w))
  }

  /** Exact heavy hitters: the top-`k` most frequent `valueCol` values per
    * group, rank totalized by (count desc, value) so ties are
    * deterministic. Plans as one (group, value) hash aggregate with
    * map-side partials, then a per-group window that Spark executes as
    * WindowGroupLimit — the partial top-k is taken map-side before the
    * final shuffle, so only ~k rows per group per partition move. The
    * exact companion to sketch-based frequent-items at 100 TB: counts are
    * exact because the aggregate is, no CMS error bound to reason about.
    *
    * Output: (group cols…, valueCol, cnt, rk) with rk in [1, k].
    */
  def topKByCount(df: DataFrame, keys: Seq[String], valueCol: String,
                  k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val counts = df.groupBy((keys :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("cnt").desc, col(valueCol))
    counts.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Rolling z-score anomaly detection in EXACT integer arithmetic: values
    * land on a fixed-point grid (`floor(value · gridScale)` longs) and the
    * trailing-window test `|x − mean| > τ·σ` is evaluated in its squared,
    * cross-multiplied form
    *
    *   `(n·x − Σx)² > τ² · (n·Σx² − (Σx)²)`
    *
    * — every quantity a 64-bit integer, no division, no sqrt, no FP at
    * all, hence bit-portable to any engine (σ here is the population σ of
    * the window). `tau2` is τ² (τ = 2 → 4). Rows without a full window
    * (fewer than `win`+1 trailing rows) are warmup — flagged null.
    *
    * Overflow envelope: |grid value| ≤ G with window w = `win`+1 needs
    * w²·G² < 2⁶³ (the dev² term) and τ²·w·G²·w < 2⁶³ — G ≤ 10⁸ is safe at
    * w = 5, i.e. values to a million at gridScale 100.
    *
    * Scale posture: the three rolling sums share one frame over one
    * (`ordCols`)-sorted window — a single hash exchange on the keys; the
    * quadratic test is a projection. The trailing frame is
    * restart-exact: no global state, any key range recomputes
    * independently.
    */
  def rollingAnomalies(df: DataFrame, keys: Seq[String], valueCol: String,
                       ordCols: Seq[String], win: Int = 4, tau2: Long = 4L,
                       gridScale: Long = 100L,
                       outCol: String = "is_anom"): DataFrame = {
    require(win >= 1, "window must cover at least one trailing row")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(ordCols.map(col): _*)
      .rowsBetween(-win, 0)
    val gv = floor(col(valueCol) * gridScale).cast("long")
    df.withColumn("__gv", gv)
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__sx", sum(col("__gv")).over(w))
      .withColumn("__sxx", sum(col("__gv") * col("__gv")).over(w))
      .withColumn("dev2",
        (col("__n") * col("__gv") - col("__sx"))
          * (col("__n") * col("__gv") - col("__sx")))
      .withColumn("var_num",
        col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn(outCol,
        when(col("__n") === (win + 1),
          col("dev2") > lit(tau2) * col("var_num")))
      .drop("__gv", "__n", "__sx", "__sxx")
  }

  /** Count-min sketch over a stream of items, built deterministically:
    * row `r`'s hash of key `k` is the first `hexDigits` chars of
    * `md5("cms<r>:<k>")`, so the sketch contains `depth × 16^hexDigits`
    * integer counters and the SAME sketch comes out of any partitioning,
    * any engine, any retry — integer bucket sums are order-free, and the
    * "random" hash family needs no seed table. This is the mergeable
    * frequency summary for 100 TB streams: counters fit in KBs, partial
    * sketches add cell-wise (map-side partial aggregation IS the merge),
    * and estimates only ever over-count (by collision mass), never under.
    *
    * Scale posture: one `depth`-way explode of the item stream into a
    * (row, bucket) hash aggregate — tiny result, map-side combine absorbs
    * the stream; no joins, no windows.
    *
    * Output: (r, bucket, cnt) — the sketch matrix, one row per non-empty
    * cell.
    */
  def countMinSketch(items: DataFrame, keyCol: String,
                     depth: Int, hexDigits: Int): DataFrame = {
    require(depth >= 1 && hexDigits >= 1 && hexDigits <= 8,
      "depth >= 1, hexDigits in [1,8]")
    Par.spread(items)
      .select(col(keyCol).cast("string").as("__k"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("r").cast("long").as("r"),
        substring(md5(concat(lit("cms"), col("r").cast("string"),
          lit(":"), col("__k"))), 1, hexDigits).as("bucket"))
      .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Point-query the count-min sketch: re-derive each query key's bucket
    * per sketch row and take the MIN across rows — the classic CM
    * estimate, an upper bound on the true count. The sketch is tiny by
    * construction, so the probe join is a broadcast; query keys never
    * shuffle.
    *
    * Output: (keyCol, est).
    */
  def countMinEstimate(sketch: DataFrame, queries: DataFrame,
                       keyCol: String, depth: Int,
                       hexDigits: Int): DataFrame = {
    val probes = queries
      .withColumn("r", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("r", col("r").cast("long"))
      .withColumn("bucket",
        substring(md5(concat(lit("cms"), col("r").cast("string"),
          lit(":"), col(keyCol).cast("string"))), 1, hexDigits))
    probes.join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy(keyCol).agg(min(col("cnt")).as("est"))
  }

  /** AMS (Alon-Matias-Szegedy) F2 sketch: row `r` keeps the single
    * counter `Z_r = Σ_items sign_r(key)`, with the ±1 sign md5-derived
    * from `(r, key)` — `Z_r²` is an unbiased estimate of the second
    * frequency moment `F2 = Σ_k f_k²` (the self-join size / skew
    * measure), and the median across rows concentrates it. Like
    * [[countMinSketch]], determinism is free: signed long sums are
    * order-free, so any partitioning, engine, or retry produces the SAME
    * counters and the estimate hash-gates exactly.
    *
    * Scale posture: `depth` counters TOTAL — the sketch is O(depth)
    * bytes regardless of stream size; one explode + one tiny hash
    * aggregate, map-side partials absorb the stream.
    *
    * Output: (r, z) — one row per sketch row.
    */
  def amsSketch(items: DataFrame, keyCol: String, depth: Int): DataFrame = {
    require(depth >= 1, "depth must be >= 1")
    Par.spread(items)
      .select(col(keyCol).cast("string").as("__k"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("r").cast("long").as("r"),
        when(substring(md5(concat(lit("ams"), col("r").cast("string"),
          lit(":"), col("__k"))), 1, 1) < "8", lit(1L))
          .otherwise(lit(-1L)).as("s"))
      .groupBy("r").agg(sum("s").as("z"))
  }

  /** Gini coefficient of the per-key row distribution — the skew
    * diagnostic to run BEFORE a big join or aggregation decides between
    * plain shuffle, salting, and AQE skew handling. Uses the sorted-rank
    * identity `G = Σᵢ (2i − n − 1)·cᵢ / (n·Σc)` (counts ascending,
    * i = 1..n): numerator and denominator are exact integers, the final
    * value one IEEE division — so the statistic itself gates, not an
    * approximation of it. G = 0 is perfectly uniform; → 1 is one key
    * holding everything.
    *
    * Scale posture: the heavy input reduces to the per-key histogram
    * first (one aggregate, map-side partials); the ranked pass runs on
    * that histogram — distinct-key-sized, orders of magnitude smaller
    * than the data — as a single global sort window, which is the
    * deliberate trade for an exact scalar diagnostic.
    *
    * Output: one row (n_keys, total, gini_num, gini).
    */
  def giniSkew(df: DataFrame, keys: Seq[String]): DataFrame = {
    val hist = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c") +: keys.map(col): _*)
    // Σ(2i − n − 1)·cᵢ = 2·Σi·cᵢ − (n+1)·Σc — one aggregate, no
    // window-inside-aggregate
    hist.withColumn("i", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n_keys"), sum("c").as("total"),
        sum(col("i") * col("c")).as("ic"))
      .select(col("n_keys"), col("total"),
        (col("ic") * 2 - (col("n_keys") + 1) * col("total")).as("gini_num"),
        ((col("ic") * 2 - (col("n_keys") + 1) * col("total")).cast("double")
          / (col("n_keys") * col("total")).cast("double")).as("gini"))
  }

  /** k-anonymity audit with a two-level generalization ladder: each
    * quasi-identifier cell (q1, q2) is labeled with the FINEST level that
    * satisfies k — 2 if the full cell has ≥ k rows, 1 if generalizing away
    * q2 (the q1 stratum) reaches k, else 0 (suppress). The release
    * decision a governance pass makes before publishing grouped data.
    *
    * Scale posture: one aggregate reduces the data to the cell histogram;
    * the stratum total is a window over that histogram (cell-count-sized,
    * not data-sized) — one data shuffle total, all-integer, so the audit
    * itself gates.
    *
    * Output: (q1, q2, n, n_stratum, level), one row per cell.
    */
  def kAnonymize(df: DataFrame, q1: String, q2: String,
                 k: Long): DataFrame = {
    val cells = df.groupBy(col(q1), col(q2)).agg(count(lit(1)).as("n"))
    cells
      .withColumn("n_stratum", sum("n").over(
        org.apache.spark.sql.expressions.Window.partitionBy(q1)))
      .withColumn("level",
        when(col("n") >= k, lit(2))
          .when(col("n_stratum") >= k, lit(1))
          .otherwise(lit(0)))
  }

  /** One-pass column profiling: per column — null count, exact distinct
    * count, min and max (as strings, so heterogeneous columns share one
    * schema). The first query anyone runs against an unfamiliar table.
    *
    * Scale posture: a single aggregate over one scan computes every
    * column's stats (Spark plans the multi-distinct via one Expand — still
    * one pass over the data); the wide one-row result is then unpivoted by
    * a `stack` projection, so nothing shuffles but partial aggregates.
    * Callers profile numeric/string/date columns; double columns gate
    * poorly as strings (engine formatting differs) — cast upstream.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    // names are spliced into a stack() selectExpr below
    require(cols.forall(c => !c.contains("`") && !c.contains("'")),
      "profile column names must not contain quotes or backticks")
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"${c}__nn"),
      countDistinct(col(c)).as(s"${c}__nd"),
      min(col(c)).cast("string").as(s"${c}__mn"),
      max(col(c)).cast("string").as(s"${c}__mx")) }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stack = cols.map { c =>
      s"'$c', __n - `${c}__nn`, `${c}__nd`, `${c}__mn`, `${c}__mx`"
    }.mkString(", ")
    wide.selectExpr("__n AS n_rows",
      s"stack(${cols.size}, $stack) AS (col_name, n_null, n_distinct, " +
        "min_s, max_s)")
      .select("col_name", "n_rows", "n_null", "n_distinct", "min_s", "max_s")
  }

  /** Pairwise association rules over baskets (market-basket / co-occurrence
    * mining): for every unordered item pair meeting `minSupport` co-baskets,
    * emit support counts plus confidence(a→b) = n_ab/n_a and
    * lift = N·n_ab/(n_a·n_b). Both ratios are SINGLE divisions of exact
    * integers — IEEE-identical cross-engine — so the scores themselves
    * gate, not just the counts. (Lift is the exp of PMI; gating the ratio
    * sidesteps log's cross-engine rounding.)
    *
    * Scale posture: the pair space is generated per basket by a self-join
    * keyed on the basket id — cost Σ|basket|², bounded by basket size, never
    * all-items². The support filter prunes before the (tiny, item-count-
    * sized) frequency joins; the corpus-size scalar joins in as a broadcast
    * literal, not a driver-side collect.
    *
    * Output: (a, b, n_ab, n_a, n_b, conf, lift), a < b.
    */
  def assocPairs(df: DataFrame, basketCol: String, itemCol: String,
                 minSupport: Long): DataFrame = {
    // scanned three times below (corpus size, item counts, pair join) —
    // persist the deduped basket-item table instead of recomputing its
    // distinct shuffle per consumer
    val items = df.select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nb = items.agg(countDistinct("bk").as("n"))
    val ic = items.groupBy("it").agg(count(lit(1)).as("c"))
    val pairs = items.as("x").join(items.as("y"), "bk")
      .filter(col("x.it") < col("y.it"))
      .groupBy(col("x.it").as("a"), col("y.it").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .join(ic.select(col("it").as("a"), col("c").as("n_a")), "a")
      .join(ic.select(col("it").as("b"), col("c").as("n_b")), "b")
      .crossJoin(broadcast(nb))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        (col("n_ab").cast("double") / col("n_a").cast("double")).as("conf"),
        ((col("n") * col("n_ab")).cast("double")
          / (col("n_a") * col("n_b")).cast("double")).as("lift"))
  }

  /** Per-group two-sample Kolmogorov–Smirnov statistic — the
    * distribution-drift detector for NUMERIC columns (the companion to the
    * token-frequency χ² in `TextOps.tokenDrift`): per group,
    * D = max over x of |F_a(x) − F_b(x)|. Ties are handled exactly by
    * reducing to per-distinct-value counts first (both ECDFs step at each
    * distinct x AFTER absorbing every point there), so the statistic is
    * the textbook one, not a row-order artifact. Each ECDF value is one
    * exact-integer division; the difference/abs/max chain is fixed-shape
    * IEEE — the statistic itself gates.
    *
    * Scale posture: the data reduces to per-(group, distinct-value)
    * counts in one aggregate; the cumulative window and max run on that
    * distinct-value table, partitioned per group — no global sort, and
    * groups with an empty side are dropped (their D is undefined).
    *
    * Output: (keys..., n_a, n_b, ks).
    */
  def ksTwoSample(df: DataFrame, keys: Seq[String], xCol: String,
                  isB: Column): DataFrame = {
    val k = keys.map(col)
    val d = df.select(k :+ col(xCol).as("x") :+
      isB.cast("long").as("b"): _*)
    val cnt = d.groupBy(k :+ col("x"): _*)
      .agg(sum(lit(1L) - col("b")).as("ca"), sum("b").as("cb"))
    val cum = cnt.withColumn("cca", runningSum("ca", k, col("x")))
      .withColumn("ccb", runningSum("cb", k, col("x")))
    val tot = cnt.groupBy(k: _*)
      .agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
    cum.join(tot, keys)
      .withColumn("diff", abs(
        col("cca").cast("double") / col("n_a").cast("double")
          - col("ccb").cast("double") / col("n_b").cast("double")))
      .groupBy(k :+ col("n_a") :+ col("n_b"): _*)
      .agg(max("diff").as("ks"))
  }

  /** Exact ROC-AUC over integer-gridded scores — the rank statistic that
    * usually can't gate (global ranks of near-unique doubles force a
    * data-sized global sort AND engine-variant tie noise). Quantizing the
    * score to an integer grid first (the caller's `floor(score·k)`) makes
    * both problems go away: the data reduces to a grid-sized
    * (bin, n_pos, n_neg) histogram in one aggregate, and AUC with the
    * standard tie correction is
    * {{{ (2·Σ_bins nneg_below·npos + nneg_at·npos) / (2·N⁺·N⁻) }}}
    * — an exact integer numerator and ONE final IEEE division, so the
    * metric itself hash-gates. The cumulative window runs on the
    * histogram (grid-sized, not data-sized — the x9_skew trade).
    *
    * Input: `binCol` integer score bin, `posCol` 0/1 label.
    * Output: one row (n_pos, n_neg, auc_num, auc); auc_num is the
    * tie-corrected numerator ×2. auc is null when either class is absent
    * (an empty or one-class input has no positive–negative pair).
    */
  def aucOnGrid(df: DataFrame, binCol: String, posCol: String): DataFrame = {
    val hist = df.groupBy(col(binCol).as("bin"))
      .agg(sum(col(posCol).cast("long")).as("np"),
        sum(lit(1L) - col(posCol).cast("long")).as("nn"))
    hist
      .withColumn("nn_below", runningBefore("nn", Nil, col("bin")))
      .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
        sum(lit(2L) * col("nn_below") * col("np")
          + col("nn") * col("np")).as("auc_num"))
      .select(col("n_pos"), col("n_neg"), col("auc_num"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("auc_num").cast("double")
            / (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
          .as("auc"))
  }

  /** Exact 2-D skyline (Pareto front, both dims maximized): a row survives
    * iff no other row is ≥ on both dims with > on at least one. The
    * multi-objective pick — "no doc is both longer AND lexically richer" —
    * that a single weighted score can't express.
    *
    * Scale posture: no all-pairs dominance test. The data reduces to the
    * per-x histogram (max y per distinct x, one aggregate with map-side
    * partials); the strict-prefix running max over that histogram — a
    * distinct-x-sized window, not data-sized — is the dominance frontier;
    * one broadcast-able join back labels every row. A row is dominated iff
    * some strictly-larger x reaches its y (`gt ≥ y`) or its own x level
    * holds a strictly larger y (`y < max_y(x)`). Integer dims in → the
    * front itself hash-gates.
    */
  def skyline(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val perX = df.groupBy(col(xCol).as("__x")).agg(max(col(yCol)).as("__my"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__x").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val front = perX.withColumn("__gt", max(col("__my")).over(w))
    df.join(front, col(xCol) === col("__x"))
      .filter(col(yCol) === col("__my") &&
        (col("__gt").isNull || col("__gt") < col(yCol)))
      .drop("__x", "__my", "__gt")
  }

  /** Predicted equi-join output size from the two per-key histograms —
    * the pre-join planning diagnostic behind the broadcast / shuffle /
    * salt decision: |A ⋈ B| = Σ_k c_A(k)·c_B(k), exactly, plus the single
    * hottest key and its share of the output (the salting trigger —
    * top_frac near 1 means one key serializes the join).
    *
    * Scale posture: two map-side-combined aggregates (histogram size =
    * distinct keys, not data), one key-sized join, one aggregate — the
    * diagnostic costs a scan each, never the join it predicts. The argmax
    * key resolves in the same aggregate via min(struct(-rows, key)) — no
    * second pass, no window; smallest-key tiebreak keeps it deterministic.
    *
    * Output: one row (n_keys, est_rows, top_key, top_rows, top_frac);
    * everything exact integers but the one IEEE share division.
    */
  def joinSizeEstimate(left: DataFrame, lKey: String,
                       right: DataFrame, rKey: String): DataFrame = {
    val hl = left.groupBy(col(lKey).as("__k")).agg(count(lit(1)).as("__cl"))
    val hr = right.groupBy(col(rKey).as("__k")).agg(count(lit(1)).as("__cr"))
    hl.join(hr, "__k")
      .select(col("__k"), (col("__cl") * col("__cr")).as("__rows"))
      .agg(count(lit(1)).as("n_keys"), sum("__rows").as("est_rows"),
        min(struct((-col("__rows")).as("nr"), col("__k").as("k"))).as("__m"))
      .select(col("n_keys"), col("est_rows"),
        col("__m.k").as("top_key"), (-col("__m.nr")).as("top_rows"),
        ((-col("__m.nr")).cast("double") / col("est_rows").cast("double"))
          .as("top_frac"))
  }

  /** Per-group top-k shortlist via the native bounded-heap aggregate
    * ([[org.apache.spark.sql.graft.TopKAgg]]): ranks the k smallest
    * `ordStruct` values per key group — encode "largest first" by negating
    * sort fields inside the struct, and include a tiebreak field so the
    * shortlist is total-ordered.
    *
    * Scale posture vs the window form: an AGGREGATE, so partial buffers
    * merge map-side and at most k·|groups| values per partition reach the
    * exchange — no partition sort (heap scan, O(n log k)), no full-data
    * shuffle, no re-window for ranks. The window + WindowGroupLimit path
    * still locally sorts everything it scans.
    *
    * Output: (keys..., rnk ascending from 1, ordStruct fields as `v.*`).
    */
  def groupedTopK(df: DataFrame, keys: Seq[String], ordStruct: Column,
                  k: Int): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(org.apache.spark.sql.graft.TopKAgg.of(ordStruct, k).as("__top"))
      .select(keys.map(col) :+
        posexplode(col("__top")).as(Seq("__pos", "v")): _*)
      .withColumn("rnk", (col("__pos") + 1).cast("long"))
      .drop("__pos")

  /** Exact sufficient statistics for variance and correlation of two
    * integer-valued columns, per group: n, Σx, Σx², Σy, Σxy, plus the
    * integer-exact variance numerator `n·Σx² − (Σx)²` and covariance
    * numerator `n·Σxy − Σx·Σy`. Everything up to the numerators is long
    * arithmetic — bit-identical under any partial-aggregation order, which
    * double-accumulating variance can never be. Callers derive
    * `var = var_num / (n(n−1))` and `corr = cov_num / √(var_num_x·var_num_y)`
    * as a final single-expression step (one IEEE division / sqrt —
    * deterministic); the exact integer core is what shuffles and merges.
    *
    * Overflow envelope: |x|,|y| ≤ B, n rows per group needs
    * n·B⁴ < 2⁶³ for the numerators — B = 100 is safe past 9×10¹⁰ rows per
    * group; larger domains should pre-scale or switch the numerators to
    * decimal(38,0).
    */
  def momentsInt(df: DataFrame, keys: Seq[String],
                 xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(x).as("sum_x"), sum(x * x).as("sum_xx"),
        sum(y).as("sum_y"), sum(x * y).as("sum_xy"),
        sum(y * y).as("sum_yy"))
      .withColumn("var_num_x",
        col("n") * col("sum_xx") - col("sum_x") * col("sum_x"))
      .withColumn("var_num_y",
        col("n") * col("sum_yy") - col("sum_y") * col("sum_y"))
      .withColumn("cov_num",
        col("n") * col("sum_xy") - col("sum_x") * col("sum_y"))
  }

  /** Exact lag-`k` sample autocorrelation per key over integer-gridded
    * series — the seasonality/memory diagnostic for event streams.
    * The textbook estimator
    * {{{ r_k = Σ_{t<=n-k} (x_t - x̄)(x_{t+k} - x̄) / Σ_{t<=n} (x_t - x̄)² }}}
    * can't gate as written (x̄ is an FP mean, the sums are data-sized FP
    * accumulations). Multiplying both sides by n² clears every division:
    * {{{ num·n² = n²·Σ x_t·x_{t+k} − n·S·(Σ head + Σ tail) + (n−k)·S²
    *     den·n² = n²·Σ x² − n·S² }}}
    * — all products of exact integers (accumulated DECIMAL(38,0), order-
    * independent), with ONE IEEE division at the end, so the statistic
    * itself hash-matches. Σ head sums x over rows that HAVE a lag-k
    * successor, Σ tail over the successors — the aligned-window form of
    * the estimator.
    *
    * Scale posture: one window exchange on the key (lead) feeds a same-key
    * aggregate — a single shuffle, the ts3_twap shape. Overflow envelope:
    * n²·Σx² < 10^38 ⇒ with |x| ≤ g·|value| ≈ 10^7 that allows ~10^7 rows
    * per key; larger keys want a coarser grid (the envelope is the
    * documented trade, as for x8_hits).
    *
    * @param orderCols total order within key (e.g. ts, event_id)
    * @return per key: (n, r_k as double; null when the series is constant
    *         or shorter than k+1)
    */
  def autocorrInt(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
                  valueCol: String, lag: Int, grid: Long): DataFrame = {
    require(lag >= 1, "lag must be >= 1")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val g = df.withColumn("__x", gridFloor(col(valueCol), grid))
      .withColumn("__y", lead(col("__x"), lag).over(w))
    g.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(dec(col("__x"))).as("s"),
        sum(dec(col("__x")) * dec(col("__x"))).as("sxx"),
        sum(when(col("__y").isNotNull, dec(col("__x")))).as("sh"),
        sum(dec(col("__y"))).as("st"),
        sum(dec(col("__x")) * dec(col("__y"))).as("sxy"))
      .withColumn("__num",
        dec(col("n")) * dec(col("n")) * col("sxy")
          - dec(col("n")) * col("s") * (col("sh") + col("st"))
          + dec(col("n") - lit(lag)) * col("s") * col("s"))
      .withColumn("__den",
        dec(col("n")) * dec(col("n")) * col("sxx")
          - dec(col("n")) * col("s") * col("s"))
      .select((keys.map(col) :+ col("n") :+
        when(col("__den") > 0 && col("n") > lag,
          col("__num").cast("double") / col("__den").cast("double"))
          .as("acf")): _*)
  }

  /** Exact lag-k CROSS-correlation between two gridded series per key —
    * the lead/lag dependence question ([[autocorrInt]]'s two-series
    * sibling): does today's view volume predict tomorrow's purchases?
    * Pairs (x_t, y_{t+lag}) within each key's ordered stream, then
    * Pearson over the paired rows with every sum an exact integer on the
    * grid (DECIMAL(38,0)) and ONE fixed-shape IEEE expression (two
    * correctly-rounded sqrts, one division) at the end — so the
    * statistic hash-gates.
    *
    * Scale posture: one keyed window (the single exchange), one same-key
    * aggregate with map-side partials, one row per key out.
    *
    * Output per key: (keys..., n_pairs, xcf).
    */
  def crossCorrInt(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
                   xCol: String, yCol: String, lag: Int,
                   grid: Long): DataFrame = {
    require(lag >= 1, "lag must be >= 1")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val g = df
      .withColumn("__x", gridFloor(col(xCol), grid))
      .withColumn("__y0", gridFloor(col(yCol), grid))
      .withColumn("__y", lead(col("__y0"), lag).over(w))
      .filter(col("__y").isNotNull)
    g.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(dec(col("__x"))).as("sx"),
        sum(dec(col("__y"))).as("sy"),
        sum(dec(col("__x")) * dec(col("__x"))).as("sxx"),
        sum(dec(col("__y")) * dec(col("__y"))).as("syy"),
        sum(dec(col("__x")) * dec(col("__y"))).as("sxy"))
      .select((keys.map(col) :+ col("n_pairs") :+
        Exact.pearson(col("n_pairs"), col("sx"), col("sy"), col("sxx"),
          col("syy"), col("sxy")).as("xcf")): _*)
  }

  /** CUSUM mean-shift changepoint per key — WHERE in an ordered stream
    * the level changed (ingest-rate regime shifts, quality drift onset):
    * t* = argmax_t |N·S_t − t·S_N| with S_t the running sum on the
    * integer grid. Scaling the textbook |S_t − t·μ| by N keeps every
    * compared value an EXACT integer (DECIMAL(38,0)) — argmax and ties
    * (earliest t wins) are deterministic cross-engine, no FP anywhere
    * but the one normalized-deviation division in the report.
    *
    * Scale posture: one keyed window exchange shared by the running sum,
    * position, and totals; the argmax resolves in the same-key aggregate
    * via min(struct(-dev, t)) — no second pass. One row per key.
    *
    * Output per key: (keys..., n, t_star, dev — the max |N·S_t − t·S_N|
    * normalized by N·|S_N| into [0, ~1], 0 when the total is 0).
    */
  def cusumChangepoint(df: DataFrame, keys: Seq[String],
                       orderCols: Seq[String], valueCol: String,
                       grid: Long): DataFrame = {
    val wOrd = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val wAll = Window.partitionBy(keys.map(col): _*)
    val g = df
      .withColumn("__x", gridFloor(col(valueCol), grid))
      .withColumn("__t", row_number().over(wOrd).cast("long"))
      .withColumn("__st", sum(dec(col("__x"))).over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__sn", sum(dec(col("__x"))).over(wAll))
      .withColumn("__dev",
        abs(dec(col("__n")) * col("__st") - dec(col("__t")) * col("__sn")))
    g.groupBy(keys.map(col): _*)
      .agg(max(col("__n")).as("n"),
        min(struct((-col("__dev")).as("nd"), col("__t").as("t"))).as("__m"),
        max(abs(col("__sn"))).as("__asn"))
      .select((keys.map(col) :+ col("n") :+ col("__m.t").as("t_star") :+
        when(col("__asn") > 0,
          (-col("__m.nd")).cast("double") /
            (dec(col("n")) * col("__asn")).cast("double"))
          .otherwise(lit(0.0)).as("dev")): _*)
  }

  /** Cohen's kappa — chance-corrected agreement between two label columns
    * (annotator vs annotator, model vs gold). Kappa is RATIONAL in the
    * confusion counts: with n rows, a = Σ diagonal, and
    * c = Σ_label rowTotal·colTotal,
    * {{{ kappa = (p_o − p_e)/(1 − p_e) = (n·a − c)/(n² − c) }}}
    * — integer numerator and denominator, one IEEE division, so the
    * statistic hash-gates (the same no-FP-accumulation discipline as
    * [[aucOnGrid]]).
    *
    * Scale posture: two |labels|-sized marginal aggregates (map-side
    * partials absorb the scan) joined on label — nothing data-sized past
    * the first aggregation; the final combine is one row.
    *
    * Output: one row (n, agree, chance_num, kappa); kappa null when the
    * marginals are degenerate (n² = c, e.g. both columns constant).
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = localGrid(df.groupBy(col(aCol).as("la"), col(bCol).as("lb"))
      .agg(count(lit(1)).as("c")))
    val n = cells.agg(sum("c").as("n"))
    val agree = cells.filter(col("la") === col("lb"))
      .agg(coalesce(sum("c"), lit(0L)).as("agree"))
    val ra = cells.groupBy("la").agg(sum("c").as("ca"))
    val cb = cells.groupBy("lb").agg(sum("c").as("cb"))
    // Marginal products and n² overflow LongType past ~3e9 rows; carry
    // them as DECIMAL(38,0) (the engine-wide exact-integer envelope, as
    // in contingencyResiduals/autocorrInt) so the statistic survives the
    // advertised scale. n and agree stay BIGINT (plain row counts).
    val chance = ra.join(cb, col("la") === col("lb"))
      .agg(coalesce(sum(dec(col("ca")) * dec(col("cb"))), dec0)
        .as("chance_num"))
    n.crossJoin(broadcast(agree)).crossJoin(broadcast(chance))
      .select(col("n"), col("agree"), col("chance_num"),
        when(dec(col("n")) * dec(col("n")) =!= col("chance_num"),
          (dec(col("n")) * dec(col("agree")) - col("chance_num"))
            .cast("double") /
            (dec(col("n")) * dec(col("n")) - col("chance_num"))
              .cast("double"))
          .as("kappa"))
  }

  /** Per-cell contingency-table residuals over two categorical columns —
    * which (a, b) combinations are over/under-represented vs independence
    * (corpus balance: language × source, label × split, domain × epoch).
    * The global χ² sums rationals with per-cell denominators (FP-order-
    * fragile), so this reports the CELL-LEVEL quantities that gate
    * exactly instead:
    *
    *  - `dev_num = n·O − rowTot·colTot` — the scaled deviation from the
    *    expected count, an exact integer whose sign is the direction;
    *  - `resid` — the Pearson standardized residual
    *    (O − E)/√E = dev_num / √(n·rowTot·colTot), ONE division and ONE
    *    correctly-rounded sqrt on exact integers: a fixed expression
    *    shape, no accumulation, so it is bit-identical cross-engine.
    *    |resid| ≳ 2 is the standard "this cell is off" flag.
    *
    * Scale posture: one (a, b) cell aggregate with map-side partials plus
    * two marginal re-aggregations OF THE CELL TABLE (|A|·|B| rows, not
    * data) broadcast back. Overflow envelope: n·rowTot·colTot as
    * DECIMAL(38,0) holds to ~10^12 rows with both marginals data-sized.
    *
    * Output: (a, b, observed, row_tot, col_tot, dev_num, resid).
    */
  def contingencyResiduals(df: DataFrame, aCol: String,
                           bCol: String): DataFrame = {
    val cells = localGrid(df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("observed")))
    val rowT = cells.groupBy("a").agg(sum("observed").as("row_tot"))
    val colT = cells.groupBy("b").agg(sum("observed").as("col_tot"))
    val tot = cells.agg(sum("observed").as("n"))
    cells.join(broadcast(rowT), "a").join(broadcast(colT), "b")
      .crossJoin(broadcast(tot))
      .withColumn("dev_num",
        dec(col("n")) * dec(col("observed"))
          - dec(col("row_tot")) * dec(col("col_tot")))
      .withColumn("resid",
        col("dev_num").cast("double") /
          sqrt((dec(col("n")) * dec(col("row_tot")) * dec(col("col_tot")))
            .cast("double")))
      .select("a", "b", "observed", "row_tot", "col_tot", "dev_num", "resid")
  }

  /** Distributed BATCH perceptron over sparse integer features — the
    * train-a-linear-filter primitive (quality/language/domain classifiers
    * distilled over a corpus) in arithmetic that reproduces exactly.
    * The classic online perceptron is inherently sequential (each row
    * sees the previous row's weights); the batch variant folds one full
    * pass into one update —
    * {{{ w⁰ = 0;  wʳ⁺¹(b) = wʳ(b) + Σ_{docs with y·(wʳ·x) <= 0} y·x(b) }}}
    * — and with integer counts and ±1 labels every margin and every
    * weight is an exact long: the trained weights themselves hash-gate
    * under any partitioning, which no FP gradient method can promise.
    * (Round 1 from zero weights updates on every doc — margin 0 counts
    * as misclassified, the standard convention.)
    *
    * Scale posture per round: one broadcast join of the |buckets|-sized
    * weight table onto the feature stream, one per-doc margin aggregate,
    * one semi join selecting misclassified docs, one per-bucket update
    * aggregate — all map-side-partial-friendly, nothing driver-side but
    * the loop counter. The labeled feature table is persisted across
    * rounds (loop-invariant).
    *
    * @param features (docCol, bucketCol, cntCol) sparse counts
    * @param labels   (docCol, labelCol) with labels in {+1, −1}
    * @return (rnd, bucket, w) — weights AFTER each round 1..rounds
    */
  def perceptronRounds(features: DataFrame, docCol: String,
                       bucketCol: String, cntCol: String,
                       labels: DataFrame, labelCol: String,
                       rounds: Int): DataFrame =
      org.apache.spark.sql.graft.FreshCheckpoint.rounds { rs =>
    require(rounds >= 1, "rounds must be >= 1")
    val fy = rs.persist(features.select(col(docCol).as("doc"),
        col(bucketCol).as("bucket"), col(cntCol).cast("long").as("cnt"))
      .join(labels.select(col(docCol).as("doc"),
        col(labelCol).cast("long").as("y")), "doc"))
    var w = fy.select(col("bucket")).distinct()
      .withColumn("w", lit(0L))
    val perRound = (1 to rounds).map { r =>
      val margins = fy.join(broadcast(w), "bucket")
        .groupBy("doc", "y")
        .agg(sum(col("cnt") * col("w")).as("m"))
      val mis = margins.filter(col("y") * col("m") <= 0).select("doc")
      val delta = fy.join(mis, Seq("doc"), "left_semi")
        .groupBy("bucket").agg(sum(col("y") * col("cnt")).as("dw"))
      // FreshCheckpoint: w feeds both the margin join and its own update
      // each round, so localCheckpoint's inherited statistics would grow
      // multiplicatively with rounds (see FreshCheckpoint's scaladoc).
      w = rs.pin(
        w.join(delta, Seq("bucket"), "left")
          .select(col("bucket"),
            (col("w") + coalesce(col("dw"), lit(0L))).as("w"))).df
      w.withColumn("rnd", lit(r.toLong))
    }
    rs.pin(perRound.reduce(_ unionByName _).select("rnd", "bucket", "w"))
  }

  /** Welch's two-sample t statistic per key — the parametric A/B-test
    * primitive next to the nonparametric [[ksTwoSample]]: does group A's
    * mean differ from group B's, scaled by the unpooled variances?
    * {{{ t = (m₁ − m₂) / √(s₁²/n₁ + s₂²/n₂) }}}
    * Gate-exact construction: values on the integer grid, each group
    * reduced to exact (n, Σx, Σx²) with map-side partials; means and
    * sample variances are single divisions of exact integers and t is
    * ONE fixed-shape IEEE expression (two divisions, one sqrt, one
    * subtraction) — no FP accumulation anywhere, so the statistic
    * hash-gates. |t| ≳ 2 is the usual "the groups differ" flag.
    *
    * Output per key: (n1, n2, t — null unless both groups have ≥ 2 rows
    * and at least one positive variance).
    */
  def welchT(df: DataFrame, keys: Seq[String], groupCol: String,
             groupA: String, groupB: String, valueCol: String,
             grid: Long): DataFrame = {
    // Sample variance s² = (n·Σx² − (Σx)²) / (n·(n−1)) — exact integer
    // numerator and denominator; the grid divisor cancels out of t except
    // as an overall 1/grid factor on the mean difference, so we keep
    // everything in grid units and t is scale-free.
    def varOf(s: Column, ss: Column, n: Column) =
      (dec(n) * ss - s * s).cast("double") /
        (dec(n) * dec(n - lit(1))).cast("double")
    val v1 = varOf(col("s1"), col("ss1"), col("n1"))
    val v2 = varOf(col("s2"), col("ss2"), col("n2"))
    val se2 = v1 / col("n1").cast("double") + v2 / col("n2").cast("double")
    twoGroupStat(df, keys, groupCol, groupA, groupB, valueCol, grid, "t")(
      (meanOf(col("s1"), col("n1")) - meanOf(col("s2"), col("n2"))) /
        sqrt(se2))
  }

  /** Two-group (n, Σx, Σx²) moments per key on the integer grid — n1, s1,
    * ss1 for `groupA` and n2, s2, ss2 for `groupB`, exact DECIMAL(38,0)
    * sums with map-side partials — reduced to (keys..., n1, n2, `name`).
    * `stat` is the caller's fixed-shape expression over those moments;
    * it is null unless both groups have ≥ 2 rows and at least one has a
    * positive spread.
    */
  private def twoGroupStat(df: DataFrame, keys: Seq[String],
                           groupCol: String, groupA: String, groupB: String,
                           valueCol: String, grid: Long,
                           name: String)(stat: Column): DataFrame = {
    val x = gridFloor(col(valueCol), grid)
    val isA = col(groupCol) === groupA
    val isB = col(groupCol) === groupB
    df.filter(isA || isB)
      .groupBy(keys.map(col): _*)
      .agg(sum(when(isA, 1L).otherwise(0L)).as("n1"),
        sum(when(isA, dec(x))).as("s1"),
        sum(when(isA, dec(x) * dec(x))).as("ss1"),
        sum(when(isB, 1L).otherwise(0L)).as("n2"),
        sum(when(isB, dec(x))).as("s2"),
        sum(when(isB, dec(x) * dec(x))).as("ss2"))
      .select((keys.map(col) :+ col("n1") :+ col("n2") :+
        when(col("n1") > 1 && col("n2") > 1 &&
            (dec(col("n1")) * col("ss1") - col("s1") * col("s1") > 0 ||
             dec(col("n2")) * col("ss2") - col("s2") * col("s2") > 0),
          stat).as(name)): _*)
  }

  private def meanOf(s: Column, n: Column) = s.cast("double") / n.cast("double")

  /** Cohen's d effect size per key — the magnitude companion to
    * [[welchT]]'s significance: a t statistic says the groups differ, d
    * says by HOW MANY pooled standard deviations, which is what decides
    * whether an A/B difference is worth shipping (|d| ≈ 0.2 small /
    * 0.5 medium / 0.8 large) and does not inflate with sample size the
    * way t does.
    * {{{ d = (m₁ − m₂) / √(((n₁−1)s₁² + (n₂−1)s₂²) / (n₁+n₂−2)) }}}
    * Same gate-exact construction as [[welchT]]: exact (n, Σx, Σx²)
    * group moments on the integer grid; (n−1)·s² = (n·Σx² − (Σx)²)/n
    * keeps each pooled term one division of exact integers, and d is one
    * fixed-shape IEEE expression. d is scale-free, so the grid factor
    * cancels entirely.
    *
    * Output per key: (n1, n2, d — null unless both groups have ≥ 2 rows
    * and the pooled variance is positive).
    */
  def cohensD(df: DataFrame, keys: Seq[String], groupCol: String,
              groupA: String, groupB: String, valueCol: String,
              grid: Long): DataFrame = {
    def ssqOf(s: Column, ss: Column, n: Column) = // (n−1)·s², exact num.
      (dec(n) * ss - s * s).cast("double") / n.cast("double")
    val pooled =
      (ssqOf(col("s1"), col("ss1"), col("n1")) +
        ssqOf(col("s2"), col("ss2"), col("n2"))) /
        (col("n1") + col("n2") - 2).cast("double")
    twoGroupStat(df, keys, groupCol, groupA, groupB, valueCol, grid, "d")(
      (meanOf(col("s1"), col("n1")) - meanOf(col("s2"), col("n2"))) /
        sqrt(pooled))
  }

  /** Histogram-resolution quantiles — the SCALE PATH for percentiles,
    * deterministic where engine sketch implementations (t-digest,
    * KLL, GK) are not: values land on a fixed 1/`grid` lattice, the
    * per-key value histogram is built in one aggregate, and p50/p90 are
    * the smallest lattice points whose cumulative count reaches
    * ceil(p·n) — the same rank-at-ceil rule as the exact q6 gate, but
    * evaluated on the histogram, so the cumulative window runs over
    * DISTINCT LATTICE VALUES per key, never the data. Error is bounded
    * by the lattice spacing (exactly 1/grid), which is a contract a
    * sketch cannot give; the result is bit-reproducible in any engine.
    *
    * ceil(p·n) in exact integers: ceil(n/2) = (n+1) div 2,
    * ceil(9n/10) = (9n+9) div 10 — rank picks never hinge on FP.
    *
    * Scale posture: one (key, lattice) aggregate with map-side partials
    * (the data-sized pass), then windows over histogram rows. State is
    * |key|·|distinct lattice values| — bounded by grid resolution, the
    * knob trading memory for error.
    *
    * @return per key: (n, p50, p90) — lattice values as doubles
    */
  def histQuantiles(df: DataFrame, keys: Seq[String], valueCol: String,
                    grid: Long): DataFrame = {
    require(grid >= 1, "grid must be >= 1")
    val hist = df
      .withColumn("__g", gridFloor(col(valueCol), grid))
      .groupBy((keys.map(col) :+ col("__g")): _*)
      .agg(count(lit(1)).as("__c"))
    val cum = hist
      .withColumn("__cum", runningSum("__c", keys.map(col), col("__g")))
      .withColumn("__n", sum("__c").over(
        Window.partitionBy(keys.map(col): _*).orderBy(col("__g"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    cum.groupBy(keys.map(col): _*)
      .agg(max("__n").as("n"),
        (min(when(col("__cum") >= expr("(__n + 1) div 2"), col("__g")))
          .cast("double") / lit(grid.toDouble)).as("p50"),
        (min(when(col("__cum") >= expr("(9 * __n + 9) div 10"), col("__g")))
          .cast("double") / lit(grid.toDouble)).as("p90"))
  }

  /** Closed-form simple linear regression per key — the trend-fit
    * primitive next to [[welchT]] (difference) and
    * [[contingencyResiduals]] (association): fit y ≈ slope·x + icept by
    * ordinary least squares, with the fit quality r².
    * {{{ slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *     icept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)
    *     r²    = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²)) }}}
    * Gate-exact construction (same discipline as [[welchT]]): x and y
    * land on integer grids via floor(v·grid) — floor of one IEEE
    * product is bit-identical in any engine, unlike double→decimal
    * casts which differ on rounding ties — then each key reduces to
    * exact (n, Σx, Σy, Σxy, Σx², Σy²) DECIMAL(38,0) moments with
    * map-side partials, and each output statistic is ONE fixed-shape
    * IEEE expression over exact integers. No FP accumulation anywhere,
    * so slope/icept/r² hash-gate under any partitioning.
    *
    * icept is in y-grid units per the contract (divide by yGrid for
    * raw units); slope is in (y-grid / x-grid) units. Statistics are
    * null when x is constant (den = 0); r² additionally needs y
    * non-constant. Envelope: |Σy·Σx²| < 10³⁸ caps rows·|y·grid|·x² —
    * at 10⁹ rows with cent-grid prices and x ≤ 10⁴ that is ~10²⁷,
    * thirty bits of headroom over the 100 TB posture.
    *
    * Scale posture: one scan, one map-side-partial aggregate on the
    * keys, zero joins — the cheapest shape a fit can have.
    */
  def olsFit(df: DataFrame, keys: Seq[String], xCol: String, yCol: String,
             xGrid: Long = 1L, yGrid: Long = 1L): DataFrame = {
    require(xGrid >= 1 && yGrid >= 1, "grids must be >= 1")
    val x = dec(gridFloor(col(xCol), xGrid))
    val y = dec(gridFloor(col(yCol), yGrid))
    val agg = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
    val n = dec(col("n"))
    val num = n * col("sxy") - col("sx") * col("sy")
    val den = n * col("sxx") - col("sx") * col("sx")
    val deny = n * col("syy") - col("sy") * col("sy")
    agg.select((keys.map(col) :+ col("n") :+
      when(den > 0, num.cast("double") / den.cast("double")).as("slope") :+
      when(den > 0, (col("sy") * col("sxx") - col("sx") * col("sxy"))
        .cast("double") / den.cast("double")).as("icept") :+
      when(den > 0 && deny > 0,
        num.cast("double") * num.cast("double") /
          (den.cast("double") * deny.cast("double"))).as("r2")): _*)
  }

  /** Pairwise Pearson correlation MATRIX over k numeric columns in ONE
    * pass — the multi-column profiling step after [[olsFit]]'s single
    * pair: which measures move together across the whole corpus?
    * All k sums, k square-sums and k(k−1)/2 cross-products accumulate
    * in a single map-side-partial aggregate (one scan, no joins, no
    * per-pair passes); each correlation is then
    * {{{ corr(i,j) = (n·Σxy − Σx·Σy)
    *               / (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²)) }}}
    * — exact DECIMAL(38,0) integer moments on per-column floor grids
    * (see [[olsFit]] for why floor-of-one-IEEE-product gates where
    * decimal casts don't), one fixed-shape IEEE expression per pair
    * (√ is correctly rounded, so the shape is engine-identical). The
    * unpivot to (col_a, col_b) rows happens plan-side on the one-row
    * aggregate — report size is k², never data-sized. Null when either
    * column is constant.
    */
  def corrMatrix(df: DataFrame, cols: Seq[(String, Long)]): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    require(cols.forall(_._2 >= 1), "grids must be >= 1")
    val g: Map[String, Column] = cols.map { case (c, grid) =>
      c -> dec(gridFloor(col(c), grid))
    }.toMap
    val names = cols.map(_._1)
    val pairs = for {
      i <- names.indices; j <- (i + 1) until names.size
    } yield (i, j)
    val aggs = (names.map(c => sum(g(c)).as(s"__s_$c")) ++
      names.map(c => sum(g(c) * g(c)).as(s"__ss_$c")) ++
      pairs.map { case (i, j) =>
        sum(g(names(i)) * g(names(j))).as(s"__sp_${i}_$j")
      }).toSeq
    val m = df.agg(count(lit(1)).as("n"), aggs: _*)
    val rows = pairs.map { case (i, j) =>
      val (ci, cj) = (names(i), names(j))
      struct(lit(ci).as("col_a"), lit(cj).as("col_b"),
        Exact.pearson(col("n"), col(s"__s_$ci"), col(s"__s_$cj"),
          col(s"__ss_$ci"), col(s"__ss_$cj"), col(s"__sp_${i}_$j"))
          .as("corr"))
    }
    m.select(col("n"), explode(array(rows: _*)).as("__p"))
      .select(col("__p.col_a").as("col_a"), col("__p.col_b").as("col_b"),
        col("n"), col("__p.corr").as("corr"))
  }

  /** Categorical DIVERSITY per key — how concentrated is a mixture?
    * Two standard measures that, unlike Shannon entropy, have EXACT
    * rational forms (no libm log in the gate):
    * {{{ gini     = 1 − Σpᵢ² = (n² − Σcᵢ²) / n²        (Gini impurity)
    *     eff_cats = 1 / Σpᵢ² = n² / Σcᵢ²       (inverse Simpson index,
    *                "effective number of categories") }}}
    * A corpus 99% one source scores gini ≈ 0 / eff_cats ≈ 1 no matter
    * how many nominal sources exist — the number a mixture designer
    * actually wants when "12 sources" is really "1.3 sources". Exact
    * DECIMAL(38,0) count moments, one IEEE division per measure.
    *
    * Scale posture: one (key, category) count aggregate, one key-level
    * rollup of the count table — category tables are vocabulary-sized,
    * the data shuffles once.
    */
  def diversity(df: DataFrame, keys: Seq[String],
                catCol: String): DataFrame = {
    val cells = df.groupBy((keys :+ catCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
    val agg = cells.groupBy(keys.map(col): _*)
      .agg(sum("__c").as("n"), count(lit(1)).as("n_cats"),
        sum(dec(col("__c")) * dec(col("__c"))).as("__ss"))
    val n2 = dec(col("n")) * dec(col("n"))
    agg.select((keys.map(col) :+ col("n") :+ col("n_cats") :+
      ((n2 - col("__ss")).cast("double") / n2.cast("double")).as("gini") :+
      (n2.cast("double") / col("__ss").cast("double")).as("eff_cats")): _*)
  }

  /** Benford first-significant-digit screen — the classic
    * fabricated-or-truncated-numbers detector for a numeric column:
    * naturally-grown multiplicative quantities follow
    * P(d) = log₁₀(1 + 1/d); uniform or hand-made numbers don't. Emits
    * the observed digit profile against that law. The expectations are
    * compile-time DOUBLE LITERALS (17 significant digits round-trip to
    * the exact same IEEE double in any engine), NOT runtime log calls —
    * libm log is not correctly rounded and would break the gate; the
    * observed fraction and deviation are single IEEE ops on exact
    * counts. Rows below 1 are excluded (no first significant digit on
    * this integer-part formulation).
    *
    * Scale posture: one scan, one 9-row digit aggregate with map-side
    * partials, total row broadcast back.
    *
    * Output: (digit, cnt, frac, expected, dev) for digits '1'..'9'.
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val expectedLit = typedLit(Map(
      "1" -> 0.3010299956639812, "2" -> 0.17609125905568124,
      "3" -> 0.12493873660829992, "4" -> 0.09691001300805642,
      "5" -> 0.07918124604762482, "6" -> 0.06694678963061322,
      "7" -> 0.05799194697768673, "8" -> 0.05115252244738129,
      "9" -> 0.04575749056067514))
    val counts = df.filter(col(valueCol) >= 1)
      .select(substring(floor(col(valueCol)).cast("long").cast("string"),
        1, 1).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum("cnt").as("__n"))
    counts.crossJoin(broadcast(tot))
      .withColumn("frac", col("cnt").cast("double") /
        col("__n").cast("double"))
      .withColumn("expected", expectedLit(col("digit")))
      .withColumn("dev", col("frac") - col("expected"))
      .drop("__n")
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) between two label groups over an
    * integer-gridded value — the distribution-free "are these two corpora
    * drawn from the same distribution" test that t-tests can't answer for
    * skewed quality/length scores. Rank statistics normally can't gate
    * (global ranks of near-unique doubles = data-sized sort + engine tie
    * noise); on a grid the data reduces to a per-value (ca, cb) histogram
    * and average ranks for a tie group are (2·cum_before + c + 1)/2 —
    * HALVES, so 2×rank-sum is an exact integer and the statistic
    * hash-gates (the [[aucOnGrid]] discipline; U is in fact AUC·n₁·n₂).
    *
    * The normal-approximation z uses the standard tie correction
    * σ² = n₁n₂/12·((N+1) − Σ(t³−t)/(N(N−1))): every term is an exact
    * integer ratio carried in DECIMAL(38,0) to two IEEE ops (one sqrt,
    * one division) of fixed shape — bit-stable cross-engine.
    *
    * Scale posture: one grid-sized histogram aggregate with map-side
    * partials, a grid-sized cumulative window, a one-row reduce — the
    * scan is the only data-sized pass.
    *
    * Output: one row (n_a, n_b, r_a2 = 2·Σranks(a), u_a, z).
    */
  def mannWhitneyU(df: DataFrame, labelCol: String, aLabel: String,
                   bLabel: String, binCol: String): DataFrame = {
    val d = df.filter(col(labelCol).isin(aLabel, bLabel))
      .select(col(binCol).as("v"),
        (col(labelCol) === aLabel).cast("long").as("a"))
    val hist = d.groupBy("v")
      .agg(sum("a").as("ca"), sum(lit(1L) - col("a")).as("cb"))
    val cum = hist
      .withColumn("t", col("ca") + col("cb"))
      .withColumn("cb4", runningBefore("t", Nil, col("v")))
    // 2·avgRank of the tie group at v = 2·cum_before + t + 1 (integer).
    // r_a2 ~ n_a·N at the top — past LongType at ~3e9 rows, so it
    // accumulates as DECIMAL(38,0) (gates render it per the §5.2
    // output-type contract).
    val agg = cum.agg(
      sum("ca").as("n_a"), sum("cb").as("n_b"),
      sum(dec(col("ca")) * midRank2(col("cb4"), col("t"))).as("r_a2"),
      sum(cubeTies(col("t"))).as("ties"))
    agg.select(col("n_a"), col("n_b"), col("r_a2"),
        ((col("r_a2") - dec(col("n_a")) * (dec(col("n_a")) + 1))
          .cast("double") / 2.0).as("u_a"),
        col("ties"), (col("n_a") + col("n_b")).as("nn"))
      .select(col("n_a"), col("n_b"), col("r_a2"), col("u_a"),
        // Degeneracy guard decided in exact integers (the kruskalWallisH
        // discipline): when EVERY value sits in one tie group, ties =
        // Σ(t³−t) = nn³−nn and the tie-corrected σ is exactly 0 — Spark
        // divides to NULL where DuckDB yields NaN, so the case must be
        // excluded symbolically, not left to IEEE.
        when(col("n_a") > 0 && col("n_b") > 0 && col("nn") > 1 &&
          col("ties") < cubeTies(col("nn")),
          (col("u_a") - (dec(col("n_a")) * dec(col("n_b")))
            .cast("double") / 2.0) /
            sqrt((dec(col("n_a")) * dec(col("n_b"))).cast("double") / 12.0 *
              ((col("nn") + 1L).cast("double") -
                col("ties").cast("double") /
                  (dec(col("nn")) * dec(col("nn") - 1L)).cast("double"))))
          .as("z"))
  }

  /** Spearman rank correlation over two integer-gridded columns — the
    * monotone-association statistic (does quality rise with length?)
    * that Pearson on raw values misses under nonlinearity. Average ranks
    * on a grid are halves (see [[mannWhitneyU]]), so DOUBLED ranks are
    * exact integers: each column reduces to a grid-sized value→2·avgRank
    * map joined back to the pooled (x, y) histogram, and rho is Pearson
    * over exact DECIMAL(38,0) sums of 2·rank products — one fixed-shape
    * IEEE expression at the end, so the statistic hash-gates.
    *
    * Scale posture: one (x, y) histogram aggregate (grid² at worst, not
    * data), two grid-sized rank windows, grid-sized joins back, one-row
    * reduce. Rank maps are value-count tables — never data-sized.
    *
    * Output: one row (n, rho).
    */
  def spearmanRho(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val hist = df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("c"))
    def rankMap(vc: String) = {
      val h = hist.groupBy(col(vc).as("v")).agg(sum("c").as("t"))
      h.withColumn("cb", runningBefore("t", Nil, col("v")))
        .select(col("v"), (lit(2L) * col("cb") + col("t") + 1L).as("r2"))
    }
    // Rank maps resolve against the RENAMED histogram columns (x, y) —
    // never the caller's xCol/yCol names, which no longer exist on hist
    // (and would silently rank the wrong column if the caller's names
    // happened to be swapped x/y).
    val joined = hist
      .join(rankMap("x").withColumnRenamed("r2", "rx2"),
        col("x") === col("v")).drop("v")
      .join(rankMap("y").withColumnRenamed("r2", "ry2"),
        col("y") === col("v")).drop("v")
    val a = joined.agg(sum("c").as("n"),
      sum(dec(col("c")) * dec(col("rx2"))).as("sx"),
      sum(dec(col("c")) * dec(col("ry2"))).as("sy"),
      sum(dec(col("c")) * dec(col("rx2")) * dec(col("rx2"))).as("sxx"),
      sum(dec(col("c")) * dec(col("ry2")) * dec(col("ry2"))).as("syy"),
      sum(dec(col("c")) * dec(col("rx2")) * dec(col("ry2"))).as("sxy"))
    a.select(col("n"), Exact.pearson(col("n"), col("sx"), col("sy"),
      col("sxx"), col("syy"), col("sxy")).as("rho"))
  }

  /** Kendall tau-b over two BOUNDED integer grids — the concordance
    * member of the rank family ([[spearmanRho]] measures monotone fit;
    * tau-b counts pairwise order agreement, robust to a few extreme
    * rows). The data reduces to the (x, y) cell histogram; concordant /
    * discordant mass is a cell-PAIR sum (x₁<x₂ matched against y order)
    * with tie corrections from the marginals:
    * {{{ tau_b = (C − D) / (√(n₀−n₁)·√(n₀−n₂)) }}}
    * — every term an exact DECIMAL(38,0) integer, one fixed-shape IEEE
    * expression at the end, so the statistic hash-gates.
    *
    * Scale posture: one grid-sized histogram aggregate with map-side
    * partials, then a CELL-pair loop join — |X|·|Y| cells squared, so
    * the caller must keep both grids bounded (tens, not thousands; the
    * contract is explicit where [[spearmanRho]] tolerates any grid).
    * Nothing data-sized past the first aggregate.
    *
    * Output: one row (n, conc, disc, tau) — conc/disc are
    * DECIMAL(38,0) pair masses (~n², past BIGINT at scale; gates render
    * them per the §5.2 output-type contract).
    */
  def kendallTauB(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = localGrid(df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("c")))
    val a = cells.select(col("x").as("x1"), col("y").as("y1"),
      col("c").as("c1"))
    val b = cells.select(col("x").as("x2"), col("y").as("y2"),
      col("c").as("c2"))
    val pairs = a.join(b, col("x1") < col("x2"))
      .agg(
        coalesce(sum(when(col("y1") < col("y2"),
          dec(col("c1")) * dec(col("c2")))), dec0).as("conc"),
        coalesce(sum(when(col("y1") > col("y2"),
          dec(col("c1")) * dec(col("c2")))), dec0).as("disc"))
    val n = cells.agg(sum("c").as("n"))
    val tx = cells.groupBy("x").agg(sum("c").as("t"))
      .agg(coalesce(sum(dec(col("t")) * (dec(col("t")) - 1)), dec0).as("tx2"))
    val ty = cells.groupBy("y").agg(sum("c").as("t"))
      .agg(coalesce(sum(dec(col("t")) * (dec(col("t")) - 1)), dec0).as("ty2"))
    // n₀, n₁, n₂ doubled (×2) keeps everything integer: n0_2 = n(n−1),
    // tie sums Σt(t−1) — the √ product divides the 2s back out.
    n.crossJoin(broadcast(pairs)).crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .select(col("n"), col("conc"), col("disc"),
        when(
          (dec(col("n")) * (dec(col("n")) - 1) - col("tx2")) > 0 &&
            (dec(col("n")) * (dec(col("n")) - 1) - col("ty2")) > 0,
          (dec(lit(2)) * (col("conc") - col("disc")))
            .cast("double") /
            (sqrt((dec(col("n")) * (dec(col("n")) - 1) - col("tx2"))
              .cast("double")) *
              sqrt((dec(col("n")) * (dec(col("n")) - 1) - col("ty2"))
                .cast("double")))).as("tau"))
  }

  /** Gini coefficient of an integer-valued measure, per group — the
    * concentration summary (token-budget inequality across sources,
    * degree concentration across hubs) behind every "is this corpus
    * dominated by a few documents" question. On sorted values,
    * G = (2·Σᵢ i·xᵢ − (N+1)·Σx)/(N·Σx); grouping positions by distinct
    * value v (count c, cumulative-before cb) gives
    * Σ i·xᵢ = Σ_v v·(c·cb + c(c+1)/2) — exact integers in DECIMAL(38,0)
    * down to ONE final IEEE division, so the coefficient hash-gates.
    *
    * Scale posture: per-group value histogram with map-side partials
    * (distinct-value-sized), per-group cumulative window over the
    * histogram, one row per group out. No data-sized sort — the grid
    * trade again.
    *
    * Output per group: (group..., n, total, gini).
    */
  def gini(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    val k = keys.map(col)
    val hist = df.groupBy(k :+ col(valueCol).as("v"): _*)
      .agg(count(lit(1)).as("c"))
    hist.withColumn("cb", runningBefore("c", k, col("v")))
      .groupBy(k: _*)
      .agg(sum("c").as("n"),
        sum(dec(col("v")) * dec(col("c"))).as("total"),
        sum(dec(col("v")) * (dec(col("c")) * dec(col("cb")) +
          dec(col("c")) * dec(col("c") + 1L) / 2)).as("s"))
      .select(k :+ col("n") :+ col("total").cast("long").as("total") :+
        when(col("total") > 0 && col("n") > 0,
          (dec(lit(2)) * col("s") -
            dec(col("n") + 1L) * col("total")).cast("double") /
            (dec(col("n")) * col("total")).cast("double")).as("gini"): _*)
  }

  /** Mood's median test over a BOUNDED integer grid — the robust
    * k-group location test (outlier-immune where [[kruskalWallisH]]
    * weighs whole distributions): split every row at the GRAND median
    * and χ²-test the group × {above, not-above} contingency table.
    * The grand median is the smallest grid value whose cumulative
    * count reaches ⌈N/2⌉ — exact integers over the value histogram,
    * so the split (and therefore the whole statistic) is deterministic
    * cross-engine. The table test delegates to [[chiSquareAssoc]]'s
    * lattice-deterministic total.
    *
    * Scale posture: one value histogram (grid-sized) + one grid-sized
    * cumulative window to find the median, broadcast back as a scalar
    * predicate; then chiSquareAssoc's cell aggregate over a k×2 table.
    *
    * Output: one row (median, n, dof, chi2, v); an empty input reads
    * median and n null, dof 0.
    */
  def moodMedianTest(df: DataFrame, groupCol: String,
                     binCol: String): DataFrame = {
    val hist = df.groupBy(col(binCol).as("v"))
      .agg(count(lit(1)).as("c"))
    // The median is ONE scalar — collect it once and inject it as a
    // literal, instead of cross-joining the (data-sized-aggregate) plan
    // into BOTH the flag pass and the final projection, which re-ran the
    // whole value histogram twice.
    val medRow = hist.withColumn("cum", runningSum("c", Nil, col("v")))
      .crossJoin(broadcast(hist.agg(sum("c").as("n"))))
      .filter(col("cum") * 2 >= col("n"))
      .agg(min("v").as("median"))
      .head()
    val medLit = (if (medRow.isNullAt(0)) lit(null) else lit(medRow.get(0)))
      .cast(df.schema(binCol).dataType)
    val flagged = df
      .select(col(groupCol).as("g"),
        (col(binCol) > medLit).cast("long").as("above"))
    chiSquareAssoc(flagged, "g", "above")
      .select(medLit.as("median"), col("n"), col("dof"), col("chi2"),
        col("v"))
  }

  /** Jonckheere–Terpstra trend test over a BOUNDED integer grid with
    * ORDERED groups — the directional sibling of [[kruskalWallisH]]
    * (H asks "do any groups differ"; JT asks "do values INCREASE along
    * the group order" — quality along source tiers, length along dedup
    * aggressiveness). JT is the sum of pairwise Mann-Whitney counts
    * over ordered group pairs; doubled (ties count once, ascending
    * pairs twice) it is an exact integer cell-pair sum over the
    * (group, v) histogram:
    * {{{ JT2 = Σ_{g1≺g2} Σ_cells c1·c2·(2·[v1<v2] + [v1=v2]) }}}
    * Mean2 = (N² − Σn_g²)/2 is an exact integer, and the tie-corrected
    * variance is the standard three-term closed form — every sum an
    * exact DECIMAL(38,0) over value-tie and group-size marginals — so
    * z = (JT2 − mean2) / (2·√var) is ONE fixed-shape IEEE expression
    * (a fixed tree of three rational terms — deterministic because the
    * shape is fixed, never a data-ordered float reduction) and the
    * statistic hash-gates.
    *
    * Scale posture: one histogram aggregate with map-side partials,
    * then a CELL-pair join — (k·|grid|)² candidates, so the caller
    * keeps both bounded (the [[kendallTauB]] contract). Marginals are
    * grid- and k-sized re-aggregations. Nothing data-sized past the
    * first aggregate. JT2 ~ N²/2 passes BIGINT at corpus scale — gates
    * render it as a string per the §5.2 output-type contract.
    *
    * Groups order by their natural column order (lexicographic for
    * strings) — the trend direction under test.
    *
    * Output: one row (n, k, jt2, z) — z null when degenerate (k < 2 or
    * zero variance).
    */
  def jonckheereTerpstra(df: DataFrame, groupCol: String,
                         binCol: String): DataFrame = {
    val cells = localGrid(df.groupBy(col(groupCol).as("g"), col(binCol).as("v"))
      .agg(count(lit(1)).as("c")))
    val jt = cells.select(col("g").as("g1"), col("v").as("v1"),
        col("c").as("c1"))
      .join(cells.select(col("g").as("g2"), col("v").as("v2"),
        col("c").as("c2")), col("g1") < col("g2"))
      .agg(coalesce(sum(
        when(col("v1") < col("v2"),
          dec(lit(2)) * dec(col("c1")) * dec(col("c2")))
          .when(col("v1") === col("v2"), dec(col("c1")) * dec(col("c2")))
          .otherwise(dec0)), dec0).as("jt2"))
    // Value-tie marginals: t per distinct v pooled over groups.
    val tm = cells.groupBy("v").agg(sum("c").as("t"))
      .agg(sum(dec(col("t"))).as("n"),
        sum(dec(col("t")) * (dec(col("t")) - 1)).as("t2"),
        sum(dec(col("t")) * (dec(col("t")) - 1) * (dec(col("t")) - 2))
          .as("t3"),
        sum(ties25(col("t"))).as("t25"))
    // Group-size marginals.
    val gm = cells.groupBy("g").agg(sum("c").as("ng"))
      .agg(count(lit(1)).as("k"),
        sum(dec(col("ng")) * dec(col("ng"))).as("nsq"),
        sum(dec(col("ng")) * (dec(col("ng")) - 1)).as("g2"),
        sum(dec(col("ng")) * (dec(col("ng")) - 1) * (dec(col("ng")) - 2))
          .as("g3"),
        sum(ties25(col("ng"))).as("g25"))
    tm.crossJoin(broadcast(jt)).crossJoin(broadcast(gm))
      .select(col("n").cast("long").as("n"), col("k").cast("long").as("k"),
        col("jt2").cast("string").as("jt2"),
        // Degenerate-variance guard, decided in exact integers: var = 0
        // iff only one (nonempty) group, or one tie group spans all N
        // values (t2 = Σt(t−1) = N(N−1)); otherwise var > 0.
        when(col("k") > 1 && col("n") > 2 &&
          col("t2") < dec(col("n")) * (dec(col("n")) - 1),
          (col("jt2") - (dec(col("n")) * dec(col("n")) - col("nsq")) / 2)
            .cast("double") /
            // B and C numerators multiply as DOUBLES (t3·g3 ~ N⁶
            // overflows any decimal at corpus scale); the product of
            // two exactly-rounded casts is one IEEE multiply —
            // deterministic cross-engine, unlike a data-ordered sum.
            (lit(2.0) * sqrt(
              (ties25(col("n")) - col("t25") - col("g25")).cast("double") /
                72.0 +
              col("t3").cast("double") * col("g3").cast("double") /
                (dec(lit(36)) * dec(col("n")) *
                  (dec(col("n")) - 1) * (dec(col("n")) - 2)).cast("double") +
              col("t2").cast("double") * col("g2").cast("double") /
                (dec(lit(8)) * dec(col("n")) *
                  (dec(col("n")) - 1)).cast("double")))).as("z"))
  }

  /** Kruskal–Wallis H over a BOUNDED integer grid — the k-group
    * generalization of [[mannWhitneyU]] (quality-score distributions
    * across k sources, token-length across k languages): do any of the
    * groups stochastically dominate? Doubled tie-averaged ranks are
    * exact integers (the [[mannWhitneyU]] identity 2·avgRank = 2·cumBefore
    * + t + 1), so each group's rank sum R2_g is an exact DECIMAL(38,0);
    * the cross-GROUP sum Σ 3·R2_g²/(n_g·N·(N+1)) is the one float
    * reduction, and it is made deterministic the [[chiSquareAssoc]] way:
    * each group's term is a fixed double tree over exact integers,
    * floor-quantized to the 10⁻⁶ lattice and summed exactly. The
    * tie-corrected H = (lattice − 3(N+1)) / (1 − Σ(t³−t)/(N³−N)) is one
    * fixed-shape IEEE expression, so it hash-gates.
    *
    * Scale posture: one (group, v) histogram with map-side partials
    * (k·grid cells, not data), one grid-sized tie window, k-row group
    * aggregate, one-row reduce. Overflow envelope: per-group quantized
    * term ≤ 12·n_g so the long floor holds to n_g ≈ 7·10¹¹;
    * n_g·N·(N+1) in DECIMAL(38,0) holds to N ≈ 10¹².
    *
    * Output: one row (n, k, h) — h null when degenerate (k < 2, or all
    * values in one tie group).
    */
  def kruskalWallisH(df: DataFrame, groupCol: String,
                     binCol: String): DataFrame = {
    val hist = df.groupBy(col(groupCol).as("g"), col(binCol).as("v"))
      .agg(count(lit(1)).as("c"))
    val tv = hist.groupBy("v").agg(sum("c").as("t"))
      .withColumn("cb", runningBefore("t", Nil, col("v")))
    val perG = hist.join(tv, "v")
      .groupBy("g")
      .agg(sum("c").as("n_g"),
        sum(dec(col("c")) * midRank2(col("cb"), col("t"))).as("r2"))
    val tot = tv.agg(sum("t").as("n"), sum(cubeTies(col("t"))).as("ties"))
    val k = perG.agg(count(lit(1)).as("k"))
    val q = latticeSum(perG.crossJoin(broadcast(tot)),
      lit(3.0) * col("r2").cast("double") * col("r2").cast("double") /
        (dec(col("n_g")) * dec(col("n")) * (dec(col("n")) + 1))
          .cast("double"), "h6")
    tot.crossJoin(broadcast(q)).crossJoin(broadcast(k))
      .select(col("n").cast("long").as("n"), col("k").cast("long").as("k"),
        when(col("n") > 1 && col("k") > 1 && col("ties") < cubeTies(col("n")),
          (q6Value - (dec(lit(3)) * (dec(col("n")) + 1)).cast("double")) /
            (lit(1.0) - col("ties").cast("double") /
              cubeTies(col("n")).cast("double"))).as("h"))
  }

  /** Total χ² of association + Cramér's V between two categorical /
    * gridded columns — the one-number "are these features independent"
    * summary next to [[contingencyResiduals]] (which localizes WHICH
    * cells deviate but never sums them: a float sum over data-ordered
    * cells is not reproducible cross-engine). The total here is made
    * deterministic by the lattice trade the 1/100-resolution gates
    * already use: each cell's term (n·O − rt·ct)²/(n·rt·ct) is a FIXED
    * double tree over exact DECIMAL(38,0) integers (bit-identical per
    * cell on any engine), quantized to the 10⁻⁶ lattice via
    * floor(term·10⁶) — floor, not round, because only floor is
    * rounding-mode-identical everywhere — and summed as exact integers.
    * The reported χ² is the lattice value: within 10⁻⁶·cells of the
    * real statistic, and hash-gateable.
    *
    * Scale posture: one (a,b) cell aggregate with map-side partials;
    * marginals are re-aggregations of the CELL table (grid-sized, not
    * data-sized) broadcast back; the quantized sum has map-side
    * partials too. Overflow envelope: per-cell term ≤ n, so
    * floor(term·10⁶) holds in LONG to n ≈ 9·10¹²; the sum and the
    * n·rt·ct denominator live in DECIMAL(38,0) (~10³⁸, n to ~10¹²
    * with both marginals data-sized).
    *
    * Output: one row (n, dof, chi2, v) — v = √(χ²/(n·(min(r,k)−1))),
    * null when the table is degenerate (single row or column); dof =
    * (r−1)·(k−1), 0 for an empty table.
    */
  def chiSquareAssoc(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = localGrid(df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("c")))
    val rowT = cells.groupBy("a").agg(sum("c").as("rt"))
    val colT = cells.groupBy("b").agg(sum("c").as("ct"))
    val tot = cells.agg(sum("c").as("n"))
    val dims = rowT.agg(count(lit(1)).as("r"))
      .crossJoin(colT.agg(count(lit(1)).as("k")))
    val q = latticeSum(
      cells.join(broadcast(rowT), "a").join(broadcast(colT), "b")
        .crossJoin(broadcast(tot))
        .select(
          (dec(col("n")) * dec(col("c")) - dec(col("rt")) * dec(col("ct")))
            .cast("double").as("dev"),
          (dec(col("n")) * dec(col("rt")) * dec(col("ct"))).cast("double")
            .as("den")),
      col("dev") * col("dev") / col("den"), "t6")
    tot.crossJoin(broadcast(q)).crossJoin(broadcast(dims))
      .select(col("n").cast("long").as("n"),
        (greatest(col("r") - 1, lit(0L)) * greatest(col("k") - 1, lit(0L)))
          .cast("long").as("dof"),
        q6Value.as("chi2"),
        when(col("n") > 0 && least(col("r"), col("k")) > 1,
          sqrt(q6Value /
            (dec(col("n")) * dec(least(col("r"), col("k")) - 1))
              .cast("double"))).as("v"))
  }

  /** Mann–Kendall trend test per series (Mann 1945, Kendall 1975): is a
    * time series monotonically trending, without assuming a functional
    * form — the standard telemetry/drift trend detector (daily volume
    * creep, quality-score erosion across crawl snapshots). The statistic
    *
    *   S = Σ_{t_i < t_j} sign(v_j − v_i)
    *
    * is an exact integer over all ordered pairs, and the tie-corrected
    * variance's 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) is exact
    * integer arithmetic over the value-tie marginals — both hash-gate
    * directly. The continuity-corrected z = (S ∓ 1)/√(var18/18) is one
    * division + one correctly-rounded sqrt over exact longs: a
    * fixed-shape IEEE tree, engine-identical (the [[jonckheereTerpstra]]
    * discipline — no logs, no data-ordered float reduction anywhere).
    *
    * Input is the SERIES table — one row per (group, time bucket) with
    * an exact-integer value (the caller aggregates raw events to the
    * bucket grid first, as in the ev1 hourly rollup). Series are
    * calendar-bounded by construction (buckets × groups, not events), so
    * the within-group pair join is quadratic only in series length; the
    * [[localGrid]] contract enforces the bound and hands the join exact
    * sizes instead of post-shuffle default stats.
    *
    * Output: (g, n, s, var18, z) — z null when the variance degenerates
    * (n < 2, or every value in one tie group).
    */
  def mannKendall(df: DataFrame, groupCol: String, timeCol: String,
                  valueCol: String): DataFrame = {
    val pts = localGrid(df.select(col(groupCol).as("g"),
      col(timeCol).as("t"), col(valueCol).cast("long").as("v")))
    val pairs = pts.select(col("g"), col("t").as("t1"), col("v").as("v1"))
      .join(pts.select(col("g"), col("t").as("t2"), col("v").as("v2")),
        Seq("g"))
      .filter(col("t1") < col("t2"))
      .groupBy("g")
      .agg(sum(when(col("v2") > col("v1"), 1L)
        .when(col("v2") < col("v1"), -1L).otherwise(0L)).as("s"))
    val ties = pts.groupBy("g", "v").agg(count(lit(1)).as("tc"))
      .groupBy("g")
      .agg(count(lit(1)).as("ntie"),
        sum(ties25(col("tc"))).as("t25"))
    val n = pts.groupBy("g").agg(count(lit(1)).as("n"))
    n.join(pairs, Seq("g"), "left").join(ties, Seq("g"))
      .select(col("g"), col("n").cast("long").as("n"),
        coalesce(col("s"), lit(0L)).cast("long").as("s"),
        (ties25(col("n")) - col("t25")).cast("long").as("var18"))
      .withColumn("z",
        when(col("var18") > 0,
          (col("s") - signum(col("s")).cast("long")).cast("double") /
            sqrt(col("var18").cast("double") / lit(18.0))))
  }

  /** Brown–Forsythe variance-homogeneity test (Brown & Forsythe 1974 —
    * Levene's test with the group MEDIAN, the robust standard): do k
    * groups have equal spread? The precondition check before pooled-
    * variance statistics like [[cohensD]], and a dispersion-drift
    * detector in its own right (a variant that widens the value spread
    * without moving the mean is invisible to a t test).
    *
    * All-integer construction via the DOUBLED-median trick: on the
    * integer grid the two middle values of each group are exact rank
    * selections from the (group, v) histogram's cumulative window, so
    * Z = |2v − (v_lo + v_hi)| is an exact integer per histogram CELL —
    * no interpolated median, no float deviations. The ANOVA-on-Z that
    * defines W then reduces to per-group exact moments (S_i = ΣZ,
    * Q_i = ΣZ²): each group's rational terms S_i²/n_i and
    * (n_i·Q_i − S_i²)/n_i land on the 10⁻⁶ lattice by EXACT decimal
    * integer division — ⌊S_i²·10⁶ / n_i⌋ as quotient-remainder
    * arithmetic on decimal(38,0), never through a double. (ΣZ-squared
    * terms reach ~10²¹ on real value grids; a double-floor path
    * silently saturates at Long.MaxValue ≈ 9.2·10¹⁸ because Spark's
    * floor() on double returns BIGINT, while the oracle's HUGEINT
    * holds 10²¹ exactly — the Welch/χ² rational terms stay small but
    * these do not, so the lattice must be integer end-to-end.
    * S_i²·10⁶ ≈ 10³⁰ fits both decimal(38,0) and HUGEINT; past the
    * envelope — S_i ≥ 10¹⁶ or n_i·Q_i ≥ 10³² — the plan RAISES via
    * assert_true instead of letting non-ANSI decimal overflow emit a
    * silent NULL W, matching the oracle's loud HUGEINT failure.) The
    * lattice
    * terms are then summed exactly (the [[chiSquareAssoc]] discipline —
    * never a data-ordered float sum), and W is one final fixed-shape
    * IEEE expression. W is scale-invariant, so the 2× never enters the
    * statistic.
    *
    * Scale posture: one (group, v) histogram with map-side partials;
    * the median window runs over histogram rows per group; everything
    * after is k-row arithmetic. Same bounded-grid contract as
    * [[kruskalWallisH]].
    *
    * Output: one row (n, k, w) — w null when degenerate (k < 2, n ≤ k,
    * or zero within-group deviation).
    */
  def brownForsythe(df: DataFrame, groupCol: String,
                    binCol: String): DataFrame = {
    val hist = localGrid(df.groupBy(col(groupCol).as("g"),
      col(binCol).cast("long").as("v")).agg(count(lit(1)).as("c")))
    val wCum = Window.partitionBy("g").orderBy("v")
    val cum = hist.withColumn("cum", sum("c").over(wCum))
      .withColumn("ng", sum("c").over(Window.partitionBy("g")))
    // Doubled median: first v whose cumulative count reaches each of the
    // two middle ranks (exact integer ranks, the q6 rank-at-ceil rule).
    val med = cum
      .withColumn("__lo", when(col("cum") >= floor((col("ng") + 1) / lit(2)),
        col("v")))
      .withColumn("__hi", when(col("cum") >= floor(col("ng") / lit(2)) + 1,
        col("v")))
      .groupBy("g").agg(min("__lo").as("vlo"), min("__hi").as("vhi"))
    val z = hist.join(med, "g")
      .withColumn("z", abs(lit(2) * col("v") - (col("vlo") + col("vhi"))))
    val perG = z.groupBy("g")
      .agg(sum("c").as("ng"),
        sum(dec(col("c")) * dec(col("z"))).as("s"),
        sum(dec(col("c")) * dec(col("z")) * dec(col("z"))).as("q"))
      .select(Seq(col("g"), col("ng"), col("s"), col("q")) ++ {
        // Per-group rational terms on the 1e-6 lattice via EXACT integer
        // division (⌊a/n⌋ = (a − a mod n)/n on decimal(38,0); the
        // numerator is then an exact multiple, so the decimal divide is
        // rounding-free). Both numerators are nonnegative (Cauchy–
        // Schwarz for d6), so truncation ≡ floor and matches the
        // oracle's HUGEINT `//`. A double-floor here saturates at
        // Long.MaxValue for the ~10²¹ values these terms reach.
        val ngD = dec(col("ng"))
        val m6 = dec(lit(1000000L))
        // Envelope guard (ADVICE r9): past S ≈ 10¹⁶ (or n·Q ≈ 10³²) the
        // decimal(38,0) products above would overflow — and under Spark's
        // default non-ANSI mode an overflowed decimal is a SILENT NULL,
        // so W would quietly go null while the oracle's HUGEINT raises a
        // loud error at the same envelope. assert_true makes the Spark
        // side fail equally loudly: rebin the value grid instead of
        // trusting a saturated lattice. (Per-group k-row arithmetic; the
        // guard's own products stay within the bound by construction —
        // literals, never data² — and a NULL condition also throws.)
        val sBound = dec(lit("10000000000000000"))
        val nqBound = dec(lit("100000000000000000000000000000000"))
        val guard = assert_true(
          col("s") < sBound && ngD * col("q") < nqBound,
          lit("brownForsythe: sum-of-Z envelope exceeded (S >= 1e16 or " +
            "n*Q >= 1e32) — the decimal(38,0) 1e-6 lattice would " +
            "overflow to NULL; rebin binCol to a coarser grid"))
        def idiv(a: Column) = dec((a - a % ngD) / ngD)
        // coalesce evaluates lazily in order, so the guard raises BEFORE
        // the product can overflow (under ANSI a raw overflow would also
        // raise, but with a generic decimal error; under non-ANSI it
        // would silently null — both paths now surface the same named
        // envelope message).
        def guarded(a: Column) =
          coalesce(dec(guard), idiv(a))
        Seq(guarded(col("s") * col("s") * m6).as("b6"),
          guarded((ngD * col("q") - col("s") * col("s")) * m6).as("d6"))
      }: _*)
    perG.agg(sum(dec(col("ng"))).as("n"), count(lit(1)).as("k"),
        sum(col("s")).as("stot"), sum(col("b6")).as("b6"),
        sum(col("d6")).as("d6"))
      .select(col("n").cast("long").as("n"), col("k").cast("long").as("k"),
        // Cross-group envelope guard (review r10): each group's terms
        // are bounded by the per-group guard above, but the SUMS over k
        // groups (and stot²) can still overflow decimal(38,0) — e.g.
        // two groups each just inside the bound — and a non-ANSI
        // overflow is a silent NULL that the final when() would read as
        // a degenerate input instead of an error. Inputs are non-null
        // per group, so with k > 0 a null sum can ONLY mean overflow:
        // raise with the same named message. k = 0 (empty input) still
        // emits ONE global-agg row whose sums are legitimately NULL —
        // the guard must pass it through to the documented degenerate
        // (null, 0, null) output, not cry overflow (second review pass
        // caught exactly that misfire).
        coalesce(
          assert_true(
            col("k") === 0 ||
              (col("b6").isNotNull && col("d6").isNotNull &&
                col("stot").isNotNull &&
                (col("stot") * col("stot")).isNotNull),
            lit("brownForsythe: sum-of-Z envelope exceeded across " +
              "groups — a cross-group decimal(38,0) sum overflowed; " +
              "rebin binCol to a coarser grid")).cast("double"),
          when(col("k") > 1 && col("n") > col("k") && col("d6") > 0,
            ((col("n") - col("k")).cast("double") /
              (col("k") - 1).cast("double")) *
              (col("b6").cast("double") / lit(1e6) -
                (col("stot") * col("stot")).cast("double") /
                  col("n").cast("double")) /
              (col("d6").cast("double") / lit(1e6)))).as("w"))
  }

  /** Theil–Sen slope estimator per series (Theil 1950, Sen 1968): the
    * MEDIAN of all pairwise slopes (v_j − v_i)/(t_j − t_i) over
    * time-ordered bucket pairs — the robust trend SLOPE that pairs with
    * [[mannKendall]]'s trend DETECTION (up to ~29% outlier buckets
    * cannot move it, unlike an OLS fit). Every slope is one IEEE
    * division of two exact longs; the median is pure RANK SELECTION
    * (row_number under the total order (slope, t1, t2)) of the two
    * middle slopes, combined as (lo + hi)/2 — selection plus one fixed
    * add/divide, never an engine-shaped interpolation (percentile_cont's
    * `lo + (hi−lo)·f` tree differs from `(lo+hi)/2` in the last ulp, so
    * the oracle replays this exact formulation instead).
    *
    * Same series contract as [[mannKendall]]: one row per (group, time
    * bucket), calendar-bounded, [[localGrid]]-enforced; the pair join is
    * quadratic only in series length and the rank window partitions by
    * group.
    *
    * Output: (g, n_pairs, slope) — slope null when the series has < 2
    * points (no pairs).
    */
  def theilSen(df: DataFrame, groupCol: String, timeCol: String,
               valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = localGrid(df.select(col(groupCol).as("g"),
      col(timeCol).cast("long").as("t"), col(valueCol).cast("long").as("v")))
    val slopes = pts.select(col("g"), col("t").as("t1"), col("v").as("v1"))
      .join(pts.select(col("g"), col("t").as("t2"), col("v").as("v2")),
        Seq("g"))
      .filter(col("t1") < col("t2"))
      .select(col("g"), col("t1"), col("t2"),
        ((col("v2") - col("v1")).cast("double") /
          (col("t2") - col("t1")).cast("double")).as("sl"))
    val w = Window.partitionBy("g").orderBy(col("sl"), col("t1"), col("t2"))
    val ranked = slopes.withColumn("rn", row_number().over(w))
      .withColumn("k", count(lit(1)).over(Window.partitionBy("g")))
    val med = ranked
      // Integer-division middle indices (Spark `/` on longs is DOUBLE
      // division — floor() restores the int-div the oracle's `//` runs).
      .filter(col("rn") === floor((col("k") + 1) / lit(2)) ||
        col("rn") === floor(col("k") / lit(2)) + 1)
      .groupBy("g")
      .agg(first(col("k")).as("n_pairs"),
        ((min("sl") + max("sl")) / lit(2.0)).as("slope"))
    pts.select("g").distinct()
      .join(med, Seq("g"), "left")
      .select(col("g"), coalesce(col("n_pairs"), lit(0L)).cast("long")
        .as("n_pairs"), col("slope"))
  }
}
