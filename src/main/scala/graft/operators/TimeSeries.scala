package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.{dec, gridFloor}

/** Time-series resampling: project an event stream onto a fixed-interval
  * grid per key and forward-fill the last observed value — the
  * feature-store / metrics "resample + ffill" every training pipeline runs
  * before joining time series to examples.
  *
  * Scale posture: everything is keyed windows and one equijoin — one hash
  * shuffle on the key (+ the grid explode, which is output-sized). No
  * driver-side time loop; the grid is `sequence()` per key, so a key's
  * grid length is its own span, not the global one.
  */
object TimeSeries {

  /** One row per (`keyCol`, grid step of `unit`) between each key's first
    * and last event, carrying the forward-filled `valCol`: within a step
    * the LAST event under (`tsCol`, `ordCol`) wins; empty steps inherit
    * the previous step's value. `ordCol` must totally order events inside
    * a (key, ts) tie for the fill to be deterministic. `unit` is a
    * `date_trunc` unit plus matching step interval, e.g. ("hour",
    * "interval 1 hour").
    */
  /** OHLC downsampling: collapse each (`keyCol`, `unit` bucket) to
    * open/high/low/close/count/sum — the standard bar aggregation that
    * turns a raw event stream into fixed-interval features. Open and
    * close are the first/last values under the (`tsCol`, `ordCol`) total
    * order (the tiebreak makes them deterministic, hence gate-able: every
    * output is either a raw data value or a decimal-exact sum).
    *
    * Scale posture: one hash exchange on (key, bucket) shared by both
    * window passes and the final aggregate; map-side partial aggregation
    * applies to the min/max/count/sum. No grid explode — buckets exist
    * only where data does (downsampling, not gap filling; compose with
    * [[resampleFfill]] for a dense grid).
    */
  def downsampleOhlc(df: DataFrame, keyCol: String, tsCol: String,
                     valCol: String, ordCol: String,
                     unit: String): DataFrame = {
    val k = col(keyCol)
    val b = date_trunc(unit, col(tsCol))
    val wAsc = Window.partitionBy(k, col("__b"))
      .orderBy(col(tsCol).asc, col(ordCol).asc)
    val wDesc = Window.partitionBy(k, col("__b"))
      .orderBy(col(tsCol).desc, col(ordCol).desc)
    df.withColumn("__b", b)
      .withColumn("__ra", row_number().over(wAsc))
      .withColumn("__rd", row_number().over(wDesc))
      .groupBy(k, col("__b").as("bucket"))
      .agg(
        max(when(col("__ra") === 1, col(valCol))).as("open"),
        max(col(valCol)).as("high"),
        min(col(valCol)).as("low"),
        max(when(col("__rd") === 1, col(valCol))).as("close"),
        count(lit(1)).as("n"),
        sum(col(valCol).cast("decimal(18,6)")).cast("double").as("sum_v"))
  }

  def resampleFfill(df: DataFrame, keyCol: String, tsCol: String,
                    valCol: String, ordCol: String,
                    unit: String, step: String): DataFrame = {
    val k = col(keyCol)
    val bucket: Column = date_trunc(unit, col(tsCol))
    // last observation per occupied grid step
    val wLast = Window.partitionBy(k, col("__h"))
      .orderBy(col(tsCol).desc, col(ordCol).desc)
    val perStep = df.withColumn("__h", bucket)
      .withColumn("__rn", row_number().over(wLast))
      .filter(col("__rn") === 1)
      .select(k, col("__h"), col(valCol).as("__v"))
    // per-key grid over the key's own span
    val grid = df.groupBy(k)
      .agg(date_trunc(unit, min(col(tsCol))).as("__h0"),
        date_trunc(unit, max(col(tsCol))).as("__h1"))
      .select(k, explode(expr(s"sequence(__h0, __h1, $step)")).as("__h"))
    val wFill = Window.partitionBy(k).orderBy(col("__h"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(perStep, Seq(keyCol, "__h"), "left")
      .withColumn(valCol, last(col("__v"), ignoreNulls = true).over(wFill))
      .select(k, col("__h").as("bucket"), col(valCol))
  }

  /** Linear interpolation onto a fixed per-key grid: each grid point takes
    * `v0 + (v1 − v0) · (t − t0)/(t1 − t0)` between its neighboring
    * observations (the last at-or-before and the first strictly-after
    * anchor); grid points before the first anchor back-fill, at-or-after
    * the last anchor forward-fill. Same-timestamp observations dedup to
    * the highest `ordCol` so the anchor set is deterministic.
    *
    * Determinism contract: times enter the arithmetic as exact integer
    * microseconds and the interpolation is five IEEE double ops written
    * identically in the oracle — no engine-variant rounding anywhere.
    *
    * Scale posture: anchors and grid union into ONE stream sorted per key,
    * and both neighbor lookups are frame-bounded `last/first IGNORE NULLS`
    * window passes over that stream — Catalyst plans a single hash
    * exchange on the key shared by the dedup window, both fill windows and
    * the grid explode. The classic alternative (range join of grid against
    * anchor intervals) shuffles twice and explodes; this never builds a
    * pair space.
    */
  def interpolate(df: DataFrame, keyCol: String, tsCol: String,
                  valCol: String, ordCol: String,
                  unit: String, step: String): DataFrame = {
    val k = col(keyCol)
    val wTs = Window.partitionBy(k, col(tsCol)).orderBy(col(ordCol).desc)
    val anchors = df.withColumn("__rn", row_number().over(wTs))
      .filter(col("__rn") === 1)
      .select(k, col(tsCol).as("__t"), col(valCol).as("__v"),
        lit(1).as("__a"))
    val grid = df.groupBy(k)
      .agg(date_trunc(unit, min(col(tsCol))).as("__h0"),
        date_trunc(unit, max(col(tsCol))).as("__h1"))
      .select(k, explode(expr(s"sequence(__h0, __h1, $step)")).as("__t"),
        lit(null).cast(df.schema(valCol).dataType).as("__v"),
        lit(0).as("__a"))
    // Anchors sort before a grid point at the identical timestamp, so the
    // backward pass sees them (v0 = the coincident value, frac = 0) and
    // the forward pass skips them (t1 is strictly later).
    val wPrev = Window.partitionBy(k).orderBy(col("__t"), col("__a").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(k).orderBy(col("__t"), col("__a").desc)
      .rowsBetween(0, Window.unboundedFollowing)
    val anchorUs = when(col("__a") === 1, col("__us"))
    anchors.unionByName(grid)
      .withColumn("__us", unix_micros(col("__t")))
      .withColumn("__v0", last(col("__v"), ignoreNulls = true).over(wPrev))
      .withColumn("__t0", last(anchorUs, ignoreNulls = true).over(wPrev))
      .withColumn("__v1", first(col("__v"), ignoreNulls = true).over(wNext))
      .withColumn("__t1", first(anchorUs, ignoreNulls = true).over(wNext))
      .filter(col("__a") === 0)
      .select(k, col("__t").as("bucket"),
        when(col("__t0").isNull, col("__v1"))
          .when(col("__t1").isNull || col("__t1") === col("__t0"),
            col("__v0"))
          .otherwise(col("__v0") + (col("__v1") - col("__v0"))
            * ((col("__us") - col("__t0")).cast("double")
              / (col("__t1") - col("__t0")).cast("double")))
          .as(valCol))
  }

  /** Truncated exponentially-weighted moving average (α = ½) per key:
    * `v/2 + lag₁/4 + lag₂/8 + lag₃/8` — dyadic weights ½, ¼, ⅛ plus the
    * entire geometric tail (Σᵢ≥₃ 2⁻ⁱ⁻¹ = ⅛) assigned to the 3rd lag, so
    * the weights sum to exactly 1 with a bounded state window. Missing
    * history warm-starts at the oldest available value (each lag
    * coalesces to its younger neighbor), the standard EWMA
    * initialization.
    *
    * Determinism contract: every weight is a power of two, so each term
    * is an exact FP exponent decrement, and the sum is a FIXED 4-leaf
    * expression tree — bit-identical in any IEEE-754 engine (no window
    * sum whose accumulation order an engine could choose).
    *
    * Scale posture: the four lags share one (`tsCol`, `ordCol`)-sorted
    * window pass — a single hash exchange on the key; the blend is a
    * projection. Unlike the recursive EWMA definition (an inherently
    * sequential scan per key), truncation makes the operator a bounded
    * frame lookback — embarrassingly parallel across keys AND restart-
    * safe mid-stream.
    */
  def ewmaTruncated(df: DataFrame, keyCol: String, tsCol: String,
                    valCol: String, ordCol: String,
                    outCol: String = "ewma"): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(ordCol))
    val v0 = col(valCol)
    val l1 = coalesce(lag(v0, 1).over(w), v0)
    val l2 = coalesce(lag(v0, 2).over(w), l1)
    val l3 = coalesce(lag(v0, 3).over(w), l2)
    df.withColumn(outCol, ((v0 / 2 + l1 / 4) + l2 / 8) + l3 / 8)
  }

  /** Time-weighted average of an irregular series per key: each
    * observation holds until the next one, so its weight is the gap to
    * the successor (the final observation carries no weight — there is no
    * interval it governs). The irregular-sampling-proof mean: a sensor
    * reporting 1000× per second while idle no longer drowns out the one
    * reading that held for an hour.
    *
    * Determinism contract (what makes this gate-able cross-engine):
    * values land on a fixed-point grid (`floor(value · gridScale)` — one
    * IEEE multiply + floor, identical anywhere) and durations are
    * integer milliseconds, so the weighted sum is EXACT long arithmetic;
    * only the final `wsum / dur / gridScale` runs in floating point (two
    * divisions, written identically in the oracle). Envelope:
    * Σ (value·gridScale)·dur_ms per key must stay under 2⁶³ — grid 10³,
    * values ≤ 10⁶ and 30-day spans leave ×100 headroom per million rows.
    *
    * Scale posture: one window exchange on the key (lead) feeding a
    * same-key aggregate — Catalyst plans one shuffle total. Ordering is
    * totalized by (`tsCol` at microsecond precision, `ordCol`).
    *
    * Output: (keyCol, twap, dur_ms) — keys whose observations all share
    * one timestamp (zero total duration) are dropped.
    */
  def timeWeightedAvg(df: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String, ordCol: String,
                      gridScale: Long = 1000L): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__us"), col(ordCol))
    df.select(col(keyCol), unix_micros(col(tsCol)).as("__us"),
        floor(col(valueCol) * gridScale).as("__gv"), col(ordCol))
      .withColumn("__gap", lead(col("__us"), 1).over(w) - col("__us"))
      .withColumn("__dur", expr("__gap div 1000"))
      .filter(col("__dur").isNotNull)
      .groupBy(col(keyCol))
      .agg(sum(col("__gv") * col("__dur")).as("__wsum"),
        sum(col("__dur")).as("dur_ms"))
      .filter(col("dur_ms") > 0)
      .select(col(keyCol),
        (col("__wsum").cast("double") / col("dur_ms").cast("double")
          / gridScale.toDouble).as("twap"),
        col("dur_ms"))
  }

  /** Trailing time-interval rolling aggregate: per key, count and exact
    * decimal sum over the value-based frame [t − widthMs, t] — the
    * irregular-series companion to the ROWS-frame rolling stats
    * ([[Stats.rollingAnomalies]]): the window is a fixed TIME span,
    * however many rows fall in it ("requests and spend in the trailing
    * hour, per user, at every event").
    *
    * Scale posture: one exchange on the key; the RANGE frame runs in the
    * same sorted pass as a ROWS frame (sliding aggregate over the
    * ms-ordered partition). Bounds are value-based, so same-ms ties share
    * one frame — engine-identical semantics, no peer ambiguity.
    *
    * Output: input row + (n_win, sum_win); sum via DECIMAL(18,6) (exact,
    * order-independent) cast back to double.
    */
  def rollingInterval(df: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String, widthMs: Long): DataFrame = {
    require(widthMs > 0, "widthMs must be positive")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(unix_millis(col(tsCol)))
      .rangeBetween(-widthMs, 0)
    df.withColumn("n_win", count(lit(1)).over(w))
      .withColumn("sum_win",
        sum(col(valueCol).cast("decimal(18,6)")).over(w).cast("double"))
  }

  /** Seasonal-naive forecast skill (the MASE construction): per key, the
    * mean absolute error of the lag-`season` "same time last period"
    * forecast, SCALED by the lag-1 naive baseline's MAE —
    * {{{ mase = (Σ|x_t − x_{t−s}| / n_s) / (Σ|x_t − x_{t−1}| / n_1)
    *          = (err_s · n_1) / (err_1 · n_s) }}}
    * mase < 1 means the seasonal pattern beats "repeat yesterday" — the
    * monitoring number that says a series HAS usable seasonality.
    * On the integer value grid both error sums are exact longs and the
    * cross-multiplied form needs ONE IEEE division, so the statistic
    * hash-gates (the [[graft.operators.Stats.autocorrInt]] discipline).
    *
    * Scale posture: both lags ride ONE window exchange on the key, the
    * error sums one same-key aggregate — a single shuffle. Null when the
    * baseline error is 0 (constant series) or no lag-`season` pair
    * exists.
    *
    * @return per key: (n, err_s, err_1, mase)
    */
  def maseNaive(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
                valueCol: String, season: Int, grid: Long): DataFrame = {
    require(season >= 1, "season must be >= 1")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val g = df.withColumn("__x", gridFloor(col(valueCol), grid))
      .withColumn("__xs", lag(col("__x"), season).over(w))
      .withColumn("__x1", lag(col("__x"), 1).over(w))
    g.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(abs(col("__x") - col("__xs"))).as("err_s"),
        count(col("__xs")).as("__ns"),
        sum(abs(col("__x") - col("__x1"))).as("err_1"),
        count(col("__x1")).as("__n1"))
      .select((keys.map(col) :+ col("n") :+ col("err_s") :+ col("err_1") :+
        when(col("err_1") > 0 && col("__ns") > 0,
          (dec(col("err_s")) * dec(col("__n1"))).cast("double") /
            (dec(col("err_1")) * dec(col("__ns"))).cast("double"))
          .as("mase")): _*)
  }

  /** SEASONAL INDEX per (key, period slot) — the multiplicative
    * seasonality profile (classical decomposition's seasonal factor at
    * slot granularity): how does the slot's mean compare to the key's
    * overall mean?
    * {{{ idx(slot) = mean(slot) / mean(all)
    *               = (Σslot · n_all) / (n_slot · Σall) }}}
    * evaluated as exact DECIMAL(38,0) cross-products with ONE IEEE
    * division — the [[maseNaive]] ratio discipline, so the profile
    * hash-gates. idx > 1 marks above-trend slots (the weekday/hour
    * effects a forecast or an anomaly baseline must remove first).
    * Values land on a floor grid (see `Stats.olsFit` for why floor
    * beats decimal casts cross-engine).
    *
    * Scale posture: one (key, slot) aggregate, one key-level rollup of
    * that (slot-count-sized, broadcast back) — the data shuffles once.
    *
    * @param slot the period-slot expression (day-of-week, hour, month —
    *             any small integer expression of the row)
    */
  def seasonalIndex(df: DataFrame, keys: Seq[String], slot: Column,
                    valueCol: String, grid: Long): DataFrame = {
    require(grid >= 1, "grid must be >= 1")
    val x = dec(gridFloor(col(valueCol), grid))
    val bySlot = df.withColumn("__slot", slot)
      .groupBy((keys :+ "__slot").map(col): _*)
      .agg(count(lit(1)).as("cnt"), sum(x).as("__s"))
    val byKey = bySlot.groupBy(keys.map(col): _*)
      .agg(sum("cnt").as("__tot_n"), sum("__s").as("__tot_s"))
    bySlot.join(broadcast(byKey), keys)
      .select((keys.map(col) :+ col("__slot").as("slot") :+ col("cnt") :+
        when(dec(col("cnt")) * col("__tot_s") =!= 0,
          (col("__s") * dec(col("__tot_n"))).cast("double") /
            (dec(col("cnt")) * col("__tot_s")).cast("double"))
          .as("idx")): _*)
  }
}
