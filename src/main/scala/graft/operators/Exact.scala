package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The gate-exact arithmetic steps the statistics operators share
  * ([[Stats]], [[Graph]], [[TimeSeries]], [[TextOps]]). A statistic
  * hash-matches its oracle when every sum is an exact integer and the
  * only floating point is one fixed-shape IEEE expression at the end;
  * these are the pieces of that discipline, one definition each.
  */
private[operators] object Exact {

  /** Exact-integer carrier: sums and products of counts or grid values
    * in DECIMAL(38,0) are order-free and hold far past LongType.
    */
  def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** A value on the 1/`grid` lattice: `floor(v·grid)` as a long. The
    * floor of one IEEE product is bit-identical in any engine, unlike a
    * double→decimal cast, which differs on rounding ties.
    */
  def gridFloor(c: Column, grid: Long): Column =
    floor(c * lit(grid.toDouble)).cast("long")

  /** Pearson correlation from exact moments over `n` rows:
    * {{{ (n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²)) }}}
    * Every numerator is an exact DECIMAL(38,0) integer and the ratio is
    * one fixed-shape IEEE expression (√ is correctly rounded). Null when
    * either side has zero variance.
    */
  def pearson(n: Column, sx: Column, sy: Column, sxx: Column, syy: Column,
              sxy: Column): Column = {
    val vx = dec(n) * sxx - sx * sx
    val vy = dec(n) * syy - sy * sy
    when(vx > 0 && vy > 0,
      (dec(n) * sxy - sx * sy).cast("double") /
        (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
  }

  /** Per-id fixed-point mean of a double column: each value floors onto
    * the 1/`scale` lattice, the lattice integers sum exactly in
    * DECIMAL(38,0), and one division pair ends it — so a per-document
    * average of model probabilities is order-free and hash-gates.
    *
    * Output: (idCol, nCol, outCol).
    */
  def fixedPointMean(df: DataFrame, idCol: String, valueCol: String,
                     scale: Double, nCol: String, outCol: String): DataFrame =
    df.groupBy(idCol)
      .agg(count(lit(1)).as(nCol),
        sum(dec(floor(col(valueCol) * lit(scale)))).as("__s"))
      .select(col(idCol), col(nCol),
        (col("__s").cast("double") / lit(scale) /
          col(nCol).cast("double")).as(outCol))
}
