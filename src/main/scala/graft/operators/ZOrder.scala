package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering for multi-column data skipping. Sorting a
  * table by the bit-interleaved z-value of two key columns bounds BOTH
  * keys' min/max range inside every output file, so parquet footer stats
  * prune scans filtered on either key — the lakehouse trick behind
  * Delta/Iceberg `ZORDER BY`, expressed here as plain codegen'd bit
  * arithmetic (no UDF, no shuffle beyond the range sort the caller picks).
  */
object ZOrder {

  /** Bit-interleaved z-value of two non-negative ints: bit `b` of `x`
    * lands at position `2b`, bit `b` of `y` at `2b+1`. Callers bound the
    * domain first (e.g. `col % 1024` or a rank) so `bits` covers it.
    */
  def zValue(x: Column, y: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b))
        .bitwiseOR(shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1))
    }

  /** Range-partition `df` by the z-value of (`xCol` % 2^bits, `yCol` %
    * 2^bits) into `files` output slices — the write-side layout step.
    * Range exchange samples the z distribution, so slices are balanced
    * even when the key space is skewed.
    */
  def cluster(df: DataFrame, xCol: String, yCol: String,
              bits: Int, files: Int): DataFrame = {
    val m = 1L << bits
    df.withColumn("__z", zValue(col(xCol) % m, col(yCol) % m, bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Hilbert-curve index of two non-negative ints on a 2^bits × 2^bits
    * grid — the strictly-better space-filling curve for data skipping:
    * unlike Morton order, consecutive Hilbert cells are always grid
    * neighbors (no diagonal jumps across the key space), so a contiguous
    * index range bounds both keys at least as tightly as the same-size
    * z-range — tighter min/max footer stats per file, fewer false-positive
    * reads. The classic xy→d walk, unrolled at plan time into `bits`
    * rounds of pure integer CASE/bit arithmetic — codegen'd, no UDF.
    * Expression size grows ~3× per round; `bits` ≤ 6 keeps the tree
    * small, and 6 bits (a 64×64 grid = 4096 cells) is plenty for file
    * skipping: files-per-table rarely exceeds a few thousand per
    * partition.
    */
  def hilbertIndex(xCol: Column, yCol: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 6, "bits must be in [1, 6]")
    var x = xCol
    var y = yCol
    var d = lit(0L)
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1L << i
      val rx = when(x.bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L))
      val ry = when(y.bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L))
      d = d + (lit(s * s) * (lit(3L) * rx).bitwiseXOR(ry))
      // rotate the quadrant, then swap axes (skipped when ry = 1)
      val nx = when(ry === 0,
        when(rx === 1, lit(s - 1) - y).otherwise(y)).otherwise(x)
      val ny = when(ry === 0,
        when(rx === 1, lit(s - 1) - x).otherwise(x)).otherwise(y)
      x = nx
      y = ny
    }
    d
  }
}
