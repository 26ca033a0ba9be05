package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.syntax._

/** Z-order (Morton-curve) clustering for multi-dimensional data skipping —
  * the lake-maintenance companion to hour partitioning (Iceberg/Delta
  * `OPTIMIZE ZORDER BY` parity; reference tables are Iceberg,
  * trino/sql/init-tables.sql).
  *
  * Partition pruning handles the TIME dimension; inside a partition,
  * parquet can still skip row groups/files via min/max stats — but only if
  * the data is clustered on the filtered columns. A single-column sort
  * gives one dimension tight ranges and leaves the other spanning the full
  * domain in every file. Interleaving the bits of BOTH columns' ranks
  * (the Morton curve) keeps each file's bounding box small in both
  * dimensions, so a 2-D box predicate skips most files — measured in
  * ZOrderSpec as candidate-file count vs the single-sort layout.
  *
  * Everything is pure column math (shift/and/or — codegen'd, no UDF), and
  * the write is `repartitionByRange(z)` + `sortWithinPartitions(z)`: one
  * range shuffle, the same cost as any global sort at 100 TB.
  */
object ZOrder {

  /** Spread the low 16 bits of `x` to even bit positions (0,2,4,…30) —
    * the classic mask ladder, as column expressions.
    */
  private def spread(x: Column): Column = {
    val masks = Seq(
      (8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))
    masks.foldLeft(x.cast("long").bitwiseAND(0xFFFFL)) { case (acc, (s, m)) =>
      (acc bitwiseOR shiftleft(acc, s)).bitwiseAND(m)
    }
  }

  /** 32-bit Morton interleave of two 16-bit values (a even bits, b odd). */
  def interleave(a: Column, b: Column): Column =
    spread(a) bitwiseOR shiftleft(spread(b), 1)

  /** Min-max normalize a numeric column to [0, 65535]. Bounds arrive via a
    * broadcast 1-row aggregate (one lazy job, no driver round-trip).
    */
  private def norm16(c: Column, lo: Column, hi: Column): Column =
    when(hi === lo, lit(0L)).otherwise(
      ((c.cast("double") - lo) / (hi - lo) * 65535.0).cast("long")
        .bitwiseAND(0xFFFFL))

  /** `df` with a `zval` column: Morton code of the two columns' min-max
    * normalized 16-bit images.
    */
  def withZValue(df: DataFrame, colA: String, colB: String): DataFrame = {
    val bounds = df.agg(
      min(col(colA).cast("double")).as("a_lo"), max(col(colA).cast("double")).as("a_hi"),
      min(col(colB).cast("double")).as("b_lo"), max(col(colB).cast("double")).as("b_hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn("zval", interleave(
        norm16(col(colA), $"a_lo", $"a_hi"),
        norm16(col(colB), $"b_lo", $"b_hi")))
      .drop("a_lo", "a_hi", "b_lo", "b_hi")
  }

  /** Write `df` clustered on the Morton curve of (colA, colB) into
    * `numFiles` files: range-partition by zval (contiguous curve segments
    * per file → small per-file bounding boxes), sort within, drop the
    * helper column at the scan boundary via parquet column independence.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int): Unit =
    withZValue(df, colA, colB)
      .repartitionByRange(numFiles, $"zval")
      .sortWithinPartitions($"zval")
      .drop("zval")
      .write.options(LocalFs.WriteOptions)
      .mode("overwrite").option("compression", "zstd").parquet(path)
}
