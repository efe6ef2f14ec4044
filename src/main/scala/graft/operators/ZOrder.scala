package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout: interleave the bits of two
  * clustering dimensions into one sort key so that range-partitioning
  * on that key co-locates rows that are close in BOTH dimensions.
  *
  * Why it matters at 100 TB: min/max file statistics prune a scan only
  * along the physical sort order. A corpus laid out by `doc_id` alone
  * answers `n_chars BETWEEN a AND b` by reading every file; laid out by
  * the z-key of (n_chars, doc_id), both one-dimensional predicates
  * skip ~sqrt-fraction of files (each file's bounding box covers a
  * small square of the key space instead of a full-width stripe). This
  * is the layout step behind Delta `OPTIMIZE ZORDER BY` and Iceberg's
  * sort-order z-order transform — reproduced here engine-side so the
  * parquet writer (or `ParquetCatalog`) can consume it.
  *
  * The bit-spread uses the classic magic-number doubling shifts —
  * five shift/mask Column ops per dimension, all inside whole-stage
  * codegen; no UDF, no shuffle for the key itself. The layout pays
  * exactly one range exchange (sampling + repartitionByRange), the
  * same price as any global sort.
  *
  * Engine-portable: the key is a pure function of the two ints, so a
  * DuckDB oracle replays it bit-for-bit with the positional sum
  * formula sum_i ((x>>i)&1) << 2i | ((y>>i)&1) << 2i+1.
  */
object ZOrder {

  /** Spread the low 16 bits of `x` to the even bit positions of a
    * 32-bit word: 0b...dcba -> 0b...0d0c0b0a. Values are clamped to
    * [0, 65535] first so out-of-range inputs degrade to saturation,
    * never to interleaved garbage.
    */
  def spread16(x: Column): Column = {
    val clamped = least(greatest(x.cast("long"), lit(0L)), lit(65535L))
    val s8 = (clamped.bitwiseOR(shiftleft(clamped, 8))).bitwiseAND(lit(0x00FF00FFL))
    val s4 = (s8.bitwiseOR(shiftleft(s8, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val s2 = (s4.bitwiseOR(shiftleft(s4, 2))).bitwiseAND(lit(0x33333333L))
    (s2.bitwiseOR(shiftleft(s2, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton key of two 16-bit dimensions; `y` takes the odd
    * bits (the more significant of each pair).
    */
  def zkey16(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** Physically cluster `df` by the z-key of (`xCol`, `yCol`): one
    * range exchange on the key, then an intra-partition sort so the
    * parquet row-group stats are tight too. Output rows are unchanged;
    * only their partition assignment and order move.
    */
  def layout(df: DataFrame, xCol: String, yCol: String,
      numPartitions: Int): DataFrame = {
    require(numPartitions >= 1, s"numPartitions must be positive: $numPartitions")
    val keyed = df.withColumn("__zkey", zkey16(col(xCol), col(yCol)))
    keyed
      .repartitionByRange(numPartitions, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
  }

  /** Pruning effectiveness of a layout for a 1-D range predicate:
    * per-partition (min, max) of `dimCol` — a partition is skippable
    * iff its [min, max] misses the predicate range, exactly the file
    * min/max pruning a lakehouse scan does. Returns
    * (partition, n_rows, min_dim, max_dim). Partition ids depend on
    * the layout's exchange, so this is a diagnostic (spec-gated), not
    * an oracled query.
    */
  def partitionStats(df: DataFrame, dimCol: String): DataFrame =
    df.withColumn("__pid", spark_partition_id())
      .groupBy(col("__pid").as("partition"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(dimCol)).as("min_dim"),
        max(col(dimCol)).as("max_dim"))
}
