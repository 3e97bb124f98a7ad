package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout levers for the 100-TB deployment (SCALE.md "Policies"):
  *
  *  - **Bucketed tables** co-locate both sides of a recurring join key at
  *    WRITE time: two tables bucketed into the same bucket count on the
  *    join key compile to a sort-merge join with NO Exchange on either
  *    side — the shuffle is paid once when the lake is laid down, not on
  *    every query. This is the Spark-native analogue of the reference's
  *    chunk-aligned dask layouts.
  */
object Layout {

  /** Write `df` as a bucketed (and per-bucket sorted) managed parquet
    * table. Downstream equi-joins and groupBys on `bucketCols` against
    * same-bucketed tables run shuffle-free.
    */
  def writeBucketed(df: DataFrame, table: String, nBuckets: Int,
      bucketCols: Seq[String]): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Morton (Z-order) code of two coordinates quantized to `bits` levels
    * inside fixed bounds: bit-interleaved so rows close in 2-D space are
    * close in the 1-D sort order. Pure codegen'd integer arithmetic.
    */
  def mortonCode(x: Column, y: Column, xMin: Double, xMax: Double,
      yMin: Double, yMax: Double, bits: Int = 12): Column = {
    require(bits >= 1 && bits <= 31 && xMax > xMin && yMax > yMin)
    val n = 1L << bits
    def quant(c: Column, lo: Double, hi: Double): Column =
      least(greatest(floor((c.cast("double") - lo) / (hi - lo) * n)
        .cast("long"), lit(0L)), lit(n - 1))
    val (qx, qy) = (quant(x, xMin, xMax), quant(y, yMin, yMax))
    (0 until bits).map { i =>
      shiftleft(qx.bitwiseAND(1L << i), i + 1) +
        shiftleft(qy.bitwiseAND(1L << i), i)
    }.reduce(_ + _)
  }

  /** Z-order-clustered parquet write — the raster-lake layout lever: rows
    * are range-partitioned and sorted by their Morton code, so every
    * output file covers a compact spatial tile and its parquet min/max
    * column statistics let bbox predicates skip whole files/row-groups at
    * planning time (the same public technique behind lakehouse Z-ORDER
    * clustering). One pass for the bounds, one range shuffle to write —
    * paid once at lake layout, amortized over every spatial query after.
    */
  def writeSpatialClustered(df: DataFrame, path: String, xCol: String,
      yCol: String, nFiles: Int, bits: Int = 12): Unit = {
    require(nFiles > 0)
    val b = df.agg(min(col(xCol)).cast("double"), max(col(xCol)).cast("double"),
      min(col(yCol)).cast("double"), max(col(yCol)).cast("double")).first()
    val (x0, x1, y0, y1) = (b.getDouble(0), b.getDouble(1),
      b.getDouble(2), b.getDouble(3))
    df.withColumn("_z", mortonCode(col(xCol), col(yCol),
        x0, x1 + 1e-9, y0, y1 + 1e-9, bits))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }
}
