package graft.core

import org.apache.spark.sql.DataFrame

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
}
