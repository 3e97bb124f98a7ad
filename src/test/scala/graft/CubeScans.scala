package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** The planned chunk/strip read count of a frame's cube scans, read from
  * the `reads=` field of each scan's description. Reads are packed into
  * core-sized partitions, so the partition count no longer shows pruning;
  * the read count does.
  */
object CubeScans {
  private val Reads = """reads=(\d+)""".r.unanchored

  def plannedReads(df: DataFrame): Int = {
    val described = df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }
    assert(described.nonEmpty, "no DataSourceV2 scan in the plan")
    described.map {
      case Reads(n) => n.toInt
      case d => throw new AssertionError(s"scan without a read count: $d")
    }.sum
  }
}
