package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** Library entry points are safe when several threads share one session:
  * stream harness runs and the materialized PageRank loop each run on a
  * private session clone, so concurrent calls neither collide on memory
  * sink names nor leak their settings into the caller's conf or catalog.
  */
class ConcurrencySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  // the multi-batch sessionizer twice: two runs of one row at once is the
  // memory-sink name collision and the shared shard-split first use
  private val mix = Seq("sessionize_stream_multibatch",
    "sessionize_stream_multibatch", "dedup_stream", "link_pagerank_converged")

  private val watched = Seq("spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled")

  private def rows(query: String): Seq[String] =
    SparkEntry.queries(query)(spark, dir).collect().map(_.toString).toSeq.sorted

  test("stream rows and PageRank from 4 threads on one session match serial runs") {
    val confBefore = watched.map(k => k -> spark.conf.getOption(k))
    val serial = mix.distinct.map(q => q -> rows(q)).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(mix.size)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val runs = mix.map(q => Future { start.await(); q -> rows(q) })
      start.countDown()
      for ((q, got) <- Await.result(Future.sequence(runs), 10.minutes))
        assert(got == serial(q), s"$q: concurrent result differs from serial")
    } finally pool.shutdownNow()
    assert(watched.map(k => k -> spark.conf.getOption(k)) == confBefore)
    val views = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_")).map(_.name)
    assert(views.isEmpty, s"temp views left in the caller's catalog: $views")
  }
}
