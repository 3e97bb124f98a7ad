package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** Library entry points are safe when several threads share one session:
  * stream harness runs and the materialized PageRank loop each run on a
  * private session clone, so concurrent calls neither collide on memory
  * sink names nor leak their settings into the caller's conf or catalog,
  * and the queries' once-per-JVM memo builds different keys at the same
  * time.
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

  test("memo builds of two keys run at the same time; each builds once") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import graft.queries.PipelineQueries.memo
    // the first build waits for the second to start: a lock held across
    // builds keeps the second out until the first stops waiting
    val (aStarted, bStarted) = (new CountDownLatch(1), new CountDownLatch(1))
    val key = java.util.UUID.randomUUID().toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val a = Future(memo(s"latch-a-$key", spark, dir) {
        aStarted.countDown()
        java.lang.Boolean.valueOf(bStarted.await(20, TimeUnit.SECONDS))
      })
      assert(aStarted.await(20, TimeUnit.SECONDS))
      val b = Future(memo(s"latch-b-$key", spark, dir) {
        bStarted.countDown()
        java.lang.Boolean.TRUE
      })
      assert(Await.result(a, 1.minute).booleanValue,
        "the second key's build did not start while the first key's ran")
      assert(Await.result(b, 1.minute).booleanValue)
    } finally pool.shutdownNow()
    // a built key answers from the memo without building again
    assert(memo[java.lang.Boolean](s"latch-a-$key", spark, dir)(
      fail("rebuilt")).booleanValue)
  }
}
