package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Cache-scope discipline ([[graft.core.Caching]]): the intermediate a
  * diamond-shaped operator persists must leave the session's CacheManager
  * on EVERY exit path — success AND failure. The failure path matters in
  * long-lived sessions: Bench/Verify catch per-query errors and continue,
  * so a scoped() that only unpersisted on success would leak corpus-sized
  * blocks on every caught retry (the r18 review finding).
  */
class CachingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  test("scoped: computes through the cache, then releases it") {
    val sess = spark
    import sess.implicits._
    val cached = (1L to 100L).toDF("x").persist(StorageLevel.MEMORY_AND_DISK)
    val out = graft.core.Caching.scoped(
      cached.agg(sum(col("x")).as("s")), cached)
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(5050L))
    // the intermediate must be out of the cache (storageLevel NONE) even
    // though the RESULT frame remains usable
    assert(cached.storageLevel == StorageLevel.NONE)
  }

  test("scoped: a failing eager job still releases the cache") {
    val sess = spark
    import sess.implicits._
    val cached = (1L to 10L).toDF("x").persist(StorageLevel.MEMORY_AND_DISK)
    val boom = udf((x: Long) => {
      if (x > 0) throw new IllegalStateException("boom"); x
    })
    intercept[Throwable] {
      graft.core.Caching.scoped(cached.select(boom(col("x"))), cached)
    }
    assert(cached.storageLevel == StorageLevel.NONE,
      "failure path must unpersist the scoped intermediate")
  }
}
