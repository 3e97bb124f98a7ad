package graft

import graft.core.Joins
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed range / interval-overlap joins (core.Joins): equivalence to the
  * naive inequality join on seeded data (including negative coordinates and
  * boundary points), exactly-once pair emission, the degenerate-span guard,
  * and the plan contract — an equi-join (sort-merge/hash), NEVER a
  * BroadcastNestedLoop or cartesian, which is the whole reason the bucketed
  * form exists at 100-TB scale.
  */
class RangeJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  // seeded, mixed-sign coordinates; intervals of width 0..40 (zero-width
  // ones must drop), points on and around every bucket boundary of width 16
  private def fixtures: (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(42)
    val ivals = (0 until 60).map { i =>
      val lo = rnd.nextInt(200) - 100L
      (i.toLong, s"k${i % 3}", lo, lo + rnd.nextInt(41).toLong)
    }.toDF("ival_id", "key", "lo", "hi")
    val pts = (0 until 200).map { i =>
      (i.toLong, s"k${i % 3}", rnd.nextInt(260) - 130L)
    }.toDF("pt_id", "key", "p")
    (pts, ivals)
  }

  private def naiveRange(pts: DataFrame, ivals: DataFrame): Set[(Long, Long)] =
    pts.as("a").crossJoin(ivals.as("b"))
      .filter(col("a.key") === col("b.key") &&
        col("p") >= col("lo") && col("p") < col("hi"))
      .select(col("pt_id"), col("ival_id"))
      .as[(Long, Long)].collect().toSet

  test("rangeJoin matches the naive inequality join (mixed signs, keys, boundaries)") {
    val (pts, ivals) = fixtures
    for (w <- Seq(1L, 7L, 16L, 1000L)) {
      val got = Joins.rangeJoin(pts, ivals, point = "p", lo = "lo", hi = "hi",
          keys = Seq("key"), bucketWidth = w)
        .select(col("pt_id"), col("ival_id")).as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, s"duplicate pairs at width $w")
      assert(got.toSet == naiveRange(pts, ivals), s"mismatch at width $w")
    }
  }

  test("rangeJoin half-open bounds: p == lo matches, p == hi does not") {
    val ivals = Seq((1L, 10L, 20L)).toDF("ival_id", "lo", "hi")
    val pts = Seq((1L, 9L), (2L, 10L), (3L, 19L), (4L, 20L)).toDF("pt_id", "p")
    val got = Joins.rangeJoin(pts, ivals, "p", "lo", "hi", bucketWidth = 16L)
      .select(col("pt_id")).as[Long].collect().toSet
    assert(got == Set(2L, 3L))
  }

  test("rangeJoin left join keeps unmatched points with null interval columns") {
    val ivals = Seq((1L, 0L, 10L)).toDF("ival_id", "lo", "hi")
    val pts = Seq((1L, 5L), (2L, 50L)).toDF("pt_id", "p")
    val got = Joins.rangeJoin(pts, ivals, "p", "lo", "hi", bucketWidth = 16L,
        joinType = "left")
      .select(col("pt_id"), col("ival_id")).as[(Long, Option[Long])]
      .collect().toMap
    assert(got == Map(1L -> Some(1L), 2L -> None))
  }

  test("rangeJoin raises loudly on an interval spanning more buckets than the guard") {
    val ivals = Seq((1L, 0L, 1000000L)).toDF("ival_id", "lo", "hi")
    val pts = Seq((1L, 5L)).toDF("pt_id", "p")
    val e = intercept[Exception] {
      Joins.rangeJoin(pts, ivals, "p", "lo", "hi", bucketWidth = 10L,
        maxBucketsPerInterval = 64).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("widen bucketWidth")), e.getMessage)
  }

  test("intervalOverlapJoin matches naive and emits each pair exactly once") {
    val (_, ivals) = fixtures
    val a = ivals.select(col("ival_id").as("a_id"), col("key"),
      col("lo").as("a_lo"), col("hi").as("a_hi"))
    val b = ivals.select(col("ival_id").as("b_id"), col("key").as("bkey"),
      col("lo").as("b_lo"), col("hi").as("b_hi"))
    // the two-term overlap test is only valid for NONEMPTY intervals — a
    // zero-width [x,x) is the empty set and intersects nothing, which the
    // bucketed join honors by dropping lo >= hi rows
    val naive = a.crossJoin(b)
      .filter(col("key") === col("bkey") && col("a_id") < col("b_id") &&
        col("a_lo") < col("a_hi") && col("b_lo") < col("b_hi") &&
        col("a_lo") < col("b_hi") && col("b_lo") < col("a_hi"))
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
    val b2 = ivals.select(col("ival_id").as("b_id"), col("key"),
      col("lo").as("b_lo"), col("hi").as("b_hi"))
    for (w <- Seq(1L, 16L, 1000L)) {
      val got = Joins.intervalOverlapJoin(a, b2,
          lLo = "a_lo", lHi = "a_hi", rLo = "b_lo", rHi = "b_hi",
          keys = Seq("key"), bucketWidth = w)
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id")).as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, s"duplicate pairs at width $w")
      assert(got.toSet == naive, s"mismatch at width $w")
    }
  }

  test("plan contract: bucketed joins plan as equi-joins, never nested-loop/cartesian") {
    val (pts, ivals) = fixtures
    val rj = Joins.rangeJoin(pts, ivals, "p", "lo", "hi",
      keys = Seq("key"), bucketWidth = 16L)
    val a = ivals.select(col("ival_id").as("a_id"), col("key"),
      col("lo").as("a_lo"), col("hi").as("a_hi"))
    val b = ivals.select(col("ival_id").as("b_id"), col("key"),
      col("lo").as("b_lo"), col("hi").as("b_hi"))
    val oj = Joins.intervalOverlapJoin(a, b, "a_lo", "a_hi", "b_lo", "b_hi",
      keys = Seq("key"), bucketWidth = 16L)
    for (df <- Seq(rj, oj)) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("SortMergeJoin") || p.contains("HashJoin"), p)
    }
  }
}
